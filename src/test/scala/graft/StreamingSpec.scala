package graft

import graft.catalog.MemoryCatalog
import graft.streaming.StreamingOps
import graft.types.{ILong, IString, NestedField, Schema}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Driver-side collector for the CDC-expiration restart test (foreachBatch
  * closures need a stable object; the memory sink can't recover from a
  * checkpoint so it can't exercise restarts). */
object CdcExpireProbe {
  val rows = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
}

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("asofEnrichStream drain equals the batch as-of join across batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long, Double)]
    val stream = mem.toDF().toDF("trade_id", "sym", "t", "qty")
    val quotes = Seq(("A", 8L, 100.0), ("A", 20L, 101.0), ("B", 10L, 200.0))
      .toDF("sym", "t", "px")
    val out = java.nio.file.Files.createTempDirectory("graft-asof-stream").toString
    // rows split across two micro-batches INSIDE a key's timeline — the
    // batch-invariance claim under test
    mem.addData((1L, "A", 10L, 5.0), (4L, "B", 12L, 8.0))
    val q1 = StreamingOps.asofEnrichStream(stream, quotes, "t", "t",
      Seq("sym"), s"$out/data", s"$out/ckpt")
    q1.awaitTermination()
    mem.addData((2L, "A", 25L, 6.0), (5L, "B", 9L, 9.0))
    val q2 = StreamingOps.asofEnrichStream(stream, quotes, "t", "t",
      Seq("sym"), s"$out/data", s"$out/ckpt")
    q2.awaitTermination()
    val drained = spark.read.parquet(s"$out/data")
    val batch = graft.ops.JoinOps.asofJoin(
      Seq((1L, "A", 10L, 5.0), (4L, "B", 12L, 8.0),
        (2L, "A", 25L, 6.0), (5L, "B", 9L, 9.0))
        .toDF("trade_id", "sym", "t", "qty"),
      quotes, "t", "t", Seq("sym"))
    assert(drained.count() == 4)
    assert(drained.exceptAll(batch).isEmpty && batch.exceptAll(drained).isEmpty,
      "streamed as-of enrichment must equal the batch join")
  }

  test("windowedCounts over a real stream with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val out = StreamingOps.windowedCounts(events, "ts", "event_type",
      windowLen = "1 hour", watermark = "5 minutes")
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    mem.addData((ts(10, 5), "click", 1.0), (ts(10, 40), "click", 2.0),
      (ts(11, 10), "view", 5.0))
    val q = out.writeStream.format("memory").queryName("win_counts")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("win_counts")
      .select("event_type", "n_events", "sum_value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
  }

  test("ohlcBars append mode: closed windows emit once, open windows stay in state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, java.lang.Double)]
    val events = mem.toDF().toDF("uid", "ts", "v")
    val bars = StreamingOps.ohlcBars(events, "ts", "uid", "v",
      windowLen = "1 hour", watermark = "5 minutes")
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // hour 10 closes (watermark reaches 11:10-5m > 11:00); hour 11 stays
    // open. The null-value row at 11:10 must advance the watermark even
    // though it joins no bar (the downsampleOhlc null rule).
    val q = bars.writeStream.format("memory").queryName("ohlc_append")
      .outputMode("append").start()
    mem.addData((1L, ts(10, 5), 3.0), (1L, ts(10, 40), 9.0),
      (1L, ts(10, 40), 1.0))
    q.processAllAvailable()
    // second batch: hour-11 rows advance the watermark past 11:00 (the
    // null-value row carries the max event time even though it joins no
    // bar — the downsampleOhlc null rule)
    mem.addData((1L, ts(11, 2), 7.0), (1L, ts(11, 10), null))
    q.processAllAvailable()
    // third batch runs WITH the advanced watermark and flushes the closed
    // hour-10 bar (emission lags the watermark advance by one batch)
    mem.addData((1L, ts(11, 20), java.lang.Double.valueOf(7.0)))
    q.processAllAvailable()
    val rows = spark.table("ohlc_append")
      .select("uid", "bucket", "open", "high", "low", "close", "n_obs")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6)))
    // ONLY the closed hour-10 bar emitted; duplicate-ts tie takes max v
    // for close (struct-max over (t, v))
    assert(rows.toSeq == Seq((1L, ts(10, 0), 3.0, 9.0, 1.0, 9.0, 3L)))
    // the scale claim: state holds only the OPEN window (hour 11), not
    // every window ever seen — Complete mode would hold both
    val state = q.lastProgress.stateOperators
    assert(state.nonEmpty && state.head.numRowsTotal == 1L,
      s"state should hold exactly the open window: ${state.map(_.numRowsTotal).mkString(",")}")
    q.stop()
  }

  test("intervalJoinStreams: dual MemoryStreams, in-window matches only, both buffers live") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val rMem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val clicks = lMem.toDF().toDF("click_id", "c_user", "c_ts")
    val buys = rMem.toDF().toDF("buy_id", "p_user", "p_ts")
    val joined = StreamingOps.intervalJoinStreams(
      clicks, "c_ts", "c_user", buys, "p_ts", "p_user", "1 hour")
    val q = joined.select("click_id", "buy_id")
      .writeStream.format("memory").queryName("ivj")
      .outputMode("append").start()
    // trigger 1: left rows only — anything matching later must come from
    // the left join buffer surviving the micro-batch boundary
    lMem.addData((1L, 7L, ts(10, 0)), (2L, 7L, ts(12, 0)), (3L, 8L, ts(10, 0)))
    q.processAllAvailable()
    assert(spark.table("ivj").isEmpty, "no right rows yet")
    // trigger 2: right rows probing the buffered left side
    rMem.addData(
      (90L, 9L, ts(10, 30)),  // wrong user
      (91L, 7L, ts(10, 30)),  // in click 1's window -> the one match
      (92L, 7L, ts(11, 30)),  // 90 min after click 1 (out), before click 2 (out)
      (93L, 8L, ts(9, 30)))   // BEFORE click 3: the interval is one-directional
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ivj").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 91L)),
      s"only the in-window same-user pair may match, got $got")
  }

  test("gapAlertStream: alert fires from state carried across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(d: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-01-0$d $h%02d:00:00")
    val ev = mem.toDF().toDF("uid", "ts")
    val alerts = StreamingOps.gapAlertStream(ev, "ts", "uid",
      minGapMicros = 3600L * 1000000L) // 1 hour
    val q = alerts.writeStream.format("memory").queryName("gaps")
      .outputMode("append").start()
    // batch 1: two observations 30 min apart — no gap
    mem.addData((7L, ts(1, 10)),
      (7L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00")))
    q.processAllAvailable()
    assert(spark.table("gaps").isEmpty)
    // batch 2: next observation 3h30m later — the alert must come from
    // the last-ts state surviving the batch boundary
    mem.addData((7L, ts(1, 14)), (8L, ts(1, 14))) // uid 8: first obs, no gap
    q.processAllAvailable()
    q.stop()
    val got = spark.table("gaps").collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    assert(got.toSeq == Seq((7L, 12600L * 1000000L)), // 3h30m in µs
      s"one carried-state alert expected, got ${got.toSeq}")
  }

  test("rollingStatsStream: window carried across micro-batches, eviction, duplicate-ts peers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val ev = mem.toDF().toDF("uid", "ts", "value")
    val feats = StreamingOps.rollingStatsStream(ev, "ts", "uid", "value",
      windowMicros = 3600L * 1000000L) // 1 hour
    val q = feats.toDF().writeStream.format("memory").queryName("roll")
      .outputMode("append").start()
    // batch 1: two observations 30 min apart
    mem.addData((7L, ts("10:00:00"), 2.0), (7L, ts("10:30:00"), 5.0))
    q.processAllAvailable()
    // batch 2: 11:00 still sees 10:00 (inclusive bound, carried state);
    // 12:30 peers see only each other (older evicted); uid isolation
    mem.addData((7L, ts("11:00:00"), 3.0),
      (7L, ts("12:30:00"), 7.0), (7L, ts("12:30:00"), 1.0),
      (8L, ts("11:00:00"), 9.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("roll")
      .orderBy("key", "ts", "value")
      .select("key", "roll_n", "roll_sum", "roll_min", "roll_max", "roll_avg")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      (7L, 1L, 2.0, 2.0, 2.0, 2.0),
      (7L, 2L, 7.0, 2.0, 5.0, 3.5),       // {2,5}
      (7L, 3L, 10.0, 2.0, 5.0, 3.333333), // {2,5,3} across the batch seam
      (7L, 2L, 8.0, 1.0, 7.0, 4.0),       // 12:30 peers: both see {7,1}
      (7L, 2L, 8.0, 1.0, 7.0, 4.0),
      (8L, 1L, 9.0, 9.0, 9.0, 9.0)))
  }

  test("decontaminateStream flags exactly the docs sharing a test n-gram") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val contaminated = "one two three four five six seven eight and tail"
    val clean = "alpha beta gamma delta epsilon zeta eta theta iota"
    val short = "too short"
    val test = Seq("prefix one two three four five six seven eight more")
      .toDF("text")
    val mem = MemoryStream[(Long, String)]
    val flagged = StreamingOps.decontaminateStream(
      mem.toDF().toDF("doc_id", "text"), "text", test, "text", n = 8)
    mem.addData((1L, contaminated), (2L, clean), (3L, short))
    val q = flagged.select("doc_id", "contaminated")
      .writeStream.format("memory").queryName("s52spec")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("s52spec").as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> false))
    // batch form must agree with ngramOverlap's contaminated-id set
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val toks = graft.ops.TextOps.tokens(col("text"))
    val suite = docs.where("doc_id % 5 = 0").select(
      concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 1, lit(1))))
        .as("text"))
    val probe = StreamingOps.decontaminateStream(docs, "text", suite, "text")
      .where(col("contaminated")).select("doc_id").as[Long].collect().toSet
    val joined = graft.ops.CorpusOps.ngramOverlap(docs, suite, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(probe == joined)
    // oversized suites fail loudly instead of silently truncating
    assertThrows[graft.InvalidDataError](
      StreamingOps.decontaminateStream(docs, "text", docs, "text",
        maxTestGrams = 10))
  }

  test("contaminationReportStream drains to the batch report row for row") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val toks = graft.ops.TextOps.tokens(col("text"))
    val suites = Seq(5, 7).map { m =>
      s"mod$m" -> docs.where(s"doc_id % $m = 0").select(
        concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 1, lit(1))))
          .as("text"))
    }
    // batch reference: the d116 operator on the same corpus + suites
    val want = graft.ops.CorpusOps
      .contaminationReport(docs, suites, "doc_id", "text", n = 8)
      .orderBy("suite")
      .as[(String, Long, Long, Double)].collect().toSeq
    // stream the corpus through in two micro-batches — per-suite counters
    // must fold across batches into the identical standing report
    val rows = docs.as[(Long, String)].collect()
    val (h1, h2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[(Long, String)]
    val report = StreamingOps.contaminationReportStream(
      mem.toDF().toDF("doc_id", "text"), "text", suites, "text", n = 8)
    // checkpointed restart: the second drain resumes offsets + state and
    // folds ONLY h2 into the standing counters — the cross-batch
    // additivity claim under test, not a from-scratch recompute
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-s74-ckpt").toString
    def drain(): Unit = {
      val q = report.writeStream.outputMode("complete")
        .format("memory").queryName("s74spec")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mem.addData(h1.toIndexedSeq)
    drain()
    mem.addData(h2.toIndexedSeq)
    drain()
    val got = spark.table("s74spec").orderBy("suite")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got == want, s"stream drain != batch report\n got:  $got\n want: $want")
    // a clean (zero-hit) suite still reports a zeros row
    val cleanSuite = Seq("qqq www zzz xxx yyy kkk jjj hhh ggg").toDF("text")
    val mem2 = MemoryStream[(Long, String)]
    val rep2 = StreamingOps.contaminationReportStream(
      mem2.toDF().toDF("doc_id", "text"), "text",
      Seq("clean" -> cleanSuite), "text", n = 8)
    mem2.addData(rows.take(10).toIndexedSeq)
    val q3 = rep2.writeStream.outputMode("complete")
      .format("memory").queryName("s74spec2")
      .trigger(Trigger.AvailableNow()).start()
    q3.awaitTermination()
    val clean = spark.table("s74spec2")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(clean == Seq(("clean", 0L, 0L, 0.0)), s"got $clean")
    // oversized suites fail loudly instead of silently truncating
    assertThrows[graft.InvalidDataError](
      StreamingOps.contaminationReportStream(docs, "text",
        Seq("big" -> docs.select(col("text"))), "text", maxTestGrams = 10))
    // duplicate suite names would double-count — both ops refuse
    assertThrows[IllegalArgumentException](
      StreamingOps.contaminationReportStream(docs, "text",
        Seq("a" -> cleanSuite, "a" -> cleanSuite), "text"))
    assertThrows[IllegalArgumentException](
      graft.ops.CorpusOps.contaminationReport(docs,
        Seq("a" -> cleanSuite, "a" -> cleanSuite), "doc_id", "text"))
  }

  test("broadcastSet eviction under a live stream: evicted broadcasts stay usable, restart rebuilds") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.GraftFunctions.broadcastSet
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val toks = graft.ops.TextOps.tokens(col("text"))
    val suites = Seq(5).map { m =>
      s"mod$m" -> docs.where(s"doc_id % $m = 0").select(
        concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 1, lit(1))))
          .as("text"))
    }
    val want = graft.ops.CorpusOps
      .contaminationReport(docs, suites, "doc_id", "text", n = 8)
      .orderBy("suite").as[(String, Long, Long, Double)].collect().toSeq
    val rows = docs.as[(Long, String)].collect()
    val (h1, h2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[(Long, String)]
    val report = StreamingOps.contaminationReportStream(
      mem.toDF().toDF("doc_id", "text"), "text", suites, "text", n = 8)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-bcevict-ckpt").toString
    def drain(): Unit = {
      val q = report.writeStream.outputMode("complete")
        .format("memory").queryName("bcevict")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mem.addData(h1.toIndexedSeq)
    drain()
    // hold the kind of reference an in-flight plan holds, then churn the
    // FIFO-16 digest cache PAST capacity so every standing slot (incl.
    // the suite gram sets the stream's plan references) is EVICTED —
    // the documented-but-untested corner (r16 verdict item 7). Eviction
    // must only drop the cache's reference: ContextCleaner reclaims a
    // broadcast when the LAST reference is GC'd, never under a live one.
    val held = broadcastSet(Array("evict", "me"))
    for (i <- 1 to 24) broadcastSet(Array(s"churn-$i"))
    System.gc(); Thread.sleep(300); System.gc()
    assert(held.value.contains(
        org.apache.spark.unsafe.types.UTF8String.fromString("evict")),
      "an evicted-but-referenced broadcast must stay readable")
    // the stream keeps folding correctly across the eviction: the second
    // drain resumes state and its rebuilt plan re-requests the (now
    // evicted) suite sets — a cache miss that must rebuild cleanly
    mem.addData(h2.toIndexedSeq)
    drain()
    val got = spark.table("bcevict").orderBy("suite")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got == want,
      s"drain across cache eviction != batch report\n got:  $got\n want: $want")
    // and the same content re-requested after eviction is a FRESH broadcast
    val again = broadcastSet(Array("evict", "me"))
    assert(again.id != held.id, "an evicted slot must rebuild, not resurrect")
  }

  test("sessionWindows closes sessions after the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val events = mem.toDF().toDF("ts", "user_id")
    val out = StreamingOps.sessionWindows(events, "ts", "user_id",
      gap = "10 minutes", watermark = "1 minute")
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // user 1: two events 5 min apart (one session), then one 40 min later
    mem.addData((ts(9, 0), 1L), (ts(9, 5), 1L), (ts(9, 45), 1L), (ts(9, 0), 2L))
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val byUser = spark.table("sessions").collect()
      .groupBy(_.getLong(2)).view.mapValues(_.length).toMap
    assert(byUser == Map(1L -> 2, 2L -> 1))
  }

  test("dedupStream: provenance across batches, state expires after retention") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val events = mem.toDF().toDF("ts", "event_id", "text")
    val out = StreamingOps.dedupStream(events, "ts", "event_id", "text",
      watermark = "1 minute", retentionMs = 10L * 60 * 1000) // 10 min retention
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()

    // batch 1: first occurrences + one in-batch duplicate (sorted by ts,id)
    mem.addData((ts(10, 0), 1L, "aaa"), (ts(10, 1), 2L, "bbb"), (ts(10, 2), 3L, "aaa"))
    q.processAllAvailable()
    // batch 2: cross-batch duplicate — state remembers first_id = 1
    mem.addData((ts(10, 3), 4L, "aaa"))
    q.processAllAvailable()
    def rows = spark.table("dedup_out")
      .select("id", "keep", "first_id", "dup_index").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows == Set(
      (1L, true, 1L, 0L), (2L, true, 2L, 0L), (3L, false, 1L, 1L),
      (4L, false, 1L, 2L)))

    // advance the watermark far past last-seen + retention: state expires,
    // so "aaa" arriving later is a fresh first occurrence, not a duplicate
    mem.addData((ts(12, 0), 50L, "ccc")) // watermark -> 11:59
    q.processAllAvailable()
    mem.addData((ts(12, 1), 51L, "aaa"))
    q.processAllAvailable()
    q.stop()
    val later = spark.table("dedup_out").where("id = 51")
      .select("keep", "dup_index").collect().map(r => (r.getBoolean(0), r.getLong(1)))
    assert(later.toSeq == Seq((true, 0L)), "expired hash must dedup as fresh")
  }

  test("writeStream format(graft): native sink appends; merge-keys upserts") {
    import spark.implicits._
    import graft.types.{ILong, IString, NestedField, Schema}
    implicit val sqlCtx = spark.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val cp1 = java.nio.file.Files.createTempDirectory("graft-sink-cp1").toString
    val cat = new graft.catalog.HadoopCatalog(wh)
    cat.createTable("default.sunk", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "k", IString, required = false))))

    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("id", "k").writeStream.format("graft")
      .option("warehouse", wh).option("table", "default.sunk")
      .option("checkpointLocation", cp1).start()
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val tbl = cat.loadTable("default.sunk")
    assert(tbl.toDF(spark).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // each micro-batch was one commit with replay bookkeeping
    assert(tbl.snapshots.flatMap(_.summary.get("streaming-batch-id")).nonEmpty)

    // merge-keys: upsert semantics, last batch wins per key
    val cp2 = java.nio.file.Files.createTempDirectory("graft-sink-cp2").toString
    val mem2 = MemoryStream[(Long, String)]
    val q2 = mem2.toDF().toDF("id", "k").writeStream.format("graft")
      .option("warehouse", wh).option("table", "default.sunk")
      .option("merge-keys", "id")
      .option("checkpointLocation", cp2).start()
    try {
      mem2.addData((2L, "B2"), (9L, "z"))
      q2.processAllAvailable()
    } finally q2.stop()
    val rows = cat.loadTable("default.sunk").toDF(spark).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows == Map(1L -> "a", 2L -> "B2", 3L -> "c", 9L -> "z"))

    // a path names a table with no catalog to commit an epoch through
    val mem3 = MemoryStream[(Long, String)]
    val q3 = mem3.toDF().toDF("id", "k").writeStream.format("graft")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("graft-sink-cp3").toString)
      .start(s"$wh/default/sunk")
    val ex = try {
      mem3.addData((4L, "d"))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](q3.processAllAvailable())
    } finally q3.stop()
    assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[UnsupportedFeatureError]), ex)
  }

  test("streaming ingestion: writeStream appends micro-batches as commits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cat = new MemoryCatalog()
    val schema = Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "v", IString, required = false)))
    val tbl = cat.createTable("sink_t", schema)
    val mem = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    mem.addData((1L, "a"), (2L, "b"))
    val q = StreamingOps.appendStream(mem.toDF().toDF("id", "v"), tbl, ckpt)
    q.processAllAvailable()
    mem.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    assert(tbl.refresh().toDF(spark).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(StreamingOps.lastCommittedBatchId(tbl).contains(1L))
    assert(tbl.snapshots.forall(_.summary.contains("streaming-batch-id")))
    // the replay scope is the query id Spark persists in the checkpoint,
    // known only inside the stream
    assert(tbl.snapshots.flatMap(_.summary.get("streaming-query-id")).toSet ==
      Set(q.id.toString))
    intercept[UnsupportedFeatureError] { StreamingOps.queryScope(spark) }
  }

  test("streaming range alert: drain equals batch rangeSearch across batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = (0L until 20L).map(i =>
      (i, Seq(math.cos(i * 0.2).toFloat, math.sin(i * 0.2).toFloat)))
    val queries = all.take(2).toDF("vec_id", "embedding")
    val mem = MemoryStream[(Long, Seq[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val alerts = graft.ops.SimilarityOps.rangeSearch(stream, "vec_id", "embedding",
      queries, "vec_id", "embedding", threshold = 0.8)
    val q = alerts.writeStream.format("memory").queryName("range_alerts").start()
    try {
      mem.addData(all.take(10): _*)
      q.processAllAvailable()
      mem.addData(all.drop(10): _*)
      q.processAllAvailable()
    } finally q.stop()
    val drained = spark.table("range_alerts")
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val batch = graft.ops.SimilarityOps.rangeSearch(
        all.toDF("vec_id", "embedding"), "vec_id", "embedding",
        queries, "vec_id", "embedding", threshold = 0.8)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    assert(drained == batch && drained.nonEmpty)
    // per-row semantics: self-matches at cosine 1 and only
    // angle-near vectors alert
    assert(drained.contains((0L, 0L)) && drained.contains((1L, 1L)))
  }

  test("ivfIndexStream: streamed deltas keep the index equal to a full re-assignment") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // deterministic 4-dim vectors; first 30 are the indexed base corpus,
    // the last 10 arrive as two streamed micro-batches
    val all = (0L until 40L).map(i =>
      (i, Seq(i.toFloat, (i % 3).toFloat, ((i * 7) % 5).toFloat, 1f)))
    // cast normalizes the encoder's non-null element type: the table's
    // parquet read path always yields nullable elements (the
    // buildIvfIndex centroids-cast argument)
    val baseDf = all.take(30).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val (centroids, baseAssign) =
      graft.ops.SimilarityOps.buildIvfIndex(baseDf, "vec_id", "embedding", nlist = 4)
    val cat = new MemoryCatalog()
    val cTbl = cat.createTable("ivf_cent",
      graft.types.SparkSchemaConverter.fromSpark(centroids.schema))
    cTbl.append(centroids)
    val aTbl = cat.createTable("ivf_assign",
      graft.types.SparkSchemaConverter.fromSpark(baseAssign.schema))
    aTbl.append(baseAssign)
    val mem = MemoryStream[(Long, Seq[Float])]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivf-ckpt").toString
    val q = StreamingOps.ivfIndexStream(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cTbl.toDF(spark), aTbl, ckpt)
    try {
      mem.addData(all.slice(30, 35): _*)
      q.processAllAvailable()
      mem.addData(all.slice(35, 40): _*)
      q.processAllAvailable()
    } finally q.stop()
    // the streamed index equals a from-scratch assignment of the grown
    // corpus under the same (persisted) centroids — no staleness drift
    val incr = aTbl.refresh().toDF(spark).select($"vec_id", $"cell")
      .as[(Long, Int)].collect().toSet
    val full = graft.ops.SimilarityOps.assignToIndex(
        all.toDF("vec_id", "embedding"), "vec_id", "embedding", cTbl.toDF(spark))
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toSet
    assert(incr == full && incr.size == 40)
    // each micro-batch was one atomic commit with its batch id recorded
    assert(StreamingOps.lastCommittedBatchId(aTbl).contains(1L))
  }

  test("bm25IndexStream: streamed deltas keep the lexical index equal to a rebuild") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Seq((1L, "apple banana cherry apple"),
      (2L, "banana banana banana")).toDF("doc_id", "text")
    val d1 = Seq((3L, "apple zebra"))
    val d2 = Seq((4L, "zebra quagga okapi"), (5L, "date fig"))
    val (bPost, bStats) = graft.ops.CorpusOps.bm25Index(base, "doc_id", "text")
    val cat = new MemoryCatalog()
    val pTbl = cat.createTable("bm25_post",
      graft.types.SparkSchemaConverter.fromSpark(bPost.schema))
    pTbl.append(bPost)
    val sTbl = cat.createTable("bm25_stats",
      graft.types.SparkSchemaConverter.fromSpark(bStats.schema))
    sTbl.append(bStats)
    val mem = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bm25-ckpt").toString
    val q = StreamingOps.bm25IndexStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", pTbl, sTbl, ckpt)
    try {
      mem.addData(d1: _*)
      q.processAllAvailable()
      mem.addData(d2: _*)
      q.processAllAvailable()
    } finally q.stop()
    // the maintained index equals a from-scratch rebuild over everything
    // ingested: postings row set AND the exact stats row
    val full = base.unionByName((d1 ++ d2).toDF("doc_id", "text"))
    val (fPost, fStats) = graft.ops.CorpusOps.bm25Index(full, "doc_id", "text")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("term"),
        r.getAs[Long]("tf"), r.getAs[Long]("dl"))
    assert(pTbl.refresh().toDF(spark).collect().map(key).toSet ==
      fPost.collect().map(key).toSet)
    assert(sTbl.refresh().toDF(spark).collect().toSeq == fStats.collect().toSeq)
    // BOTH tables carry the replay stamp of the last micro-batch — the
    // per-table exactly-once contract the two-commit fold relies on
    assert(StreamingOps.lastCommittedBatchId(pTbl).contains(1L))
    assert(StreamingOps.lastCommittedBatchId(sTbl).contains(1L))
  }

  test("streaming WAP: micro-batches stage on a branch until fastForward") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cat = new MemoryCatalog()
    val schema = Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "v", IString, required = false)))
    val tbl = cat.createTable("sink_wap", schema)
    val mem = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-wap-ckpt").toString
    mem.addData((1L, "a"), (2L, "b"))
    val q = StreamingOps.appendStream(mem.toDF().toDF("id", "v"), tbl, ckpt,
      branch = "staging")
    q.processAllAvailable()
    mem.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    tbl.refresh()
    assert(tbl.toDF(spark).count() == 0) // nothing published yet
    assert(tbl.scanRef("staging").toDF(spark).count() == 3)
    tbl.fastForward("main", "staging")
    assert(tbl.toDF(spark).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("readStream format(graft): commits arrive as micro-batches, exactly once") {
    import spark.implicits._
    import graft.types.{ILong, IString, NestedField, Schema}
    val wh = java.nio.file.Files.createTempDirectory("graft-src").toString
    val cat = new graft.catalog.HadoopCatalog(wh)
    val tbl = cat.createTable("default.src", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "k", IString, required = false))))
    tbl.append(Seq((1L, "a")).toDF("id", "k"))

    val stream = spark.readStream.format("graft").load(s"$wh/default/src")
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("graft_src")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def ids = spark.table("graft_src").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L))
      tbl.append(Seq((2L, "b"), (3L, "c")).toDF("id", "k"))
      q.processAllAvailable()
      assert(ids == Seq(1L, 2L, 3L), "new commit must arrive as one batch")
      q.processAllAvailable()
      assert(ids == Seq(1L, 2L, 3L), "no re-delivery without new commits")
    } finally q.stop()
  }

  test("readStream format(graft): read-changes streams row-level CDC for every commit shape") {
    import spark.implicits._
    import graft.types.{ILong, IString, NestedField, Schema}
    val wh = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    val cat = new graft.catalog.HadoopCatalog(wh)
    val tbl = cat.createTable("default.cdc", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "k", IString, required = false))))
    tbl.append(Seq((1L, "a"), (2L, "b")).toDF("id", "k"))

    val q = spark.readStream.format("graft").option("read-changes", "true")
      .load(s"$wh/default/cdc")
      .writeStream.format("memory").queryName("graft_cdc").outputMode("append").start()
    try {
      q.processAllAvailable()
      def changes = spark.table("graft_cdc")
        .select("id", "k", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(changes.toSet == Set((1L, "a", "insert"), (2L, "b", "insert")))
      // a COW delete is NOT an error in CDC mode — it is a delete record
      tbl.delete(spark, Seq(graft.table.EqPred("id", 1L)))
      tbl.refresh().upsert(spark, Seq((2L, "B2")).toDF("id", "k"), Seq("id"))
      q.processAllAvailable()
      val byType = changes.groupBy(_._3).view.mapValues(_.toSet).toMap
      assert(byType("delete").contains((1L, "a", "delete")))
      assert(byType("delete").contains((2L, "b", "delete")), "upsert deletes the old image")
      assert(byType("insert").contains((2L, "B2", "insert")))
    } finally q.stop()
  }

  test("readStream format(graft): a column renamed mid-stream keeps its data (field-id read)") {
    import spark.implicits._
    import graft.types.{ILong, IString, NestedField, Schema}
    val wh = java.nio.file.Files.createTempDirectory("graft-src4").toString
    val cat = new graft.catalog.HadoopCatalog(wh)
    val tbl = cat.createTable("default.ren", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "k", IString, required = false))))
    tbl.append(Seq((1L, "old-file")).toDF("id", "k"))
    // rename k -> kk, then append a post-rename commit
    tbl.updateSchema().renameColumn("k", "kk").commit()
    tbl.refresh().append(Seq((2L, "new-file")).toDF("id", "kk"))

    // the stream starts AFTER the rename: schema is (id, kk); the
    // pre-rename file must still yield its value via field-id projection
    val q = spark.readStream.format("graft").load(s"$wh/default/ren")
      .writeStream.format("memory").queryName("graft_ren").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("graft_ren").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows == Set((1L, "old-file"), (2L, "new-file")),
        s"renamed column must not read as null, got $rows")
    } finally q.stop()
  }

  test("readStream format(graft): max-snapshots-per-trigger bounds catch-up batches") {
    import spark.implicits._
    import graft.types.{ILong, NestedField, Schema}
    val wh = java.nio.file.Files.createTempDirectory("graft-src3").toString
    val cat = new graft.catalog.HadoopCatalog(wh)
    val tbl = cat.createTable("default.rl", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false))))
    for (i <- 1 to 3) tbl.append(Seq(i.toLong).toDF("id"))

    val q = spark.readStream.format("graft")
      .option("max-snapshots-per-trigger", "1")
      .load(s"$wh/default/rl")
      .writeStream.format("memory").queryName("graft_rl").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_rl").collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(1L, 2L, 3L))
      // the 3-commit backlog arrived as (at least) 3 one-commit batches
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 3, s"expected >=3 rate-limited batches, got $dataBatches")
    } finally q.stop()
  }

  test("readStream format(graft): non-append commits fail loudly; skip mode streams appends only") {
    import spark.implicits._
    import graft.types.{ILong, NestedField, Schema}
    val wh = java.nio.file.Files.createTempDirectory("graft-src2").toString
    val cat = new graft.catalog.HadoopCatalog(wh)
    val tbl = cat.createTable("default.m", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false))))
    tbl.append(Seq(1L).toDF("id"))
    tbl.delete(spark, Seq(graft.table.EqPred("id", 1L))) // COW rewrite commit
    tbl.append(Seq(2L).toDF("id"))

    // default: the rewrite commit is a hard error pointing at CDC
    val strict = spark.readStream.format("graft").load(s"$wh/default/m")
      .writeStream.format("memory").queryName("graft_strict").outputMode("append").start()
    val e = intercept[Exception] { strict.processAllAvailable() }
    assert(e.getMessage.contains("non-append") ||
      Option(e.getCause).exists(_.getMessage.contains("non-append")), e.getMessage)
    strict.stop()

    // skip mode: appended rows only (the delete's row-level effect is CDC's job)
    val q = spark.readStream.format("graft").option("skip-non-appends", "true")
      .load(s"$wh/default/m")
      .writeStream.format("memory").queryName("graft_skip").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_skip").collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(1L, 2L))
    } finally q.stop()
  }

  test("table commits consumed as micro-batches via snapshot offsets") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val schema = Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "v", IString, required = false)))
    val tbl = cat.createTable("events_t", schema)
    tbl.append(Seq(1L -> "a", 2L -> "b").toDF("id", "v"))
    val s1 = tbl.currentSnapshotId.get
    tbl.append(Seq(3L -> "c").toDF("id", "v"))
    tbl.append(Seq(4L -> "d", 5L -> "e").toDF("id", "v"))

    assert(StreamingOps.newSnapshotsSince(tbl, None).size == 3)
    assert(StreamingOps.newSnapshotsSince(tbl, Some(s1)).size == 2)

    // incremental diff after snapshot 1 sees exactly rows 3..5
    val diff = StreamingOps.incrementalDiff(spark, tbl, Some(s1))
    assert(diff.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 5L))

    // full drive from the beginning: 3 batches, in commit order, no overlap
    var batches = Vector.empty[(Long, Seq[Long])]
    val last = StreamingOps.processAvailableCommits(spark, tbl, None) { (df, sid) =>
      batches :+= (sid, df.select("id").collect().map(_.getLong(0)).sorted.toSeq)
    }
    assert(batches.map(_._2) == Vector(Seq(1L, 2L), Seq(3L), Seq(4L, 5L)))
    assert(last == tbl.currentSnapshotId)
    // checkpoint-resume: nothing new after the last offset
    assert(StreamingOps.processAvailableCommits(spark, tbl, last)((_, _) => fail()) == last)
  }

  test("readStream format(graft): branch-staged WAP commits never leak into the stream") {
    import spark.implicits._
    import graft.types.{ILong, NestedField, Schema}
    val wh = java.nio.file.Files.createTempDirectory("graft-wap-leak").toString
    val cat = new graft.catalog.HadoopCatalog(wh)
    val tbl = cat.createTable("default.wapsrc", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false))))
    tbl.append(Seq(1L).toDF("id"))
    val q = spark.readStream.format("graft").load(s"$wh/default/wapsrc")
      .writeStream.format("memory").queryName("graft_wap_leak").outputMode("append").start()
    try {
      q.processAllAvailable()
      def ids = spark.table("graft_wap_leak").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L))
      // stage a commit on a branch, then publish one on main: the staged
      // commit's sequence number falls INSIDE the consumed range — a
      // seq-range filter over all snapshots would stream the unpublished 99
      tbl.refresh().appendToBranch("audit", Seq(99L).toDF("id"))
      tbl.refresh().append(Seq(2L).toDF("id"))
      q.processAllAvailable()
      assert(ids == Seq(1L, 2L),
        s"branch-staged rows must not stream before publish, got $ids")
    } finally q.stop()

    // publish path: a staged commit arrives only once main fast-forwards
    val tbl2 = cat.createTable("default.wapsrc2", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false))))
    tbl2.append(Seq(10L).toDF("id"))
    val q2 = spark.readStream.format("graft").load(s"$wh/default/wapsrc2")
      .writeStream.format("memory").queryName("graft_wap_pub").outputMode("append").start()
    try {
      q2.processAllAvailable()
      def ids2 = spark.table("graft_wap_pub").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids2 == Seq(10L))
      tbl2.refresh().appendToBranch("audit", Seq(99L).toDF("id"))
      q2.processAllAvailable()
      assert(ids2 == Seq(10L), "staged-only commit must not advance the offset")
      tbl2.refresh().fastForward("main", "audit")
      q2.processAllAvailable()
      assert(ids2 == Seq(10L, 99L), "published rows must arrive after fastForward")
    } finally q2.stop()
  }

  test("changesBetween / incrementalDiff / newSnapshotsSince walk main ancestry, not staged branches") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val schema = Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "v", IString, required = false)))
    val tbl = cat.createTable("cdc_wap", schema)
    tbl.append(Seq(1L -> "a").toDF("id", "v"))
    val s1 = tbl.currentSnapshotId.get
    tbl.appendToBranch("wap", Seq(99L -> "z").toDF("id", "v"))
    tbl.append(Seq(2L -> "b").toDF("id", "v"))
    val s3 = tbl.currentSnapshotId.get

    assert(StreamingOps.newSnapshotsSince(tbl, None) == Seq(s1, s3))
    val changed = StreamingOps.changesBetween(spark, tbl, None)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(changed == Set((1L, "insert"), (2L, "insert")),
      s"staged branch rows must not appear as changes, got $changed")
    val diff = StreamingOps.incrementalDiff(spark, tbl, None)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(diff == Seq(1L, 2L))
  }

  test("CDC resume after snapshot expiration fails loudly instead of replaying the table") {
    import spark.implicits._
    import graft.types.{ILong, NestedField, Schema}
    val wh = java.nio.file.Files.createTempDirectory("graft-cdc-exp").toString
    val cp = java.nio.file.Files.createTempDirectory("graft-cdc-exp-cp").toString
    val cat = new graft.catalog.HadoopCatalog(wh)
    val tbl = cat.createTable("default.cdcexp", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false))))
    tbl.append(Seq(1L).toDF("id"))
    // foreachBatch (not the memory sink, which refuses checkpoint recovery)
    CdcExpireProbe.rows.clear()
    def startQuery() = spark.readStream.format("graft")
      .option("read-changes", "true").load(s"$wh/default/cdcexp")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("id").collect().foreach(r => CdcExpireProbe.rows.add(r.getLong(0)))
      }.option("checkpointLocation", cp).start()
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(CdcExpireProbe.rows.size == 1)

    // routine maintenance outruns the consumer: the checkpointed offset's
    // snapshot is expired away
    tbl.refresh().append(Seq(2L).toDF("id"))
    tbl.refresh().append(Seq(3L).toDF("id"))
    tbl.refresh().expireSnapshots(System.currentTimeMillis() + 60000, retainLast = 1)

    val q2 = startQuery()
    val e = intercept[Exception] {
      q2.processAllAvailable()
      q2.awaitTermination(30000)
    }
    q2.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("expired")),
      s"restart past an expired offset must fail loudly, got: ${messages(e)}")
    // and crucially: nothing was silently replayed into the sink
    assert(CdcExpireProbe.rows.size == 1,
      "an unresumable checkpoint must deliver NOTHING, not a full-table replay")
  }

  test("restart mid-catch-up resumes from the checkpointed offset with the trigger cap re-applied") {
    import spark.implicits._
    import graft.types.{ILong, NestedField, Schema}
    val wh = java.nio.file.Files.createTempDirectory("graft-rl-restart").toString
    val cp = java.nio.file.Files.createTempDirectory("graft-rl-restart-cp").toString
    val cat = new graft.catalog.HadoopCatalog(wh)
    val tbl = cat.createTable("default.rl2", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false))))
    cat.createTable("default.rl2out", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false))))
    for (i <- 1 to 3) tbl.append(Seq(i.toLong).toDF("id"))

    // graft source -> graft sink (the memory sink refuses checkpoint recovery)
    def startQuery() = spark.readStream.format("graft")
      .option("max-snapshots-per-trigger", "1").load(s"$wh/default/rl2")
      .writeStream.format("graft")
      .option("warehouse", wh).option("table", "default.rl2out")
      .option("checkpointLocation", cp).start()
    val q1 = startQuery()
    try {
      q1.processAllAvailable()
      assert(cat.loadTable("default.rl2out").toDF(spark).collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    } finally q1.stop()

    // a 3-commit backlog accumulates while the query is down
    for (i <- 4 to 6) tbl.refresh().append(Seq(i.toLong).toDF("id"))
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      // resumes AFTER the checkpointed offset (re-delivering 1..3 would show
      // up as duplicate rows here), and the backlog still arrives one
      // commit per trigger
      assert(cat.loadTable("default.rl2out").toDF(spark).collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
      val dataBatches = q2.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 3, s"cap must survive restart, got $dataBatches batches")
    } finally q2.stop()
  }

  test("incremental planning is O(commit): consuming 3 commits never opens older manifests") {
    import spark.implicits._
    import graft.manifest.Manifests
    import org.apache.hadoop.fs.Path
    val cat = new MemoryCatalog()
    val schema = Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "v", IString, required = false)))
    val tbl = cat.createTable("ocommit_t", schema)
    for (i <- 1 to 12) tbl.append(Seq(i.toLong -> s"v$i").toDF("id", "v"))
    val snaps = StreamingOps.newSnapshotsSince(tbl, None)
    val from = snaps(8) // consume the last 3 commits: 10, 11, 12
    val lastThree = snaps.takeRight(3).toSet

    // cross-check: the manifest-keyed added set IS the two-snapshot diff
    for (sid <- lastThree) {
      val s = tbl.snapshotById(sid).get
      val added = tbl.scan(Some(sid)).addedFiles().map(_.filePath).toSet
      val parent = s.parentSnapshotId
        .map(p => tbl.scan(Some(p)).planFiles().map(_.filePath).toSet)
        .getOrElse(Set.empty[String])
      val full = tbl.scan(Some(sid)).planFiles().map(_.filePath).toSet
      assert(added == full -- parent, s"addedFiles mismatch for snapshot $sid")
    }

    // now make every OLDER commit's manifest unreadable: O(table) planning
    // (a planFiles walk of any snapshot) becomes impossible, so the
    // consumption below succeeds ONLY if it reads just the 3 commits' own
    // manifests
    val head = tbl.currentSnapshot.get
    val fs = new Path(head.manifestList)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Manifests.readManifestList(fs, new Path(head.manifestList))
      .filterNot(mf => lastThree.contains(mf.addedSnapshotId))
      .foreach(mf => fs.delete(new Path(mf.manifestPath), false))
    intercept[Exception] { tbl.scan().planFiles() } // deletion took effect

    val diff = StreamingOps.incrementalDiff(spark, tbl, Some(from))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(diff == Seq(10L, 11L, 12L))
    val changes = StreamingOps.changesBetween(spark, tbl, Some(from))
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(changes == Set((10L, "insert"), (11L, "insert"), (12L, "insert")))
  }

  test("CDC non-append diff on a >64-manifest table plans through the distributed branch") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val tbl = cat.createTable("cdc_dist", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "v", IString, required = false))))
    // 65 append commits -> 65 data manifests: past the distributed-plan
    // threshold, so the non-append diff below exercises the Spark-job
    // planning path end to end (not the driver-parallel fallback)
    for (i <- 1 to 65) tbl.append(Seq(i.toLong -> s"v$i").toDF("id", "v"))
    assert(tbl.currentSnapshot.isDefined)
    val beforeDelete = tbl.currentSnapshot.get.snapshotId
    tbl.delete(spark, Seq(graft.table.EqPred("id", 7L)))
    val changes = StreamingOps.changesBetween(spark, tbl, Some(beforeDelete))
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(changes == Set((7L, "delete")),
      s"distributed-planned diff must still be row-exact, got $changes")
  }

  test("changesBetween plans append-only ranges map-only: no Except, no old-side scan") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val tbl = cat.createTable("co_plan", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false))))
    tbl.append(Seq(1L).toDF("id"))
    tbl.append(Seq(2L).toDF("id"))
    tbl.append(Seq(3L).toDF("id"))
    val snaps = StreamingOps.newSnapshotsSince(tbl, None)
    val df = StreamingOps.changesBetween(spark, tbl, Some(snaps.head))
    // the analyzed plan (exceptAll is rewritten away by the optimizer, so
    // the optimized plan could never contain it; the analyzed one does)
    val plan = df.queryExecution.analyzed
    val hasExcept = plan.collectWithSubqueries {
      case e: org.apache.spark.sql.catalyst.plans.logical.Except => e
    }.nonEmpty
    assert(!hasExcept,
      s"append-only CDC must not pay an exceptAll shuffle, plan:\n$plan")
    assert(df.select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((2L, "insert"), (3L, "insert")))
  }

  test("graft sink: a wiped checkpoint path gets a fresh replay scope; checkpointLocation is required") {
    import spark.implicits._
    import graft.types.{ILong, NestedField, Schema}
    implicit val sqlCtx = spark.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("graft-sink-scope").toString
    val cp = java.nio.file.Files.createTempDirectory("graft-sink-scope-cp").toString
    val cat = new graft.catalog.HadoopCatalog(wh)
    cat.createTable("default.scoped", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false))))

    val mem1 = MemoryStream[Long]
    val q1 = mem1.toDF().toDF("id").writeStream.format("graft")
      .option("warehouse", wh).option("table", "default.scoped")
      .option("checkpointLocation", cp).start()
    try { mem1.addData(1L, 2L); q1.processAllAvailable() } finally q1.stop()

    // wipe the checkpoint: a NEW query reuses the same path and restarts
    // batch ids at 0 — scoping by path would drop its first batches as
    // "already committed"; scoping by the persisted query id must not
    val cpPath = new org.apache.hadoop.fs.Path(cp)
    cpPath.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(cpPath, true)
    val mem2 = MemoryStream[Long]
    val q2 = mem2.toDF().toDF("id").writeStream.format("graft")
      .option("warehouse", wh).option("table", "default.scoped")
      .option("checkpointLocation", cp).start()
    try { mem2.addData(3L); q2.processAllAvailable() } finally q2.stop()
    assert(cat.loadTable("default.scoped").toDF(spark).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L),
      "fresh query on a reused checkpoint path must not lose batches")

    // no checkpointLocation = no stable query identity to scope replay by:
    // Spark refuses to start the stream
    intercept[org.apache.spark.sql.AnalysisException] {
      MemoryStream[Long].toDF().toDF("id").writeStream.format("graft")
        .option("warehouse", wh).option("table", "default.scoped").start()
    }
  }

  test("changesBetween diffs MAP columns across copy-on-write rewrites; a nested map fails loudly") {
    import spark.implicits._
    import graft.types.{IMap, IStruct}
    val cat = new MemoryCatalog()
    val tbl = cat.createTable("cdc_map", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "m", IMap(3, IString, 4, ILong, valueRequired = false), required = false))))
    tbl.append(Seq[(Long, Map[String, Long])](
      (1L, Map("a" -> 1L, "b" -> 2L)), (2L, Map("c" -> 3L)), (3L, null)).toDF("id", "m"))
    def changesSince(from: Long): Set[(Long, Option[Map[String, Long]], String)] =
      StreamingOps.changesBetween(spark, tbl.refresh(), Some(from))
        .select("id", "m", "_change_type").collect()
        .map(r => (r.getLong(0), Option(r.getMap[String, Long](1)).map(_.toMap), r.getString(2)))
        .toSet
    val s1 = tbl.currentSnapshotId.get
    tbl.delete(spark, Seq(graft.table.EqPred("id", 1L)))
    assert(changesSince(s1) == Set((1L, Some(Map("a" -> 1L, "b" -> 2L)), "delete")))
    val s2 = tbl.refresh().currentSnapshotId.get
    tbl.overwriteWhere(spark, Seq(graft.table.EqPred("id", 2L)),
      Seq[(Long, Map[String, Long])]((2L, Map("d" -> 5L, "c" -> 4L))).toDF("id", "m"))
    assert(changesSince(s2) == Set(
      (2L, Some(Map("c" -> 3L)), "delete"), (2L, Some(Map("c" -> 4L, "d" -> 5L)), "insert")))

    val nested = cat.createTable("cdc_nested_map", Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "s", IStruct(Seq(NestedField(3, "m",
        IMap(4, IString, 5, ILong, valueRequired = false), required = false))), required = false))))
    nested.append(spark.sql("SELECT 1L AS id, named_struct('m', map('a', 1L)) AS s"))
    val n1 = nested.currentSnapshotId.get
    nested.delete(spark, Seq(graft.table.EqPred("id", 1L)))
    val ex = intercept[UnsupportedFeatureError] {
      StreamingOps.changesBetween(spark, nested.refresh(), Some(n1))
    }
    assert(ex.getMessage.contains("column s"))
  }

  test("changesBetween: row-level CDC across append, upsert, MOR delete, compaction") {
    import spark.implicits._
    import graft.table.EqPred
    val cat = new MemoryCatalog()
    val schema = Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "v", IString, required = false)))
    val tbl = cat.createTable("cdc_t", schema,
      properties = Map("write.delete.mode" -> "merge-on-read"))

    tbl.append(Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("id", "v")) // snap 1
    val s1 = tbl.currentSnapshotId.get
    tbl.upsert(spark, Seq(2L -> "B2", 4L -> "d").toDF("id", "v"), Seq("id")) // snap 2
    tbl.delete(spark, Seq(EqPred("id", 1L))) // snap 3: MOR position delete
    tbl.rewriteManifests() // snap 4: metadata-only → no changes
    tbl.compact(spark) // snap 5: row-preserving rewrite → empty diff

    def changes(from: Option[Long]) =
      StreamingOps.changesBetween(spark, tbl, from)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSet

    // full history: 3 inserts, then (delete old 2=b + insert B2 + insert d),
    // then delete of 1=a; nothing from rewrite/compact
    val sids = tbl.snapshots.sortBy(_.sequenceNumber).map(_.snapshotId)
    assert(changes(None) == Set(
      (1L, "a", "insert", sids(0)), (2L, "b", "insert", sids(0)), (3L, "c", "insert", sids(0)),
      (2L, "b", "delete", sids(1)), (2L, "B2", "insert", sids(1)), (4L, "d", "insert", sids(1)),
      (1L, "a", "delete", sids(2))))
    // incremental: only the commits after snap 1
    assert(changes(Some(s1)) == Set(
      (2L, "b", "delete", sids(1)), (2L, "B2", "insert", sids(1)), (4L, "d", "insert", sids(1)),
      (1L, "a", "delete", sids(2))))
    // replaying the changes reconstructs the live view
    assert(tbl.toDF(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toSet ==
      Set(2L -> "B2", 3L -> "c", 4L -> "d"))

    // per-commit CDC drive: same rows, sliced by commit, in order
    var seen = Vector.empty[(Long, Set[(Long, String, String)])]
    val last = StreamingOps.processAvailableChanges(spark, tbl, None) { (df, sid) =>
      seen :+= (sid, df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet)
    }
    assert(last == tbl.currentSnapshotId)
    assert(seen.map(_._1) == sids.toVector)
    assert(seen.flatMap(_._2).toSet == changes(None).map(c => (c._1, c._2, c._3)))
    assert(seen.toMap.apply(sids(3)).isEmpty && seen.toMap.apply(sids(4)).isEmpty)
  }

  test("replicateChanges mirrors DML commits and resumes from a checkpoint") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val schema = Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "k", IString, required = false)))
    val src = cat.createTable("repl_src", schema)
    val tgt = cat.createTable("repl_tgt", schema)
    def mirror() = tgt.refresh().toDF(spark).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet
    def live() = src.refresh().toDF(spark).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet

    src.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "k"))
    src.upsert(spark, Seq((2L, "B2"), (4L, "d")).toDF("id", "k"), Seq("id"))
    src.delete(spark, Seq(graft.table.EqPred("id", 1L)))
    val ckpt = StreamingOps.replicateChanges(spark, src, tgt, Seq("id"))
    assert(ckpt == src.currentSnapshotId)
    assert(mirror() == live() && mirror() == Set(2L -> "B2", 3L -> "c", 4L -> "d"))

    // resume from the checkpoint: only the two new commits replay
    src.refresh().upsert(spark, Seq((3L, "C3"), (5L, "e")).toDF("id", "k"), Seq("id"))
    src.delete(spark, Seq(graft.table.EqPred("id", 4L)))
    val ckpt2 = StreamingOps.replicateChanges(spark, src, tgt, Seq("id"), ckpt)
    assert(ckpt2 == src.currentSnapshotId)
    assert(mirror() == live() &&
      mirror() == Set(2L -> "B2", 3L -> "C3", 5L -> "e"))
    // idempotent past the checkpoint: nothing new, mirror untouched
    val before = tgt.refresh().currentSnapshotId
    assert(StreamingOps.replicateChanges(spark, src, tgt, Seq("id"), ckpt2) == ckpt2)
    assert(tgt.refresh().currentSnapshotId == before)
  }

  test("applyChanges folds a multi-commit batch per key to the last commit") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val cat = new MemoryCatalog()
    val schema = Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "k", IString, required = false)))
    val tgt = cat.createTable("fold_tgt", schema)
    tgt.append(Seq((1L, "a"), (2L, "b")).toDF("id", "k"))
    def chg(id: Long, k: String, op: String, seq: Long) =
      (id, k, op, 0L, seq)
    // one batch spanning three commits:
    //  id 1: updated at seq 1, DELETED at seq 2       -> gone
    //  id 2: deleted at seq 1, re-INSERTED at seq 2   -> k = "B2"
    //  id 3: inserted at seq 1, updated at seq 2      -> k = "c2"
    //  id 4: inserted at seq 3 only                   -> k = "d"
    val batch = Seq(
      chg(1L, "a1", "insert", 1L), chg(1L, "a", "delete", 1L),
      chg(1L, "a1", "delete", 2L),
      chg(2L, "b", "delete", 1L),
      chg(2L, "B2", "insert", 2L),
      chg(3L, "c", "insert", 1L),
      chg(3L, "c", "delete", 2L), chg(3L, "c2", "insert", 2L),
      chg(4L, "d", "insert", 3L))
      .toDF("id", "k", "_change_type", "_commit_snapshot_id", "_commit_sequence")
    StreamingOps.applyChanges(spark, batch, tgt, Seq("id"))
    assert(tgt.refresh().toDF(spark).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet ==
      Set(2L -> "B2", 3L -> "c2", 4L -> "d"))
  }

  test("applyChanges: one probe execution per batch; absorbed deletes skip the delete merge") {
    import spark.implicits._
    val cat = new MemoryCatalog()
    val schema = Schema(0, Seq(
      NestedField(1, "id", ILong, required = false),
      NestedField(2, "k", IString, required = false)))
    val tgt = cat.createTable("probe_tgt", schema)
    tgt.append(Seq((1L, "a")).toDF("id", "k"))

    // count query executions (each Spark action = one) during the call
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        n.incrementAndGet()
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    def drain(): Unit = { // listener events are async; settle before reading
      val deadline = System.nanoTime() + 5000000000L
      var last = -1
      while (System.nanoTime() < deadline && n.get != last) {
        last = n.get; Thread.sleep(150)
      }
    }

    // empty batch: exactly ONE execution (the single fold probe — the old
    // shape ran one isEmpty job per merge branch), and no commit at all
    spark.listenerManager.register(listener)
    try {
      val before = tgt.currentSnapshotId
      val empty = Seq.empty[(Long, String, String, Long, Long)]
        .toDF("id", "k", "_change_type", "_commit_snapshot_id", "_commit_sequence")
      StreamingOps.applyChanges(spark, empty, tgt, Seq("id"))
      drain()
      assert(n.get == 1, s"expected 1 probe execution on an empty batch, saw ${n.get}")
      assert(tgt.refresh().currentSnapshotId == before, "empty batch must not commit")
    } finally spark.listenerManager.unregister(listener)

    // absorbed delete (delete+re-insert on the same key): the delete merge
    // is skipped, so exactly one commit lands and the row is the re-insert
    val snapsBefore = tgt.refresh().snapshots.size
    val absorbed = Seq(
      (1L, "a", "delete", 0L, 1L),
      (1L, "A2", "insert", 0L, 1L))
      .toDF("id", "k", "_change_type", "_commit_snapshot_id", "_commit_sequence")
    StreamingOps.applyChanges(spark, absorbed, tgt, Seq("id"))
    assert(tgt.refresh().snapshots.size == snapsBefore + 1,
      "absorbed deletes must skip the delete merge (one commit only)")
    assert(tgt.refresh().toDF(spark).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet == Set(1L -> "A2"))
  }
}
