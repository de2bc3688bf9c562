package graft

import graft.catalog.{HadoopCatalog, MemoryCatalog}
import graft.functions.GraftFunctions
import graft.meta.{PartitionField, PartitionSpec}
import graft.ops.{CorpusOps, DedupOps, GraphOps, JoinOps, MultimodalOps, SimilarityOps, TextOps}
import graft.sql.GraftSql
import graft.table.{EqPred, LtPred}
import graft.types.SparkSchemaConverter
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Driver contract — one `queries` entry per implemented operator from
 * SURVEY.md §2 (+ the LLM-pipeline operators), each with DuckDB oracle SQL
 * over the same parquet tables where the semantics are SQL-expressible.
 *
 * Determinism rules (the driver hash-compares values after sorting columns
 * by name):
 *  - every query ends with a total ORDER BY, mirrored in the oracle;
 *  - float aggregation goes through DECIMAL (exact in both engines) and is
 *    cast back to DOUBLE, so Spark's partial-aggregation order can't change
 *    low bits vs DuckDB's single-threaded sum;
 *  - computed integers are cast to BIGINT on both sides.
 */
object SparkEntry {

  /** Load a testdata table. `events.ts` is parquet TIMESTAMP(NANOS), which
    * Spark 4 only reads as a long (spark.sql.legacy.parquet.nanosAsLong);
    * convert to a µs timestamp (truncation — same as DuckDB's epoch_us). */
  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events" &&
        df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Streaming mirror of [[t]]: schema-inferred single-file readStream,
    * with the events nanos→micros normalization applied when the batch
    * schema reads `ts` as LONG (the fixture's TIMESTAMP(NANOS)
    * generation — see the verify skill's gotcha note). */
  private def tStream(s: SparkSession, dir: String, name: String): DataFrame = {
    val batchSchema = s.read.parquet(s"$dir/$name.parquet").schema
    val raw = s.readStream.schema(batchSchema)
      .option("pathGlobFilter", s"$name.parquet").parquet(dir)
    if (name == "events" &&
        batchSchema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** Exact money arithmetic: double → decimal, aggregated, back to double. */
  private def d2(c: Column): Column = c.cast("decimal(18,2)")
  private def d4(c: Column): Column = c.cast("decimal(18,4)")
  private def sumd(c: Column): Column = sum(c).cast("double")
  private def n(): Column = count(lit(1))

  /** Embeddings with every defect class planted deterministically
    * (truncated dim, all-zero, NaN element, null — when-chain priority
    * 97/101/103/107) — shared by e61 (batch) and s62 (streaming) so both
    * grade against the same oracle CASE. */
  private def plantEmbeddingDefects(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      when(col("vec_id") % 97 === 0, slice(col("embedding"), 1, 32))
        .when(col("vec_id") % 101 === 0,
          transform(col("embedding"), _ => lit(0.0f)))
        .when(col("vec_id") % 103 === 0,
          concat(slice(col("embedding"), 1, 63), array(lit(Float.NaN))))
        .when(col("vec_id") % 107 === 0, lit(null).cast("array<float>"))
        .otherwise(col("embedding")).as("embedding"))

  /** Per-session memo table keyed by the SESSION OBJECT through a weak
    * reference — identity hashes alone can collide or be reused after a
    * stopped session is GC'd, handing back DataFrames bound to a dead
    * session; holding the real key object weakly gives exact identity
    * semantics and lets dead sessions' entries evaporate. */
  private final class SessionMemo[V] {
    private val m = new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, V]]
    def getOrBuild(s: SparkSession, dir: String)(build: => V): V = {
      val inner = m.synchronized {
        m.computeIfAbsent(s, _ => new java.util.concurrent.ConcurrentHashMap[String, V])
      }
      inner.computeIfAbsent(dir, _ => build)
    }
  }

  /** Temp warehouse dir registered for JVM-exit cleanup (the memoized
    * index caches would otherwise leak one dir per (session, sf)). */
  private def tempWarehouse(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        Files.walk(p).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
      } catch { case _: Throwable => () }))
    p.toString
  }

  /** Per-(session, sfDir) memoized PERSISTED BM25 index, reloaded through
    * DSv2: built on first use, so `d82_bm25_search_only` pays the build +
    * table write exactly once (the bench's warm run) and its steady-state
    * timing is the SEARCH against a standing index — the amortized shape a
    * deployment with repeated query batches actually pays, which the
    * all-in-one d82 round trip hides (r12 verdict item). */
  private val bm25IndexCache = new SessionMemo[(DataFrame, DataFrame)]
  private def persistedBm25Index(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    bm25IndexCache.getOrBuild(s, dir) {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val (postings, stats) = CorpusOps.bm25Index(docs, "doc_id", "text")
      val wh = tempWarehouse("graft-bm25-cache-wh")
      val cat = new HadoopCatalog(wh)
      val pSchema = SparkSchemaConverter.fromSpark(postings.schema)
      val pTbl = cat.createTable("bm25_postings", pSchema,
        partitionSpec = PartitionSpec(0, Seq(PartitionField(
          pSchema.fieldByName("term").get.id, 1000, "term_bucket", "bucket[16]"))))
      pTbl.append(postings)
      val sTbl = cat.createTable("bm25_stats",
        SparkSchemaConverter.fromSpark(stats.schema))
      sTbl.append(stats)
      (s.read.format("graft").load(pTbl.location),
        s.read.format("graft").load(sTbl.location))
    }

  /** Build + persist the IVF+PQ index (centroids, codebook, cell-partitioned
    * entries) and hand back the three tables RELOADED through DSv2 — the
    * shared body of e62 (fresh per call: it grades the full round trip) and
    * the memoized [[persistedIvfPqIndex]] behind e62_knn_ivfpq_search_only. */
  private def buildPersistedIvfPq(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val emb = t(s, dir, "embeddings")
    // leg timers feed the bench record (r15 verdict item 5): e62's driver
    // number is train + encode/persist + probe in one opaque wall — split
    // it so a regression names its leg. train_fit is the EAGER part of
    // buildIvfPqIndex (k-means iterations + codebook fit, both of which
    // collect bounded centroid state); entry encoding is lazy and
    // executes inside the entries append, so write_entries_encode covers
    // PQ-encode + the cell-partitioned table write. The probe/re-rank leg
    // is the remainder of the entry median over these legs.
    val t0 = System.nanoTime()
    val (centroids, codebook, entries) = SimilarityOps.buildIvfPqIndex(
      emb, "vec_id", "embedding", dim = 64, nlist = 16, m = 8, ksub = 16)
    val tTrain = (System.nanoTime() - t0) / 1e9
    val wh = tempWarehouse("graft-ivfpq-wh")
    val cat = new HadoopCatalog(wh)
    val t1 = System.nanoTime()
    val cTbl = cat.createTable("ivfpq_centroids",
      SparkSchemaConverter.fromSpark(centroids.schema))
    cTbl.append(centroids)
    val cbTbl = cat.createTable("ivfpq_codebook",
      SparkSchemaConverter.fromSpark(codebook.schema))
    cbTbl.append(codebook)
    val tSmall = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val eSchema = SparkSchemaConverter.fromSpark(entries.schema)
    val eTbl = cat.createTable("ivfpq_entries", eSchema,
      partitionSpec = PartitionSpec(0, Seq(PartitionField(
        eSchema.fieldByName("cell").get.id, 1000, "cell", "identity"))))
    eTbl.append(entries)
    val tEntries = (System.nanoTime() - t2) / 1e9
    BenchProbe.record("e62_build_legs", Seq(
      "train_fit" -> tTrain,
      "write_centroids_codebook" -> tSmall,
      "write_entries_encode" -> tEntries,
      "build_total" -> (tTrain + tSmall + tEntries)))
    (s.read.format("graft").load(cTbl.location),
      s.read.format("graft").load(cbTbl.location),
      s.read.format("graft").load(eTbl.location))
  }

  /** Per-(session, sfDir) memoized PERSISTED IVF+PQ index — the d82
    * pattern for vectors: `e62_knn_ivfpq_search_only` pays train + write
    * once (the bench warm run) and steady-state times the probe against
    * the standing three-table index, the per-batch cost a deployment with
    * a long-lived index actually repeats (r13 verdict item 5). */
  private val ivfPqIndexCache = new SessionMemo[(DataFrame, DataFrame, DataFrame)]
  private def persistedIvfPqIndex(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    ivfPqIndexCache.getOrBuild(s, dir)(buildPersistedIvfPq(s, dir))

  /** The documents table plus a deterministic near-duplicate of every 5th
    * doc (last token dropped, id offset +1000000) — gives the near-dup
    * operators true positives to find without synthesizing data. */
  private[graft] def corpusWithNearDups(s: SparkSession, dir: String): DataFrame =
    corpusWithNearDupsOf(t(s, dir, "documents").select("doc_id", "text"))

  /** [[corpusWithNearDups]] over an arbitrary base corpus — shared with
    * the sf1 slice entries, which window the base docs first. */
  private[graft] def corpusWithNearDupsOf(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val mutated = docs.where("doc_id % 5 = 0").select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 1, lit(1)))).as("text"))
    docs.unionByName(mutated)
  }

  /** sf1-slice windows (r15 verdict item 3). The double mod strips the
    * sf1 copy offset (make_sf1 ids = base + copy·10⁷) and the planted
    * near-dup offset (+10⁶), so a doc, its sf1 copies, and its planted
    * mutants all classify by the same BASE index at every sf; at gate
    * scale (ids < 5000) both mods are identity. */
  private val SliceBase9 = "doc_id % 10000000 % 1000000 % 9 = 0"
  // the Jaccard-family slices use WIDER strides: DuckDB replays their
  // pair stage as w²/2 list_intersect calls at ~10-50k/s, so the window
  // must keep that under ~1M to fit the 180 s sf1 oracle budget (the %9
  // first cut left 8 of 12 slice oracles over budget). 63 = 9·7 and
  // 27 = 3³ keep the stride coprime to the %5 suite stride so planted
  // mutants stay a natural 1/5 of each window.
  private val SliceBase27 = "doc_id % 10000000 % 1000000 % 27 = 0"
  private val SliceBase63 = "doc_id % 10000000 % 1000000 % 63 = 0"
  private val SlicePairBase63 =
    "id_a % 10000000 % 1000000 % 63 = 0 AND id_b % 10000000 % 1000000 % 63 = 0"

  /** d57's two-step incremental ingest-dedup pipeline over an arbitrary
    * base corpus (docs: doc_id, lang, text) — shared by the full entry and
    * its sf1 slice. */
  private def incrementalNearDupTwoStep(s: SparkSession, docs: DataFrame): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-d57").toString
    val cat = new graft.catalog.HadoopCatalog(wh)
    val toks = TextOps.tokens(col("text"))
    val mutants = docs.where("doc_id % 5 = 0").select(
      (col("doc_id") + 1000000L).as("doc_id"), col("lang"),
      concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 1, lit(1))))
        .as("text"))
    val accepted = cat.createTable("default.accepted",
      graft.types.SparkSchemaConverter.fromSpark(docs.schema))
    val state = cat.createTable("default.state",
      graft.types.SparkSchemaConverter.fromSpark(
        DedupOps.bandSignatures(docs, "doc_id", "text").schema))
    val (c1, b1) = DedupOps.incrementalNearDup(
      docs, state.toDF(s), accepted.toDF(s), "doc_id", "text")
    accepted.append(c1); state.refresh().append(b1)
    val (c2, b2) = DedupOps.incrementalNearDup(
      mutants, state.refresh().toDF(s), accepted.refresh().toDF(s), "doc_id", "text")
    accepted.refresh().append(c2); state.refresh().append(b2)
    accepted.refresh().toDF(s).select("doc_id", "lang").orderBy("doc_id")
  }

  /** s47's commit-driven ingest-dedup pipeline over an arbitrary base
    * corpus — shared by the full entry and its sf1 slice. */
  private def streamIngestDedup(s: SparkSession, docs: DataFrame): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-s47").toString
    val cat = new graft.catalog.HadoopCatalog(wh)
    val toks = TextOps.tokens(col("text"))
    val mutants = docs.where("doc_id % 5 = 0").select(
      (col("doc_id") + 1000000L).as("doc_id"), col("lang"),
      concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 1, lit(1))))
        .as("text"))
    val src = cat.createTable("default.ingest",
      graft.types.SparkSchemaConverter.fromSpark(docs.schema))
    src.append(docs)
    src.refresh().append(mutants)
    val accepted = cat.createTable("default.accepted",
      graft.types.SparkSchemaConverter.fromSpark(docs.schema))
    val state = cat.createTable("default.state",
      graft.types.SparkSchemaConverter.fromSpark(
        DedupOps.bandSignatures(docs, "doc_id", "text").schema))
    graft.streaming.StreamingOps.processAvailableCommits(s, src, None) {
      (batch, _) =>
        val (clean, bands) = DedupOps.incrementalNearDup(
          batch, state.refresh().toDF(s), accepted.refresh().toDF(s),
          "doc_id", "text")
        accepted.refresh().append(clean)
        state.refresh().append(bands)
    }
    accepted.refresh().toDF(s).select("doc_id", "lang").orderBy("doc_id")
  }

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the 5-way
    * star join with decimal-exact revenue. */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_multi_join")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------------------------------------------- relational core
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where("l_shipdate <= '1998-09-02'")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sumd(d2(col("l_quantity"))).as("sum_qty"),
          sumd(d2(col("l_extendedprice"))).as("sum_base_price"),
          sumd(d2(col("l_extendedprice")) * d4(lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          (sum(d2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          n().as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q02_filter_pushdown" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where("l_shipdate >= '1997-01-01' AND l_shipdate < '1997-03-01' AND l_quantity >= 47")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q03_join_agg" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("c_mktsegment")
        .agg(
          sumd(d2(col("l_extendedprice")) * d4(lit(1.0) - col("l_discount"))).as("revenue"),
          n().as("n_items"))
        .orderBy("c_mktsegment")
    }),

    "q04_broadcast_join" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").where("p_size <= 10")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(sumd(d2(col("l_quantity"))).as("sum_qty"), n().as("n_items"))
        .orderBy("p_brand")
    }),

    "q05_multi_join" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          sumd(d2(col("l_extendedprice")) * d4(lit(1.0) - col("l_discount"))).as("revenue"),
          n().as("n_items"))
        .orderBy("r_name", "n_name")
    }),

    "q06_selective_filter" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where("l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01' " +
          "AND l_discount >= 0.02 AND l_discount <= 0.08 AND l_quantity < 24")
        .agg(
          sumd(d2(col("l_extendedprice")) * d4(col("l_discount"))).as("revenue"),
          n().as("n_items"))
    }),

    "q07_distinct_agg" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_custs"), n().as("n_orders"))
        .orderBy("o_orderstatus")
    }),

    "q08_window_topn" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rank", row_number().over(w).cast("long"))
        .where("rank = 1")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
    }),

    "q09_topk_orders" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    }),

    "q10_union_all" -> ((s, dir) => {
      val c = t(s, dir, "customer").where("c_acctbal > 9000")
        .select(col("c_name").as("name"), lit("customer").as("src"))
      val su = t(s, dir, "supplier").where("s_acctbal > 9000")
        .select(col("s_name").as("name"), lit("supplier").as("src"))
      c.unionByName(su).orderBy("name", "src")
    }),

    "q25_set_ops" -> ((s, dir) => {
      // the remaining SQL set surfaces beyond q10's UNION ALL: INTERSECT
      // and EXCEPT (both DISTINCT semantics — Spark's intersect/except
      // match ANSI), over the nations two customer-activity slices touch
      val active = t(s, dir, "customer").where("c_acctbal > 5000")
        .select(col("c_nationkey").as("nk"))
      val indebted = t(s, dir, "customer").where("c_acctbal < 0")
        .select(col("c_nationkey").as("nk"))
      val both = active.intersect(indebted)
        .select(col("nk"), lit("both").as("which"))
      val onlyActive = active.except(indebted)
        .select(col("nk"), lit("only_active").as("which"))
      both.unionByName(onlyActive).orderBy("which", "nk")
    }),

    "q26_lateral_topn" -> ((s, dir) => {
      // ANSI correlated LATERAL subquery with ORDER BY + LIMIT inside —
      // the per-outer-row top-n idiom (Spark decorrelates it into a
      // ranked join; DuckDB executes it natively). Top-2 customers by
      // account balance per nation; ties break on name in both engines.
      val nv = s"nation_q26_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val cv = s"customer_q26_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      t(s, dir, "nation").createOrReplaceTempView(nv)
      t(s, dir, "customer").createOrReplaceTempView(cv)
      s.sql(
        s"""SELECT n.n_name, top.c_name, top.c_acctbal
           |FROM $nv n
           |JOIN LATERAL (
           |  SELECT c_name, c_acctbal FROM $cv c
           |  WHERE c.c_nationkey = n.n_nationkey
           |  ORDER BY c_acctbal DESC, c_name LIMIT 2
           |) top
           |ORDER BY n.n_name, top.c_acctbal DESC, top.c_name""".stripMargin)
    }),

    "q27_grouping_sets" -> ((s, dir) => {
      // explicit GROUPING SETS with grouping_id disambiguation — the
      // remaining multi-dimensional aggregate surface beyond q16's
      // ROLLUP and q24's CUBE: exactly the (flag, status) and (flag)
      // groupings plus the grand total, no cross products. grouping_id
      // bit order is (l_returnflag, l_linestatus) in both engines.
      val lv = s"lineitem_q27_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      t(s, dir, "lineitem").createOrReplaceTempView(lv)
      s.sql(
        s"""SELECT l_returnflag, l_linestatus,
           |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           |  CAST(count(*) AS BIGINT) AS n_items,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
           |FROM $lv
           |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
           |  (l_returnflag), ())
           |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)
    }),

    "q11_semi_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").where("o_orderdate >= '2000-01-01'"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(n().as("n_custs"))
        .orderBy("c_mktsegment")
    }),

    "q12_anti_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").where("o_orderdate >= '2001-01-01'"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey").agg(n().as("n_custs"))
        .orderBy("c_nationkey")
    }),

    "q13_group_having" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_custkey").agg(n().as("n_orders"))
        .where("n_orders >= 15")
        .orderBy("o_custkey")
    }),

    "q14_case_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(year(col("l_shipdate")).cast("long").as("yr"))
        .agg(
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"),
          sumd(when(col("l_returnflag") === "R", d2(col("l_extendedprice")))
            .otherwise(d2(lit(0)))).as("returned_revenue"),
          n().as("n_items"))
        .orderBy("yr")
    }),

    "q15_scalar_subquery" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val av = p.agg((sum(col("p_size").cast("long")).cast("double") / count(lit(1)))
        .as("avg_size"))
      p.crossJoin(broadcast(av))
        .where(col("p_size") > col("avg_size"))
        .groupBy("p_brand").agg(n().as("n_parts"))
        .orderBy("p_brand")
    }),

    "q21_min_cost_supplier" -> ((s, dir) => {
      // TPC-H Q2's correlated-min shape over the lineitem-derived catalog
      // (the fixture has no partsupp): per part, the supplier offering its
      // lowest observed price — struct-min picks (cost asc, suppkey asc)
      // in ONE combinable aggregate instead of a per-part window sort;
      // dimension joins broadcast.
      val cost = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice")).as("cost"))
      val best = cost.groupBy("l_partkey")
        .agg(min(struct(col("cost"), col("l_suppkey"))).as("b"))
        .select(col("l_partkey").as("p_partkey"),
          col("b.cost").as("best_cost"), col("b.l_suppkey").as("s_suppkey"))
      best
        .join(broadcast(t(s, dir, "part")
          .where(col("p_size") < 8).select("p_partkey", "p_brand")), Seq("p_partkey"))
        .join(broadcast(t(s, dir, "supplier")
          .select("s_suppkey", "s_name", "s_nationkey")), Seq("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("s_nationkey"), col("n_name"))),
          Seq("s_nationkey"))
        .select(col("p_partkey"), col("p_brand"), col("s_name"),
          col("n_name"), col("best_cost"))
        .orderBy("p_partkey")
    }),

    "q22_idle_customers" -> ((s, dir) => {
      // TPC-H Q22's shape: above-average-balance customers with no
      // FULFILLED order (every fixture customer has some order, so the
      // anti-join keys on status-F orders to stay selective). The average
      // compare is EXACT — bal·n > Σbal in decimal/integer arithmetic, no
      // float average whose last bit depends on sum order.
      val cust = t(s, dir, "customer")
      val pos = cust.where(col("c_acctbal") > 0)
        .agg(sum(d2(col("c_acctbal"))).as("tot"), n().as("n_pos"))
      cust.crossJoin(broadcast(pos))
        .where(d2(col("c_acctbal")) * col("n_pos") > col("tot"))
        .join(t(s, dir, "orders").where(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .groupBy(col("c_nationkey").cast("int").as("c_nationkey"))
        .agg(n().as("n_custs"), sumd(d2(col("c_acctbal"))).as("total_bal"))
        .orderBy("c_nationkey")
    }),

    "q16_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(n().as("n_items"), sumd(d2(col("l_quantity"))).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    "q23_pivot" -> ((s, dir) => {
      // DataFrame pivot surface: returnflag × linestatus quantity matrix.
      // An explicit pivot-value list keeps the plan single-pass (no
      // distinct-values pre-query) and the output schema static — the
      // form a production report runs; replays as conditional aggregation.
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(d2(col("l_quantity"))).cast("double"))
        .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")
        .orderBy("l_returnflag")
    }),

    "q24_cube" -> ((s, dir) => {
      // CUBE: all four grouping combinations (flag×status, per-flag,
      // per-status, grand total) in one pass — the §2.7 grouping-sets
      // surface beyond q16's ROLLUP.
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(n().as("n_items"), sumd(d2(col("l_quantity"))).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    "q17_events_daily" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(n().as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sumd(d4(col("value"))).as("sum_value"))
        .orderBy("day")
    }),

    "q18_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("us", GraftFunctions.epoch_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("us") - col("prev_us") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .groupBy("user_id")
        .agg(sum(col("new_sess")).as("n_sessions"), n().as("n_events"))
        .orderBy("user_id")
    }),

    "q19_string_funcs" -> ((s, dir) => {
      t(s, dir, "part").where("p_partkey <= 200")
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("uname"),
          substring(col("p_type"), 1, 6).as("type6"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
          length(col("p_name")).cast("long").as("name_len"))
        .orderBy("p_partkey")
    }),

    "q20_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .agg(n().as("n_events"))
        .orderBy("k")
    }),

    // ------------------------------------------------ partition transforms
    "t21_truncate_long" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(GraftFunctions.iceberg_truncate(100, col("l_partkey")).as("pk_trunc"))
        .agg(n().as("n_items"))
        .orderBy("pk_trunc")
    }),

    "t22_truncate_string" -> ((s, dir) => {
      t(s, dir, "part")
        .groupBy(GraftFunctions.iceberg_truncate(5, col("p_type")).as("type_trunc"))
        .agg(n().as("n_parts"))
        .orderBy("type_trunc")
    }),

    "t23_date_transforms" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(
          (year(col("l_shipdate")) - 1970).cast("long").as("yr"),
          ((year(col("l_shipdate")) - 1970) * 12 + month(col("l_shipdate")) - 1)
            .cast("long").as("mo"),
          datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
            .cast("long").as("dy"))
        .agg(n().as("n_items"))
        .orderBy("dy")
    }),

    "t24_hour_transform" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("us", GraftFunctions.epoch_micros(col("ts")))
        .selectExpr("us div 3600000000 as hr")
        .groupBy("hr").agg(n().as("n_events"))
        .orderBy("hr")
    }),

    "t25_bucket_transform" -> ((s, dir) => {
      // spec-pinned Murmur3; oracled by a DuckDB re-implementation of
      // murmur3_x86_32 over the 8-byte LE long serialization (see
      // oracleSql), plus known-answer vectors in TransformsSpec
      t(s, dir, "lineitem")
        .groupBy(GraftFunctions.iceberg_bucket(16, col("l_orderkey")).cast("long").as("bucket"))
        .agg(n().as("n_items"))
        .orderBy("bucket")
    }),

    // ------------------------------------------- table format round-trips
    "g26_append_roundtrip" -> ((s, dir) => {
      val cat = new MemoryCatalog()
      val li = t(s, dir, "lineitem").where("l_orderkey % 7 = 0")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      val tbl = cat.createTable("li_sub", SparkSchemaConverter.fromSpark(li.schema))
      tbl.append(li)
      tbl.toDF(s)
        .groupBy("l_returnflag")
        .agg(n().as("n_items"), sumd(d2(col("l_quantity"))).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    "g54_compact_roundtrip" -> ((s, dir) => {
      // compaction (`rewrite_data_files`) graded through the oracle: four
      // micro-appends fragment the table (the streaming-ingest shape that
      // unbounds scan task counts at 100 TB), bin-pack rewrites them, and
      // the aggregate must be bit-identical to reading the source rows —
      // a row-preserving rewrite, verified end-to-end. The entry itself
      // asserts files actually shrank and the pre-compact snapshot still
      // serves the small files (time travel across maintenance).
      val wh = java.nio.file.Files.createTempDirectory("graft-compact-wh").toString
      val cat = new HadoopCatalog(wh)
      val li = t(s, dir, "lineitem").where("l_orderkey % 3 = 0")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      val tbl = cat.createTable("li_compact",
        SparkSchemaConverter.fromSpark(li.schema))
      for (i <- 0 until 4)
        tbl.append(li.where(col("l_orderkey") % 4 === i))
      val pre = tbl.currentSnapshotId.get
      val nBefore = tbl.scan().planFiles().size
      val rowsBefore = tbl.toDF(s).count()
      tbl.compact(s, smallFileBytes = 1L << 30, minInputFiles = 2)
      val nAfter = tbl.refresh().scan().planFiles().size
      require(nAfter < nBefore, s"compaction must shrink files ($nBefore -> $nAfter)")
      require(tbl.toDF(s, Some(pre)).count() == rowsBefore,
        "pre-compact snapshot must still serve the small files")
      tbl.toDF(s)
        .groupBy("l_returnflag")
        .agg(n().as("n_items"), sumd(d2(col("l_quantity"))).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    "g56_maintain_roundtrip" -> ((s, dir) => {
      // ONE maintain() call after a streaming-shaped history: 6 micro-
      // appends (small files), a COW-deleted junk batch, and a planted
      // orphan. The composition must compact the micro-files, expire
      // everything but the last snapshot (physically dropping junk +
      // pre-compaction files), and sweep the stray — each effect
      // require-asserted, the surviving rows graded through the oracle's
      // clean-subset replay.
      val wh = java.nio.file.Files.createTempDirectory("graft-maint-wh").toString
      val cat = new HadoopCatalog(wh)
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      val keep = li.where("l_orderkey % 5 = 1")
      val tbl = cat.createTable("li_maintain",
        SparkSchemaConverter.fromSpark(keep.schema))
      for (m <- 0 until 6) // micro-appends: many small files
        tbl.append(keep.where(s"l_orderkey % 6 = $m"))
      tbl.append(li.where("l_orderkey % 5 = 2"))   // junk batch
      tbl.deleteWhere(s, "l_orderkey % 5 = 2")     // COW: junk -> dead history
      val orphan = new java.io.File(s"${tbl.location}/data/orphan-plant.parquet")
      java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
      val filesBefore = tbl.scan().planFiles().size
      // negative retention => "older than now + 60s": everything but the
      // retained head is old enough, and the planted stray sweeps
      val swept = tbl.maintain(s, snapshotRetentionMs = -60000L)
      val filesAfter = tbl.refresh().scan().planFiles().size
      require(tbl.snapshots.size == 1,
        s"maintain must retain exactly 1 snapshot, got ${tbl.snapshots.size}")
      require(filesAfter < filesBefore,
        s"compaction must shrink the live file count ($filesBefore -> $filesAfter)")
      require(swept.exists(_.endsWith("orphan-plant.parquet")) && !orphan.exists(),
        s"maintain must sweep the planted stray, swept: $swept")
      tbl.refresh().toDF(s)
        .groupBy("l_returnflag")
        .agg(n().as("n_items"), sumd(d2(col("l_quantity"))).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    "g55_expire_orphan_roundtrip" -> ((s, dir) => {
      // snapshot expiration + orphan sweep graded through the oracle —
      // the maintenance pair that bounds storage under continuous
      // ingest. Junk rows appended then copy-on-write-deleted leave data
      // files referenced ONLY by dead history; expire(retainLast=1) must
      // physically drop them while the live table keeps serving, and the
      // orphan sweep must remove a planted stray file without touching
      // anything referenced. The final aggregate replays the clean
      // source subset in the oracle.
      val wh = java.nio.file.Files.createTempDirectory("graft-expire-wh").toString
      val cat = new HadoopCatalog(wh)
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      val keep = li.where("l_orderkey % 5 = 1")
      val tbl = cat.createTable("li_expire",
        SparkSchemaConverter.fromSpark(keep.schema))
      tbl.append(keep.where("l_orderkey % 2 = 1"))
      tbl.append(li.where("l_orderkey % 5 = 2"))        // junk batch
      tbl.deleteWhere(s, "l_orderkey % 5 = 2")          // COW: junk -> dead history
      tbl.append(keep.where("l_orderkey % 2 = 0"))
      def dataFiles(): Int = {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1 else 0
        walk(new java.io.File(tbl.location, "data"))
      }
      val before = dataFiles()
      tbl.expireSnapshots(s, System.currentTimeMillis() + 60000)
      require(tbl.refresh().snapshots.size == 1,
        s"retainLast=1 must leave one snapshot, got ${tbl.snapshots.size}")
      require(dataFiles() < before,
        s"expire must physically drop dead-history files ($before -> ${dataFiles()})")
      val orphan = new java.io.File(s"${tbl.location}/data/orphan-plant.parquet")
      java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
      val swept = tbl.removeOrphanFiles(s, System.currentTimeMillis() + 60000)
      require(swept.exists(_.endsWith("orphan-plant.parquet")) && !orphan.exists(),
        s"orphan sweep must remove exactly the planted stray, swept: $swept")
      tbl.refresh().toDF(s)
        .groupBy("l_returnflag")
        .agg(n().as("n_items"), sumd(d2(col("l_quantity"))).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    "g27_partition_prune" -> ((s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-verify-wh").toString
      val cat = new HadoopCatalog(wh)
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag", "l_linestatus")
      val spec = PartitionSpec(0, Seq(PartitionField(3, 1000, "l_returnflag", "identity")))
      val tbl = cat.createTable("li_parted",
        SparkSchemaConverter.fromSpark(li.schema), partitionSpec = spec)
      tbl.append(li)
      tbl.scan(predicates = Seq(EqPred("l_returnflag", "R"))).toDF(s)
        .groupBy("l_linestatus")
        .agg(n().as("n_items"), sumd(d2(col("l_quantity"))).as("sum_qty"))
        .orderBy("l_linestatus")
    }),

    "g28_time_travel" -> ((s, dir) => {
      val cat = new MemoryCatalog()
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      val tbl = cat.createTable("li_tt", SparkSchemaConverter.fromSpark(li.schema))
      tbl.append(li.where("l_orderkey % 10 = 1"))
      val snap1 = tbl.currentSnapshotId.get
      tbl.append(li.where("l_orderkey % 10 = 2"))
      tbl.toDF(s, Some(snap1))
        .agg(n().as("n_items"), sumd(d2(col("l_quantity"))).as("sum_qty"))
    }),

    "g29_sql_surface" -> ((s, dir) => {
      val cat = new MemoryCatalog()
      cat.sql(s, "CREATE TABLE kv (a int, b string)")
      cat.sql(s, "INSERT INTO kv VALUES (1, 'one'), (2, 'two'), (3, 'three')")
      GraftSql.sqlDF(cat, s, "SELECT a, b FROM kv WHERE a >= $1 ORDER BY a", Seq(2))
    }),

    "g32_cow_delete" -> ((s, dir) => {
      val cat = new MemoryCatalog()
      val li = t(s, dir, "lineitem").where("l_orderkey % 10 = 5")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      val tbl = cat.createTable("li_cow", SparkSchemaConverter.fromSpark(li.schema))
      tbl.append(li)
      tbl.delete(s, Seq(EqPred("l_returnflag", "A")))
      tbl.toDF(s).groupBy("l_returnflag")
        .agg(n().as("n_items"), sumd(d2(col("l_quantity"))).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    "g33_cow_update" -> ((s, dir) => {
      val cat = new MemoryCatalog()
      val li = t(s, dir, "lineitem").where("l_orderkey % 10 = 6")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      val tbl = cat.createTable("li_upd", SparkSchemaConverter.fromSpark(li.schema))
      tbl.append(li)
      tbl.update(s, Seq(EqPred("l_returnflag", "N")),
        Map("l_quantity" -> "l_quantity + 100"))
      tbl.toDF(s).groupBy("l_returnflag")
        .agg(n().as("n_items"), sumd(d2(col("l_quantity"))).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    "g35_mor_delete" -> ((s, dir) => {
      // merge-on-read DELETE: position-delete files, no data-file rewrite
      val cat = new MemoryCatalog()
      val li = t(s, dir, "lineitem").where("l_orderkey % 10 = 7")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      val tbl = cat.createTable("li_mor", SparkSchemaConverter.fromSpark(li.schema),
        properties = Map("write.delete.mode" -> "merge-on-read"))
      tbl.append(li)
      tbl.delete(s, Seq(EqPred("l_returnflag", "R")))
      tbl.toDF(s).groupBy("l_returnflag")
        .agg(n().as("n_items"), sumd(d2(col("l_quantity"))).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    "g36_mor_update_fold" -> ((s, dir) => {
      // merge-on-read UPDATE, then applyPendingDeletes folds the delete
      // files back into data files — same answer before and after the fold
      val cat = new MemoryCatalog()
      val li = t(s, dir, "lineitem").where("l_orderkey % 10 = 8")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      val tbl = cat.createTable("li_morupd", SparkSchemaConverter.fromSpark(li.schema),
        properties = Map("write.update.mode" -> "merge-on-read"))
      tbl.append(li)
      tbl.update(s, Seq(EqPred("l_returnflag", "A")),
        Map("l_quantity" -> "l_quantity + 50"))
      tbl.applyPendingDeletes(s)
      tbl.toDF(s).groupBy("l_returnflag")
        .agg(n().as("n_items"), sumd(d2(col("l_quantity"))).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    "g37_schema_evolution" -> ((s, dir) => {
      // interop-test shape (ref test/support/schema_changes.py): rename +
      // drop + required-with-default, then append under the evolved schema;
      // old files resolve by field id, defaults backfill
      val cat = new MemoryCatalog()
      val li = t(s, dir, "lineitem").where("l_orderkey % 10 = 9")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      val tbl = cat.createTable("li_evo", SparkSchemaConverter.fromSpark(li.schema))
      tbl.append(li)
      tbl.updateSchema()
        .renameColumn("l_quantity", "qty")
        .deleteColumn("l_returnflag")
        .addRequiredColumn("src", graft.types.IString, "old")
        .commit()
      tbl.append(t(s, dir, "lineitem").where("l_orderkey % 10 = 4")
        .selectExpr("l_orderkey", "l_quantity AS qty", "'new' AS src"))
      tbl.toDF(s).groupBy("src")
        .agg(n().as("n_items"), sumd(d2(col("qty"))).as("sum_qty"))
        .orderBy("src")
    }),

    "g38_partition_evolution" -> ((s, dir) => {
      // metadata-only partition-layout change: era-0 files unpartitioned,
      // era-1 identity(l_returnflag); the predicate prunes era 1 by
      // partition and era 0 by column bounds — one scan over both eras
      val cat = new MemoryCatalog()
      val li = t(s, dir, "lineitem").where("l_orderkey % 10 = 3")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      val tbl = cat.createTable("li_pevo", SparkSchemaConverter.fromSpark(li.schema))
      tbl.append(li)
      tbl.updateSpec().addField("l_returnflag").commit()
      tbl.append(t(s, dir, "lineitem").where("l_orderkey % 10 = 2")
        .select("l_orderkey", "l_quantity", "l_returnflag"))
      tbl.scan(predicates = Seq(EqPred("l_returnflag", "A"))).toDF(s)
        .groupBy("l_returnflag")
        .agg(n().as("n_items"), sumd(d2(col("l_quantity"))).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    "g39_merge_upsert" -> ((s, dir) => {
      // MERGE: CDC-style upsert on the unique o_orderkey — matched rows
      // take the source image (+100 totalprice), unmatched source rows
      // insert; only files whose key bounds intersect the source's are
      // ever rewritten
      val cat = new MemoryCatalog()
      val base = t(s, dir, "orders").where("o_orderkey % 10 = 1")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val tbl = cat.createTable("ord_merge", SparkSchemaConverter.fromSpark(base.schema))
      tbl.append(base)
      val src = t(s, dir, "orders").where("o_orderkey % 20 = 1")
        .selectExpr("o_orderkey", "o_totalprice + 100 AS o_totalprice", "o_orderstatus")
        .unionByName(t(s, dir, "orders").where("o_orderkey % 10 = 6")
          .select("o_orderkey", "o_totalprice", "o_orderstatus"))
      tbl.merge(s, src, Seq("o_orderkey"))
      tbl.toDF(s).groupBy("o_orderstatus")
        .agg(n().as("n_items"), sumd(d2(col("o_totalprice"))).as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    "g40_rewrite_manifests" -> ((s, dir) => {
      // maintenance combo: chunked appends + an upsert fragment the
      // manifest list; rewriteManifests consolidates to one manifest per
      // (content, era) and removeOrphanFiles sweeps nothing live — the
      // aggregate is unchanged by either.
      val cat = new MemoryCatalog()
      val ord = t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val tbl = cat.createTable("ord_rwm", SparkSchemaConverter.fromSpark(ord.schema))
      for (m <- Seq(2, 12, 22)) // three appends = three manifests
        tbl.append(ord.where(s"o_orderkey % 30 = $m"))
      tbl.upsert(s, ord.where("o_orderkey % 20 = 2")
        .selectExpr("o_orderkey", "o_totalprice + 50 AS o_totalprice", "o_orderstatus"),
        Seq("o_orderkey"))
      tbl.rewriteManifests()
      tbl.removeOrphanFiles(System.currentTimeMillis() + 3600000L)
      tbl.toDF(s).groupBy("o_orderstatus")
        .agg(n().as("n_items"), sumd(d2(col("o_totalprice"))).as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    "g45_zorder" -> ((s, dir) => {
      // multi-dimensional clustering rewrite: after zorder(orderkey, qty)
      // a predicate on EITHER column prunes files; the scan through the
      // clustered layout must still answer exactly
      val cat = new MemoryCatalog()
      val li = t(s, dir, "lineitem").where("l_orderkey % 10 = 9")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      val tbl = cat.createTable("li_z", SparkSchemaConverter.fromSpark(li.schema))
      tbl.append(li)
      tbl.zorder(s, Seq("l_orderkey", "l_quantity"), targetFileBytes = 256 * 1024)
      tbl.scan(predicates = Seq(graft.table.GePred("l_quantity", 25.0))).toDF(s)
        .groupBy("l_returnflag")
        .agg(n().as("n_items"), sumd(d2(col("l_quantity"))).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    "g46_v3_deletion_vectors" -> ((s, dir) => {
      // format-v3 substance: merge-on-read deletes write Puffin deletion
      // vectors (one roaring-bitmap blob per affected data file; the
      // second delete MERGES into existing DVs and supersedes them), and
      // row lineage assigns table-global _row_ids. n_rowids == n_items in
      // the oracle proves the ids stay unique through DV-based DML.
      val cat = new MemoryCatalog()
      val li = t(s, dir, "lineitem").where("l_orderkey % 5 = 0")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      val tbl = cat.createTable("li_v3", SparkSchemaConverter.fromSpark(li.schema),
        properties = Map("format-version" -> "3",
          "write.delete.mode" -> "merge-on-read"))
      tbl.append(li)
      tbl.delete(s, Seq(LtPred("l_quantity", 10.0)))
      tbl.delete(s, Seq(EqPred("l_returnflag", "R")))
      tbl.scan().toDFWithRowIds(s)
        .groupBy("l_returnflag")
        .agg(n().as("n_items"),
          countDistinct(col("_row_id")).as("n_rowids"),
          sumd(d2(col("l_quantity"))).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    "g53_analyze_stats" -> ((s, dir) => {
      // ANALYZE end-to-end: customer loads into a graft table, exact NDV
      // statistics commit as a Puffin-backed metadata entry, and the query
      // emits the COMMITTED blob properties — the oracle recomputes every
      // column's distinct count from the raw parquet, so the whole
      // write-stats-then-read-stats loop is driver-graded.
      import s.implicits._
      val cat = new MemoryCatalog()
      val cust = t(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal")
      val tbl = cat.createTable("cust_an",
        SparkSchemaConverter.fromSpark(cust.schema))
      tbl.append(cust)
      val sf = tbl.analyze(s, approx = false)
      val fieldName = tbl.currentSchema.fields.map(f => f.id -> f.name).toMap
      sf.blobMetadata.map { bm =>
        (fieldName(bm("fields").asInstanceOf[Seq[Int]].head),
          bm("properties").asInstanceOf[Map[String, String]]("ndv").toLong)
      }.toSeq.toDF("column_name", "ndv").orderBy("column_name")
    }),

    "g48_dsv2_sql" -> ((s, dir) => {
      // native DSv2 TableCatalog: the ENTIRE flow below is Spark SQL routed
      // through spark.sql.catalog.* — CREATE TABLE with a bucket transform,
      // INSERT INTO ... SELECT, row-level DELETE, INSERT VALUES, SELECT —
      // no temp-view registration of catalog tables anywhere
      graft.spark.GraftSparkCatalog.register(s, "g48cat", new MemoryCatalog())
      t(s, dir, "nation").createOrReplaceTempView("g48_nation_src")
      s.sql("""CREATE TABLE g48cat.default.nation_t (
              |  n_nationkey INT, n_name STRING, n_regionkey INT)
              |PARTITIONED BY (bucket(4, n_nationkey))""".stripMargin)
      s.sql("""INSERT INTO g48cat.default.nation_t
              |SELECT n_nationkey, n_name, n_regionkey FROM g48_nation_src""".stripMargin)
      s.sql("DELETE FROM g48cat.default.nation_t WHERE n_regionkey = 2")
      s.sql("INSERT INTO g48cat.default.nation_t VALUES (990, 'ATLANTIS', 9), (991, 'LEMURIA', 9)")
      s.sql("""SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_name
              |FROM g48cat.default.nation_t
              |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
    }),

    "g49_sql_merge" -> ((s, dir) => {
      // SQL UPDATE + MERGE INTO via GraftSqlExtensions (session built with
      // spark.sql.extensions): both statements execute graft's native
      // COW DML — CTAS, UPDATE with expression assignment, then a CDC-style
      // MERGE upserting one change and one new row
      graft.spark.GraftSparkCatalog.register(s, "g49cat", new MemoryCatalog())
      t(s, dir, "nation").createOrReplaceTempView("g49_nation_src")
      s.sql("""CREATE TABLE g49cat.default.n AS
              |SELECT n_nationkey, n_name, n_regionkey FROM g49_nation_src""".stripMargin)
      s.sql("UPDATE g49cat.default.n SET n_name = concat(n_name, '_EU') WHERE n_regionkey = 3")
      s.sql("""MERGE INTO g49cat.default.n t
              |USING (SELECT * FROM VALUES (0, 'SWAPPED_0', 9), (995, 'NEWLAND', 9)
              |       AS src(n_nationkey, n_name, n_regionkey)) s
              |ON t.n_nationkey = s.n_nationkey
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // OR/LIKE exceed ScanPredicates → routes through the row-level
      // merge-on-read deleteWhere (position deletes, no file rewrite)
      s.sql("DELETE FROM g49cat.default.n WHERE n_name LIKE 'NATION_1%' OR n_regionkey = 4")
      s.sql("""SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_name
              |FROM g49cat.default.n GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
    }),

    "g50_insert_overwrite" -> ((s, dir) => {
      // filter-scoped INSERT OVERWRITE (SupportsOverwrite → overwriteWhere):
      // replace exactly ONE partition of an identity-partitioned table in a
      // single atomic snapshot. The replaced partition's files leave via
      // metadata alone (ScanPruning.strictFileEvolved — every live row
      // provably matches), the other partitions' files are carried untouched.
      graft.spark.GraftSparkCatalog.register(s, "g50cat", new MemoryCatalog())
      t(s, dir, "lineitem").where("l_orderkey % 10 = 3")
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .createOrReplaceTempView("g50_li_src")
      s.sql("""CREATE TABLE g50cat.default.li PARTITIONED BY (l_returnflag)
              |AS SELECT * FROM g50_li_src""".stripMargin)
      s.sql("""INSERT OVERWRITE g50cat.default.li PARTITION (l_returnflag = 'R')
              |SELECT l_orderkey, l_quantity + 1000 FROM g50_li_src
              |WHERE l_returnflag = 'R'""".stripMargin)
      s.sql("""SELECT l_returnflag, count(*) AS n_items,
              | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
              |FROM g50cat.default.li GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    "g51_dynamic_overwrite" -> ((s, dir) => {
      // dynamic-partition INSERT OVERWRITE through the executor-side V2
      // fanout writer (GraftDynamicOverwriteWrite): every partition present
      // in the incoming data is atomically replaced, all others carried —
      // no static PARTITION clause, no table rewrite
      graft.spark.GraftSparkCatalog.register(s, "g51cat", new MemoryCatalog())
      t(s, dir, "lineitem").where("l_orderkey % 10 = 4")
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .createOrReplaceTempView("g51_li_src")
      s.sql("""CREATE TABLE g51cat.default.li PARTITIONED BY (l_returnflag)
              |AS SELECT * FROM g51_li_src""".stripMargin)
      val key = "spark.sql.sources.partitionOverwriteMode"
      val old = s.conf.getOption(key)
      s.conf.set(key, "dynamic")
      try s.sql("""INSERT OVERWRITE g51cat.default.li
                  |SELECT l_orderkey, l_quantity + 500, l_returnflag
                  |FROM g51_li_src WHERE l_returnflag IN ('A', 'N')""".stripMargin)
      finally old match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
      s.sql("""SELECT l_returnflag, count(*) AS n_items,
              | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
              |FROM g51cat.default.li GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    "g52_merge_full_sync" -> ((s, dir) => {
      // MERGE as a full-sync mirror: WHEN MATCHED UPDATE + NOT MATCHED
      // INSERT + NOT MATCHED BY SOURCE DELETE makes the target equal the
      // source state in ONE atomic commit — the BY SOURCE clause widens
      // the scan to every live file (no source-key pruning is sound), and
      // in merge-on-read mode the write stays O(affected rows)
      graft.spark.GraftSparkCatalog.register(s, "g52cat", new MemoryCatalog())
      t(s, dir, "nation").createOrReplaceTempView("g52_nation_src")
      s.sql("""CREATE TABLE g52cat.default.n AS
              |SELECT n_nationkey, n_name, n_regionkey FROM g52_nation_src""".stripMargin)
      s.sql("""MERGE INTO g52cat.default.n t
              |USING (SELECT n_nationkey, concat(n_name, '_SYNC') AS n_name,
              |              n_regionkey + 10 AS n_regionkey
              |       FROM g52_nation_src WHERE n_regionkey <> 2) s
              |ON t.n_nationkey = s.n_nationkey
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *
              |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      s.sql("""SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_name
              |FROM g52cat.default.n GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
    }),

    "g47_wap_fix" -> ((s, dir) => {
      // write-audit-publish with a FIX: stage an append on "audit", then
      // branch-scoped DML repairs it (MOR delete + COW update commit to
      // the branch ref, main untouched — rows_before_publish proves it),
      // and one fastForward publishes the audited state atomically
      val cat = new MemoryCatalog()
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_quantity", "l_returnflag")
      val tbl = cat.createTable("li_wapfix", SparkSchemaConverter.fromSpark(li.schema),
        properties = Map("write.delete.mode" -> "merge-on-read"))
      tbl.append(li.where("l_orderkey % 10 = 1"))
      tbl.appendToBranch("audit", li.where("l_orderkey % 10 = 6"))
      tbl.delete(s, Seq(LtPred("l_quantity", 5.0)), branch = "audit")
      tbl.update(s, Seq(EqPred("l_returnflag", "N")),
        Map("l_quantity" -> "l_quantity + 100"), branch = "audit")
      val mainBefore = tbl.toDF(s).count() // branch DML must not leak to main
      tbl.fastForward("main", "audit")
      tbl.toDF(s).groupBy("l_returnflag")
        .agg(n().as("n_items"), sumd(d2(col("l_quantity"))).as("sum_qty"),
          first(lit(mainBefore)).as("rows_before_publish"))
        .orderBy("l_returnflag")
    }),

    "g44_wap_publish" -> ((s, dir) => {
      // write-audit-publish: stage two appends on a branch (invisible to
      // main), then one fastForward publishes both atomically
      val cat = new MemoryCatalog()
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_quantity", "l_returnflag")
      val tbl = cat.createTable("li_wap", SparkSchemaConverter.fromSpark(
        li.schema))
      tbl.append(li.where("l_orderkey % 10 = 1"))
      tbl.appendToBranch("audit", li.where("l_orderkey % 10 = 6"))
      tbl.appendToBranch("audit", li.where("l_orderkey % 10 = 7"))
      val mainBefore = tbl.toDF(s).count() // audit rows must be invisible
      tbl.fastForward("main", "audit")
      tbl.toDF(s).groupBy("l_returnflag")
        .agg(n().as("n_items"), sumd(d2(col("l_quantity"))).as("sum_qty"),
          first(lit(mainBefore)).as("rows_before_publish"))
        .orderBy("l_returnflag")
    }),

    "g43_add_files" -> ((s, dir) => {
      // bulk onboarding: foreign parquet published into a table by footer
      // stats + one fast-append commit, no data copy; scans then prune on
      // the recorded bounds like native files
      val cat = new MemoryCatalog()
      val ord = t(s, dir, "orders").where("o_orderkey % 10 = 4")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val ext = java.nio.file.Files.createTempDirectory("graft-addfiles").toString
      ord.write.mode("overwrite").parquet(ext)
      val tbl = cat.createTable("ord_add", SparkSchemaConverter.fromSpark(ord.schema))
      val extPath = new org.apache.hadoop.fs.Path(ext)
      val fs = extPath.getFileSystem(tbl.hadoopConf)
      val files = fs.listStatus(extPath).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
      tbl.addFiles(s, files)
      tbl.toDF(s).groupBy("o_orderstatus")
        .agg(n().as("n_items"), sumd(d2(col("o_totalprice"))).as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    "g42_changelog" -> ((s, dir) => {
      // row-level CDC read: append → equality-delete upsert → MOR delete,
      // then the changelog between table creation and now, aggregated per
      // change type. The diff is computed only over each commit's
      // affected files (see StreamingOps.changesBetween).
      val cat = new MemoryCatalog()
      val base = t(s, dir, "orders").where("o_orderkey % 10 = 3")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val tbl = cat.createTable("ord_cdc", SparkSchemaConverter.fromSpark(base.schema),
        properties = Map("write.delete.mode" -> "merge-on-read"))
      tbl.append(base)
      tbl.upsert(s, t(s, dir, "orders").where("o_orderkey % 20 = 3")
        .selectExpr("o_orderkey", "o_totalprice + 10 AS o_totalprice", "o_orderstatus"),
        Seq("o_orderkey"))
      tbl.delete(s, Seq(EqPred("o_orderstatus", "F")))
      graft.streaming.StreamingOps.changesBetween(s, tbl, None)
        .groupBy(col("_change_type"))
        .agg(n().as("n_rows"), sumd(d2(col("o_totalprice"))).as("sum_price"))
        .orderBy("_change_type")
    }),

    "g41_time_travel_timestamp" -> ((s, dir) => {
      // timestamp time travel: scanAsOf(t) resolves through the snapshot
      // log to the snapshot a reader at time t saw
      val cat = new MemoryCatalog()
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      val tbl = cat.createTable("li_asof", SparkSchemaConverter.fromSpark(li.schema))
      tbl.append(li.where("l_orderkey % 10 = 5"))
      val ts = System.currentTimeMillis()
      Thread.sleep(10)
      tbl.append(li.where("l_orderkey % 10 = 6"))
      tbl.scanAsOf(ts).toDF(s)
        .agg(n().as("n_items"), sumd(d2(col("l_quantity"))).as("sum_qty"))
    }),

    "g30_metadata_tables" -> ((s, dir) => {
      val cat = new MemoryCatalog()
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      val tbl = cat.createTable("li_meta", SparkSchemaConverter.fromSpark(li.schema))
      tbl.append(li.where("l_orderkey % 10 = 3"))
      tbl.append(li.where("l_orderkey % 10 = 4"))
      tbl.snapshotsDF(s)
        .select(col("sequence_number"), col("operation"))
        .orderBy("sequence_number")
    }),

    "g31_incremental_stream" -> ((s, dir) => {
      val cat = new MemoryCatalog()
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      val tbl = cat.createTable("li_stream", SparkSchemaConverter.fromSpark(li.schema))
      tbl.append(li.where("l_orderkey % 10 = 3"))
      val snap1 = tbl.currentSnapshotId
      tbl.append(li.where("l_orderkey % 10 = 4"))
      graft.streaming.StreamingOps.incrementalDiff(s, tbl, snap1)
        .agg(n().as("n_items"), sumd(d2(col("l_quantity"))).as("sum_qty"))
    }),

    "g34_sql_params_ordinal" -> ((s, dir) => {
      val cat = new MemoryCatalog()
      cat.sql(s, "CREATE TABLE kv2 (a int, b string)")
      cat.sql(s, "INSERT INTO kv2 VALUES (1, 'one'), (2, 'two'), (3, 'three')")
      GraftSql.sqlDF(cat, s,
        "SELECT b, a FROM kv2 WHERE a <> $1 ORDER BY 2 DESC LIMIT 2", Seq(2))
    }),

    "s42_stream_windowed" -> ((s, dir) => {
      // REAL Structured Streaming over the events data (AvailableNow):
      // hourly windowed counts with watermark, landed in a memory sink and
      // verified against the batch oracle — the unified-model guarantee.
      // APPEND mode: only watermark-finalized windows are emitted, so the
      // state store provably holds just the open windows (complete mode
      // ignores the watermark for eviction — correct output, unbounded
      // state). The oracle applies the same cutoff: window_end <= final
      // watermark (= ms-floored max event time - 10 min).
      // timestamp[us] testdata reads as TIMESTAMP_NTZ, but watermarks
      // require TIMESTAMP; the session tz is UTC so the cast is exact
      val ev = tStream(s, dir, "events")
        .withColumn("ts", col("ts").cast("timestamp"))
      val out = graft.streaming.StreamingOps
        .windowedCounts(ev, "ts", "event_type", "1 hour", "10 minutes")
      val sink = s"stream_win_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink)
        .select(col("window_start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n_events"))
        .orderBy("window_start", "event_type")
    }),

    "s43_stream_dedup" -> ((s, dir) => {
      // custom streaming state (flatMapGroupsWithState): exact-dedup with
      // provenance over the event stream — every row tagged keep/duplicate
      // with the id it duplicates and its running index. Deterministic:
      // events.parquet is one AvailableNow batch, and rows sort by
      // (event time, id) inside each state group, so the oracle is the
      // equivalent batch window query.
      val ev = tStream(s, dir, "events")
      val out = graft.streaming.StreamingOps
        .dedupStream(ev, "ts", "event_id", "props")
      val sink = s"stream_dedup_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink)
        .select(col("content_hash"), col("id"), col("keep"),
          col("first_id"), col("dup_index"))
        .orderBy("content_hash", "dup_index")
    }),

    "s44_stream_table_source" -> ((s, dir) => {
      // the graft STREAMING SOURCE end to end: a Hadoop-catalog table is
      // built from two append commits, then readStream.format("graft")
      // consumes it — each commit is one micro-batch, offsets are the
      // table's own sequence numbers. The sink's contents must equal the
      // table's batch contents (the oracle reads the same source rows).
      val wh = java.nio.file.Files.createTempDirectory("graft-s44").toString
      val cat = new graft.catalog.HadoopCatalog(wh)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val tbl = cat.createTable("default.docs_stream",
        graft.types.SparkSchemaConverter.fromSpark(docs.schema))
      tbl.append(docs.where("doc_id % 2 = 0"))
      tbl.append(docs.where("doc_id % 2 = 1"))
      val sink = s"s44_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = s.readStream.format("graft").load(s"$wh/default/docs_stream")
        .writeStream.format("memory").queryName(sink).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink).orderBy("doc_id")
    }),

    "s45_stream_roundtrip" -> ((s, dir) => {
      // the WHOLE streaming surface in one pipe: table → source → filter
      // transform → native sink → second table; the result must equal the
      // batch query over the same rows. Exactly-once on both ends (source
      // offsets are sequence numbers; sink dedups replayed batch ids).
      val wh = java.nio.file.Files.createTempDirectory("graft-s45").toString
      val cat = new graft.catalog.HadoopCatalog(wh)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val src = cat.createTable("default.rt_src",
        graft.types.SparkSchemaConverter.fromSpark(docs.schema))
      cat.createTable("default.rt_out",
        graft.types.SparkSchemaConverter.fromSpark(docs.schema))
      src.append(docs.where("doc_id < 100"))
      src.append(docs.where("doc_id >= 100"))
      val cp = java.nio.file.Files.createTempDirectory("graft-s45-cp").toString
      val q = s.readStream.format("graft").load(s"$wh/default/rt_src")
        .where(col("n_chars") >= 200)
        .writeStream.format("graft")
        .option("warehouse", wh).option("table", "default.rt_out")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      cat.loadTable("default.rt_out").toDF(s).orderBy("doc_id")
    }),

    "d64_tfidf_keywords" -> ((s, dir) => {
      // per-doc TF-IDF keywords: integer-exact ranking (tf DESC, df ASC,
      // token ASC); the transcendental score itself is reported rounded
      CorpusOps.tfidfKeywords(t(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", k = 5)
        .orderBy("doc_id", "rank")
    }),

    "d65_lm_quality" -> ((s, dir) => {
      // self-trained char-trigram LM: mean trigram log-likelihood as the
      // perplexity-filter quality signal, no external model shipped
      TextOps.lmQualityScore(t(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    "d62_dup_span_stats" -> ((s, dir) => {
      // exact-substring dedup (Lee et al.), audit side: per-doc tokens
      // covered by word-8-grams whose first corpus occurrence is elsewhere
      DedupOps.duplicateSpanStats(t(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", w = 8)
        .orderBy("doc_id")
    }),

    "d63_dup_span_removal" -> ((s, dir) => {
      // exact-substring dedup, cut side: duplicated spans removed
      // keep-first, text rebuilt from the surviving tokens
      DedupOps.removeDuplicateSpans(t(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", w = 8)
        .select("doc_id", "text", "n_tokens_kept").orderBy("doc_id")
    }),

    "d81_decontaminate_spans" -> ((s, dir) => {
      // span-level decontamination: the planted benchmark suite (every 5th
      // doc minus its last token, d47's construction) is cut OUT of every
      // document — the leaked passage goes, the rest of the page stays.
      // Test grams broadcast; no keep-first (test text leaves every doc).
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val toks = TextOps.tokens(col("text"))
      val test = docs.where("doc_id % 5 = 0").select(
        concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 1, lit(1))))
          .as("text"))
      DedupOps.removeContaminatedSpans(docs, "doc_id", "text", test, "text",
          w = 8)
        .select("doc_id", "text", "n_tokens_kept").orderBy("doc_id")
    }),

    "d60_shuffle_shards" -> ((s, dir) => {
      // reproducible global shuffle into 8 training shards: layout depends
      // only on (seed, doc_id) — any engine derives the identical order
      CorpusOps.shuffleShards(t(s, dir, "documents").select("doc_id", "lang"),
          "doc_id", seed = "r9", numShards = 8)
        .select("doc_id", "lang", "shard", "pos").orderBy("shard", "pos")
    }),

    "d61_mix_resample" -> ((s, dir) => {
      // training-mix epoch weights: upsample src0 2.25x (every doc twice,
      // a hash-chosen quarter a 3rd time), halve src1, drop src2, keep
      // the rest 1x — exact, deterministic, map-only
      CorpusOps.resampleMix(t(s, dir, "documents").select("doc_id", "source"),
          "doc_id", "source",
          Map("src0" -> 2.25, "src1" -> 0.5, "src2" -> 0.0),
          defaultWeight = 1.0, seed = "mix9")
        .orderBy("doc_id", "copy")
    }),

    "d59_line_dedup" -> ((s, dir) => {
      // sub-document boilerplate dedup (the CCNet/RefinedWeb line pass):
      // every doc gets one of 10 shared header lines prepended — keep-first
      // line dedup strips the header from every doc except its first
      // bearer, leaving bodies untouched and reassembled in order
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("HEADER "), (col("doc_id") % 10).cast("string"),
          lit("\n"), col("text")).as("text"))
      CorpusOps.dedupLines(docs, "doc_id", "text").orderBy("doc_id")
    }),

    "s48_stream_to_table" -> ((s, dir) => {
      // the V2 streaming SINK end to end: writeStream.toTable onto an
      // identity-PARTITIONED catalog table — each micro-batch epoch is
      // fanned out to partition-tuple files by the executors and committed
      // atomically (GraftStreamingWrite); result must equal the batch
      // filter over the same rows
      val wh = java.nio.file.Files.createTempDirectory("graft-s48").toString
      val cat = new graft.catalog.HadoopCatalog(wh)
      val cName = s"s48c${java.util.UUID.randomUUID().toString.take(8)}"
      graft.spark.GraftSparkCatalog.register(s, cName, cat)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val src = cat.createTable("default.src",
        graft.types.SparkSchemaConverter.fromSpark(docs.schema))
      src.append(docs.where("doc_id % 2 = 0"))
      src.append(docs.where("doc_id % 2 = 1"))
      s.sql(s"CREATE TABLE $cName.default.out (doc_id BIGINT, lang STRING, " +
        "n_chars BIGINT) PARTITIONED BY (lang)")
      val ckpt = java.nio.file.Files.createTempDirectory("graft-s48-cp").toString
      val q = s.readStream.format("graft").load(s"$wh/default/src")
        .where(col("n_chars") >= 300)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"$cName.default.out")
      q.awaitTermination()
      cat.loadTable("default.out").toDF(s)
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    }),

    "s58_stream_compact" -> ((s, dir) => {
      // the maintenance loop streaming ingest NEEDS: micro-batch epochs
      // fragment the table into per-epoch small files (rate-limited
      // source so several epochs commit), bin-pack compaction rewrites
      // them, and the compacted table must still equal the batch source
      // row for row — g54's guarantee proven against a STREAM-built
      // table. The entry asserts multiple epochs actually committed and
      // compaction actually shrank the file count.
      val wh = java.nio.file.Files.createTempDirectory("graft-s58").toString
      val cat = new graft.catalog.HadoopCatalog(wh)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val src = cat.createTable("default.src",
        graft.types.SparkSchemaConverter.fromSpark(docs.schema))
      // several source commits -> several micro-batches at 1 commit/epoch
      for (i <- 0 until 4) src.append(docs.where(col("doc_id") % 4 === i))
      cat.createTable("default.out",
        graft.types.SparkSchemaConverter.fromSpark(docs.schema))
      val ckpt = java.nio.file.Files.createTempDirectory("graft-s58-cp").toString
      val q = s.readStream.format("graft")
        .option("max-snapshots-per-trigger", "1")
        .load(s"$wh/default/src")
        .writeStream.format("graft")
        .option("warehouse", wh).option("table", "default.out")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val tbl = cat.loadTable("default.out")
      require(tbl.snapshots.size >= 4,
        s"expected one commit per micro-batch epoch, got ${tbl.snapshots.size}")
      val nBefore = tbl.scan().planFiles().size
      tbl.compact(s, smallFileBytes = 1L << 30, minInputFiles = 2)
      val nAfter = tbl.refresh().scan().planFiles().size
      require(nAfter < nBefore, s"compaction must shrink files ($nBefore -> $nAfter)")
      tbl.toDF(s).select("doc_id", "lang", "n_chars").orderBy("doc_id")
    }),

    "s49_stream_cdc_replicate" -> ((s, dir) => {
      // CDC replication, the classic changelog consumer: DML commits on
      // the source (append → upsert → COW delete) stream as row-level
      // changes (read-changes=true) and foreachBatch(applyChanges) keeps
      // a mirror table exactly equal — per-key fold to the last commit in
      // the batch, delete propagation, update absorption via merge.
      val wh = java.nio.file.Files.createTempDirectory("graft-s49").toString
      val cat = new graft.catalog.HadoopCatalog(wh)
      val base = t(s, dir, "orders").where("o_orderkey % 10 = 3")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val src = cat.createTable("default.cdc_src",
        SparkSchemaConverter.fromSpark(base.schema))
      val tgt = cat.createTable("default.cdc_tgt",
        SparkSchemaConverter.fromSpark(base.schema))
      src.append(base)
      src.upsert(s, base.where("o_orderkey % 20 = 3")
        .selectExpr("o_orderkey", "o_totalprice + 10 AS o_totalprice",
          "o_orderstatus"), Seq("o_orderkey"))
      src.delete(s, Seq(EqPred("o_orderstatus", "F")))
      val cp = java.nio.file.Files.createTempDirectory("graft-s49-cp").toString
      val q = s.readStream.format("graft").option("read-changes", "true")
        .load(s"$wh/default/cdc_src")
        .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
          graft.streaming.StreamingOps.applyChanges(s, batch, tgt,
            Seq("o_orderkey"))
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      tgt.refresh().toDF(s).orderBy("o_orderkey")
    }),

    "s50_stream_sessionize" -> ((s, dir) => {
      // event-time sessionization on a STREAM: Spark's native
      // session_window state store (merging windows, watermark eviction)
      // — the streaming mirror of q18_sessionize. APPEND mode emits only
      // watermark-closed sessions, so state is provably bounded by the
      // open sessions; the oracle applies the same cutoff (session_end <=
      // final watermark) to a batch gaps-and-islands rebuild. Session
      // semantics pinned by the oracle: an event exactly `gap` after the
      // previous one starts a NEW session (windows [t, t+gap) merge only
      // when they OVERLAP), which is q18's `> gap` test shifted to `>=`.
      val ev = tStream(s, dir, "events")
        .withColumn("ts", col("ts").cast("timestamp"))
      val out = graft.streaming.StreamingOps
        .sessionWindows(ev, "ts", "user_id", "30 minutes", "10 minutes")
      val sink = s"stream_sess_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink)
        .select(col("session_start").cast("timestamp_ntz").as("session_start"),
          col("session_end").cast("timestamp_ntz").as("session_end"),
          col("user_id"), col("n_events"))
        .orderBy("user_id", "session_start")
    }),

    "s51_stream_upsert" -> ((s, dir) => {
      // the V2 streaming UPSERT sink end to end: merge-keys toTable onto
      // a PARTITIONED catalog table — each source commit becomes one
      // epoch (max-snapshots-per-trigger=1) committed as one atomic MOR
      // row delta: executor-fanout data files plus global equality
      // deletes on doc_id, so the second commit's re-emitted keys replace
      // the first commit's rows (last-wins), including rows whose lang
      // PARTITION moved. Result must equal the batch fold of the two
      // frames.
      val wh = java.nio.file.Files.createTempDirectory("graft-s51").toString
      val cat = new graft.catalog.HadoopCatalog(wh)
      val cName = s"s51c${java.util.UUID.randomUUID().toString.take(8)}"
      graft.spark.GraftSparkCatalog.register(s, cName, cat)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val src = cat.createTable("default.src",
        graft.types.SparkSchemaConverter.fromSpark(docs.schema))
      src.append(docs)
      // re-emit every third doc with bumped n_chars and a forced lang
      // move ('xx') — the upsert must relocate them across partitions
      src.refresh().append(docs.where("doc_id % 3 = 0")
        .selectExpr("doc_id", "'xx' AS lang", "n_chars + 1000 AS n_chars"))
      s.sql(s"CREATE TABLE $cName.default.out (doc_id BIGINT, lang STRING, " +
        "n_chars BIGINT) PARTITIONED BY (lang)")
      val ckpt = java.nio.file.Files.createTempDirectory("graft-s51-cp").toString
      val q = s.readStream.format("graft")
        .option("max-snapshots-per-trigger", "1")
        .load(s"$wh/default/src")
        .writeStream.option("checkpointLocation", ckpt)
        .option("merge-keys", "doc_id")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"$cName.default.out")
      q.awaitTermination()
      cat.loadTable("default.out").toDF(s)
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    }),

    "s56_stream_range_alert" -> ((s, dir) => {
      // continuous similarity alerting: arriving vectors score MAP-ONLY
      // against the broadcast (static) alert set — rangeSearch's exact
      // per-row cosine threshold, no state store, no join state — so
      // near-matches flag in-flight (the streaming face of e54; same
      // wobble-safe 0.9 threshold). Per-row semantics make any
      // micro-batch slicing equal the batch answer, graded by the same
      // oracle as e54.
      val raw = tStream(s, dir, "embeddings")
      val queries = t(s, dir, "embeddings").where("vec_id < 8")
      val alerts = SimilarityOps.rangeSearch(raw, "vec_id", "embedding",
        queries, "vec_id", "embedding", threshold = 0.9)
      val sink = s"s56_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = alerts
        .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"))
        .writeStream.format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink).orderBy("query_id", "vec_id")
    }),

    "s57_stream_quantiles" -> ((s, dir) => {
      // streaming length-distribution report: the state of a streaming
      // groupBy(lang, ntok) count IS the histogram — bounded by the value
      // domain, not the corpus (the d88 argument, in-flight). The drained
      // histogram feeds the identical integer-exact percentile readoff,
      // so the stream grades against d88's batch oracle verbatim;
      // counting is micro-batch-associative by construction.
      val raw = tStream(s, dir, "documents")
      val hist = raw
        .select(col("lang"),
          TextOps.tokenCount(col("text")).cast("long").as("ntok"))
        .where(col("ntok").isNotNull)
        .groupBy("lang", "ntok").agg(count(lit(1)).as("cnt"))
      val sink = s"s57_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = hist
        .writeStream.outputMode("complete").format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      CorpusOps.quantilesFromHistogram(s.table(sink), "lang", "ntok", "cnt",
          Seq(50, 90, 99))
        .withColumnRenamed("n_rows", "n_docs")
        .orderBy("lang")
    }),

    "s52_stream_decontaminate" -> ((s, dir) => {
      // in-flight decontamination: the documents table streams through a
      // MAP-ONLY membership probe of the (static) benchmark suite's
      // 8-gram set — no join, no state store in the micro-batch. The
      // suite is d47's planted construction (every 5th doc minus its
      // last token), so the flags must equal the batch ngramOverlap
      // verdict row for row.
      val raw = tStream(s, dir, "documents").select("doc_id", "text")
      val toks = TextOps.tokens(col("text"))
      val test = t(s, dir, "documents").where("doc_id % 5 = 0").select(
        concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 1, lit(1))))
          .as("text"))
      val flagged = graft.streaming.StreamingOps
        .decontaminateStream(raw, "text", test, "text", n = 8)
      val sink = s"s52_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = flagged.select(col("doc_id"), col("contaminated"))
        .writeStream.format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink).orderBy("doc_id")
    }),

    "s55_stream_heavy_hitters" -> ((s, dir) => {
      // streaming heavy hitters: the Misra-Gries aggregate runs as a
      // STREAMING aggregation (complete mode, one global group — state is
      // ONE <=64-entry buffer, and micro-batch folding exercises exactly
      // the mergeable-summaries rule the batch spec pins). The drained
      // candidates feed the same isin-pushed exact batch recount, so the
      // stream grades against d79's plain GROUP BY/HAVING oracle verbatim.
      val toks = tStream(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("term"))
      val sink = s"s55_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = toks
        .agg(GraftFunctions.misra_gries(col("term"), 64).as("mg"))
        .writeStream.outputMode("complete").format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val mg = s.table(sink).select(col("mg")).head().getStruct(0)
      val total = mg.getLong(0)
      val cands = mg.getSeq[Row](1).map(_.getString(0))
      val occ = t(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("term"))
      occ.where(col("term").isin(cands: _*))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") * lit(64L) >= lit(total))
        .orderBy("term")
    }),

    "s54_stream_lm_score" -> ((s, dir) => {
      // in-flight perplexity filtering: the trigram LM trains in batch on
      // the trusted third (d77's model), is CAPTURED driver-side
      // (vocabulary-sized), and scores the document stream through a
      // MAP-ONLY codegen expression — no join, no state store in the
      // micro-batch. Graded by the identical d77 oracle: map-only scoring
      // is batch-invariant by construction.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val model = TextOps.trainCharTrigramLm(docs.where("doc_id % 3 = 0"), "text")
      val (counts, denom) = TextOps.collectLmModel(model)
      val raw = tStream(s, dir, "documents").select("doc_id", "text")
      val scored = raw.select(col("doc_id"),
          TextOps.scoreWithLmLocal(col("text"), counts, denom).as("__s"))
        .select(col("doc_id"), col("__s.n_trigrams").as("n_trigrams"),
          round(col("__s.avg_logp"), 6).as("avg_logp"))
      val sink = s"s54_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = scored.writeStream.format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink).orderBy("doc_id")
    }),

    "s59_stream_repetition_gate" -> ((s, dir) => {
      // in-flight Gopher repetition gating: repetition_stats is ONE
      // codegen map pass (zero shuffles, no state store), so the quality
      // signals compute on the stream exactly as in batch — graded by
      // the identical d91 oracle because map-only scoring is
      // batch-invariant by construction. Same derived line view as d91.
      val lined = tStream(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", col("text"), lit(""),
          substring(col("text"), 1, 60), substring(col("text"), 1, 60))
          .as("text"))
      val gated = CorpusOps.repetitionSignals(lined, "doc_id", "text", n = 2)
      val sink = s"s59_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = gated.writeStream.format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink).orderBy("doc_id")
    }),

    "s75_stream_unigram_entropy" -> ((s, dir) => {
      // in-flight RPv2 entropy gating: unigram_entropy is ONE codegen
      // map pass (zero shuffles, no state store), so the diversity
      // signal computes on the stream exactly as in batch — graded by
      // the identical d119 oracle (the s59/d91 map-only-is-batch-
      // invariant pattern).
      val toks = TextOps.tokens(col("text"))
      val scored = tStream(s, dir, "documents").select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_types"),
        round(graft.functions.GraftFunctions.unigram_entropy(toks), 6)
          .as("unigram_entropy"))
      val sink = s"s75_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = scored.writeStream.format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink).orderBy("doc_id")
    }),

    "s76_stream_classifier_score" -> ((s, dir) => {
      // train/serve parity for the d120 classifier: the model trains on
      // the TABLE (two bounded driver actions), then scores the arriving
      // stream map-only (one codegen histogram + a fixed-order dot — no
      // state store, no shuffle), so in-flight scores are identical to
      // batch scores by construction and the d120 oracle grades them.
      val docs = t(s, dir, "documents")
      val isEn = when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0))
      val w = TextOps.trainLogReg(docs, "text", isEn, iters = 2, lr = 1.0)
      val p = TextOps.scoreLogReg(col("text"), w)
      val scored = tStream(s, dir, "documents").select(col("doc_id"),
        when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("label"),
        round(p, 6).as("score"),
        (p >= lit(0.5)).cast("long").as("pred"))
      val sink = s"s76_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = scored.writeStream.format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink).orderBy("doc_id")
    }),

    "s68_stream_split_assign" -> ((s, dir) => {
      // split assignment AT INGEST: splitAssign is map-only (content-hash
      // bucket arithmetic, zero state), so documents get their permanent
      // train/val/test home the moment they arrive — batch-invariant by
      // construction, graded by d105's own oracle. This closes the split
      // lifecycle: assign on ingest (here) → audit leakage (d106) →
      // repair clusters (d108).
      val docs = tStream(s, dir, "documents").select("doc_id", "lang", "text")
      val assigned = CorpusOps.splitAssign(docs, col("text"))
        .select("doc_id", "lang", "split")
      val sink = s"s68_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = assigned.writeStream.format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink).orderBy("doc_id")
    }),

    "s69_stream_weighted_sample" -> ((s, dir) => {
      // d109's weighted reservoir maintained LIVE: the ES keys are
      // stateless per row and top_k_by is a combinable aggregate, so a
      // complete-mode streaming groupBy holds exactly one <= k-entry
      // buffer per stratum (bounded state by construction — the
      // reservoir property) and every micro-batch updates the standing
      // sample in place. The AvailableNow drain equals the batch draw,
      // so d109's oracle grades it verbatim.
      val docs = tStream(s, dir, "documents").select(col("doc_id"),
        col("lang"), TextOps.tokenCount(col("text")).as("w"))
      val sampled = CorpusOps.weightedSample(docs, "doc_id", "lang",
        col("w"), k = 20, seed = "ws1")
      val sink = s"s69_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = sampled.writeStream.outputMode("complete")
        .format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink).orderBy("lang", "rank")
    }),

    "s70_stream_dsir_select" -> ((s, dir) => {
      // d112's DSIR selection maintained LIVE: the importance model
      // trains in batch (dsirDeltas — a bounded 256-double artifact
      // captured driver-side, the s54 train-in-batch/score-in-flight
      // pattern), scoring is stateless per row, and Gumbel top-k is a
      // combinable aggregate — a complete-mode streaming agg holds ONE
      // ≤ k-entry buffer and every micro-batch updates the standing
      // selection in place. The AvailableNow drain equals the batch
      // draw, so d112's oracle grades it verbatim.
      val deltas = CorpusOps.dsirDeltas(t(s, dir, "documents"), "text",
        col("lang") === "en")
      val docs = tStream(s, dir, "documents").select("doc_id", "text")
      val selected = CorpusOps.dsirSelectWith(docs, "doc_id", "text",
        deltas, k = 50, seed = "dsir1")
      val sink = s"s70_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = selected.writeStream.outputMode("complete")
        .format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink).orderBy("rank")
    }),

    "s71_stream_tokenizer_fertility" -> ((s, dir) => {
      // d114's fertility audit maintained LIVE: merges train in batch
      // (bounded 3-row collect, the s54 train-in-batch pattern), the
      // merge chain scores each arriving word map-only, and the
      // per-language counters are combinable sums — complete mode
      // holds one row per language and every micro-batch updates the
      // standing fertility report. Drain == batch audit; d114's
      // oracle grades it verbatim.
      val batch = t(s, dir, "documents")
      val merges = CorpusOps.bpeTrainMerges(batch, "text", iters = 3)
        .orderBy("iter").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val docs = tStream(s, dir, "documents").select("lang", "text")
      val stats = CorpusOps.bpeSegmentStats(docs, "lang", "text", merges)
      val sink = s"s71_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = stats.writeStream.outputMode("complete")
        .format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink).orderBy("lang")
    }),

    "s72_stream_dsir_model" -> ((s, dir) => {
      // the DSIR model MAINTAINED live — the fourth corner of the DSIR
      // lifecycle (train d112 / incremental fold d115 / score-in-flight
      // s70 / this): the histogram is an additive aggregate with ≤ 256
      // buckets of state, so a complete-mode streaming groupBy holds
      // the ENTIRE standing model and every micro-batch folds itself
      // in. The drain equals one full-corpus train — d115's oracle
      // grades the collapsed deltas verbatim.
      import s.implicits._
      val docs = tStream(s, dir, "documents").select("lang", "text")
      val hist = CorpusOps.dsirHistogram(docs, "text", col("lang") === "en")
      val sink = s"s72_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = hist.writeStream.outputMode("complete")
        .format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      CorpusOps.dsirDeltasFromHistogram(s.table(sink), 256)
        .zipWithIndex.map { case (d, i) => (i.toLong, d + 0.0d) }.toSeq
        .toDF("bucket", "delta").orderBy("bucket")
    }),

    "s73_stream_packing_efficiency" -> ((s, dir) => {
      // d117's packing audit maintained LIVE: the per-source counters
      // (doc count, token total, padded-chunk total) are combinable
      // sums — ONE stateful aggregation with one state row per source,
      // the packed/waste columns derive statelessly after it — so
      // complete mode holds the standing report and every micro-batch
      // folds in. Drain == batch audit; d117's oracle grades it
      // verbatim.
      val docs = tStream(s, dir, "documents").select("source", "text")
      val stats = CorpusOps.packingEfficiency(docs, "text", "source",
        ctxLen = 64)
      val sink = s"s73_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = stats.writeStream.outputMode("complete")
        .format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink).orderBy("source")
    }),

    "s47_stream_ingest_dedup" -> ((s, dir) =>
      // the WHOLE streaming-ingest dedup story: table commits consumed in
      // order (processAvailableCommits), each batch incremental-near-dup
      // checked against the accumulated signature state, accepted rows +
      // state deltas committed per batch — commit 1 is the corpus, commit
      // 2 its mutated near-dups, so the accepted table must equal d57's
      // two-step result (shared oracle).
      streamIngestDedup(s,
        t(s, dir, "documents").select("doc_id", "lang", "text"))),

    "s46_stream_branch" -> ((s, dir) => {
      // the write-audit-publish AUDIT consumer: commits staged on a branch
      // stream to their auditor BEFORE publish (branch ancestry = main's
      // history at stage time + the staged commits), while main consumers
      // see nothing until fastForward. Offsets are sequence numbers on the
      // BRANCH's ancestry.
      val wh = java.nio.file.Files.createTempDirectory("graft-s46").toString
      val cat = new graft.catalog.HadoopCatalog(wh)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val tbl = cat.createTable("default.audit_src",
        graft.types.SparkSchemaConverter.fromSpark(docs.schema))
      tbl.append(docs.where("doc_id < 50"))                       // published
      tbl.refresh().appendToBranch("audit",
        docs.where("doc_id >= 50 and doc_id < 100"))              // staged
      val sink = s"s46_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = s.readStream.format("graft").option("branch", "audit")
        .load(s"$wh/default/audit_src")
        .writeStream.format("memory").queryName(sink).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink).orderBy("doc_id")
    }),

    // ------------------------------------------------- LLM-pipeline ops
    "d30_exact_dedup" -> ((s, dir) => {
      DedupOps.exactDedup(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("content_hash")
    }),

    "d31_dedup_rows" -> ((s, dir) => {
      DedupOps.exactDedupRows(t(s, dir, "documents"), "doc_id", "text")
        .groupBy("lang").agg(n().as("n_docs"))
        .orderBy("lang")
    }),

    "d32_token_stats" -> ((s, dir) => {
      val txt = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(txt).cast("long").as("n_tokens"),
        TextOps.subwordCount(txt).cast("long").as("n_subwords"),
        TextOps.charCount(txt).cast("long").as("n_chars"),
        TextOps.punctCount(txt).cast("long").as("n_punct"),
        TextOps.digitCount(txt).cast("long").as("n_digits"))
        .orderBy("doc_id")
    }),

    "d33_lang_quality" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(
          TextOps.langId(col("text")).as("lang_pred"),
          TextOps.qualityScore(col("text")).cast("long").as("quality"))
        .agg(n().as("n_docs"))
        .orderBy("lang_pred", "quality")
    }),

    "d98_lang_confusion" -> ((s, dir) => {
      // label-noise audit: declared `lang` vs the stopword-profile
      // prediction as a confusion matrix — run BEFORE per-language
      // budgeting (d96/d58) trusts the labels; off-diagonal mass is
      // mislabeled ingest
      t(s, dir, "documents")
        .groupBy(col("lang"), TextOps.langId(col("text")).as("lang_pred"))
        .agg(n().as("n_docs"))
        .orderBy("lang", "lang_pred")
    }),

    "d43_deterministic_sample" -> ((s, dir) => {
      // stable corpus split: a document's split assignment depends only
      // on its content hash (md5 hex prefix ⇒ 3/16 ≈ 18.75% sample) —
      // reproducible across runs, clusters, and engines, unlike RNG
      // sampling; map-only until the final tiny aggregate
      t(s, dir, "documents")
        .where(substring(md5(col("text").cast("binary")), 1, 1).isin("0", "1", "2"))
        .groupBy("lang")
        .agg(n().as("n_docs"), sumd(d2(length(col("text")))).as("sum_chars"))
        .orderBy("lang")
    }),

    "d44_quality_topk" -> ((s, dir) => {
      // per-language quality curation: keep the top-10 docs per predicted
      // language by quality score (deterministic doc_id tie-break). One
      // shuffle on lang_pred; the window ranks within partitions.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang_pred").orderBy(col("quality").desc, col("doc_id").asc)
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.langId(col("text")).as("lang_pred"),
          TextOps.qualityScore(col("text")).cast("long").as("quality"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 10)
        .select("lang_pred", "rk", "doc_id", "quality")
        .orderBy("lang_pred", "rk")
    }),

    "d45_neardup_clusters" -> ((s, dir) => {
      // dedup end-to-end: exact-verified near-dup pairs → connected
      // components (iterative min-label propagation) → (id, component);
      // downstream keeps component == id rows as representatives
      val pairs = DedupOps.minhashLshPairs(corpusWithNearDups(s, dir),
          "doc_id", "text", bands = 8, rowsPerBand = 4, shingleN = 3,
          threshold = 0.7)
        .select("id_a", "id_b")
      DedupOps.connectedComponents(pairs).orderBy("id")
    }),

    "d117_packing_efficiency" -> ((s, dir) => {
      // the report that justifies (or kills) a packing stage: per
      // source, ctx-windows and padding waste under concat-and-chunk
      // (d46's strategy) vs pad-each-document — the difference is the
      // compute packing saves. ctx=64 is a power of two, so every ceil
      // is an exact double division both engines replay; fractions are
      // single divisions of exact integers.
      CorpusOps.packingEfficiency(t(s, dir, "documents"), "text",
          "source", ctxLen = 64)
        .orderBy("source")
    }),

    "d46_pack_sequences" -> ((s, dir) => {
      // concat-and-chunk sequence packing for training windows: per-source
      // running token offsets + first chunk id; only shuffle is the hash
      // partition on source (no global sort — groups pack independently)
      CorpusOps.packSequences(t(s, dir, "documents"), "doc_id", "text",
          "source", ctxLen = 512)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("start_offset").cast("long").as("start_offset"),
          col("chunk_id").cast("long").as("chunk_id"))
        .orderBy("doc_id")
    }),

    "d47_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: training docs sharing any word 8-gram
      // with a test/benchmark doc (here: the planted mutated variants).
      // One shuffle join on 32-byte gram hashes; test side broadcasts.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val toks = TextOps.tokens(col("text"))
      val test = docs.where("doc_id % 5 = 0").select(
        concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 1, lit(1))))
          .as("text"))
      CorpusOps.ngramOverlap(docs, test, "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),

    "d116_contamination_report" -> ((s, dir) => {
      // the per-benchmark contamination REPORT a release review reads —
      // "which suite is burned, and how badly": three synthetic suites
      // (the d66 truncated-variant construction at strides 5/7/11)
      // audited in ONE corpus gram pass — the corpus side is hashed
      // once and joined against the union of suite-tagged test grams,
      // so auditing S suites costs one pass, not S. Per-suite values
      // equal an aggregated d66 run; the oracle replays each suite's
      // full chain independently.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val toks = TextOps.tokens(col("text"))
      val suites = Seq(5, 7, 11).map { m =>
        s"mod$m" -> docs.where(s"doc_id % $m = 0").select(
          concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 1, lit(1))))
            .as("text"))
      }
      CorpusOps.contaminationReport(docs, suites, "doc_id", "text", n = 8)
        .orderBy("suite")
    }),

    "s74_stream_contamination_report" -> ((s, dir) => {
      // d116's release-review table maintained LIVE: each suite's gram
      // set rides the plan as a reference object, every streamed doc
      // computes its per-suite shared count MAP-ONLY (count_in_set over
      // its own distinct gram array — the batch op's join+per-doc agg
      // collapsed into an expression), and the ONLY stateful operator
      // is the per-suite counter fold: S state rows TOTAL, complete
      // mode holds the standing report. Drain == batch report; d116's
      // oracle grades it verbatim.
      // SIZE STATE PARTITIONS TO STATE VOLUME (the s66 rule): the only
      // stateful operator holds S = |suites| = 3 rows, but the state-
      // partition count is fixed at first run from shuffle.partitions —
      // 32 state stores each paying a constant create+fsync+rename per
      // batch for a 3-row state is pure commit I/O. The map-only scoring
      // runs on scan partitions (unaffected); the integer fold is
      // partition-count-invariant, hash unchanged. The override lives on
      // a CLONED session (r17 advice): set/restore on the shared session
      // was correct only because nothing plans concurrently during
      // start(); the clone removes that assumption outright (newSession
      // shares the SparkContext, inherits the builder conf and SQL
      // extensions, and the memory sink registers in the clone's
      // catalog — so the result reads from the clone too).
      val ns = s.newSession()
      ns.conf.set("spark.sql.shuffle.partitions", "4")
      val docsStatic = t(ns, dir, "documents").select("doc_id", "text")
      val toks = TextOps.tokens(col("text"))
      val suites = Seq(5, 7, 11).map { m =>
        s"mod$m" -> docsStatic.where(s"doc_id % $m = 0").select(
          concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 1, lit(1))))
            .as("text"))
      }
      val stream = tStream(ns, dir, "documents").select("doc_id", "text")
      val report = graft.streaming.StreamingOps
        .contaminationReportStream(stream, "text", suites, "text", n = 8)
      val sink = s"s74_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = report.writeStream.outputMode("complete")
        .format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      ns.table(sink).orderBy("suite")
    }),

    "d66_contamination_score" -> ((s, dir) => {
      // graded contamination audit: EVERY doc scored by the fraction of
      // its distinct 8-grams colliding with the benchmark (d47's test
      // side) — pipelines threshold the fraction instead of dropping on
      // one shared gram. Same single-shuffle join; the frac is one exact
      // double division so both engines agree bitwise.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val toks = TextOps.tokens(col("text"))
      val test = docs.where("doc_id % 5 = 0").select(
        concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 1, lit(1))))
          .as("text"))
      CorpusOps.contaminationScore(docs, test, "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),

    "d56_fuzzy_decontaminate" -> ((s, dir) => {
      // FUZZY decontamination: the mutated benchmark variants of d47 are
      // caught by exact 8-gram overlap, but a paraphrased test doc need
      // not share one exact 8-gram — near-duplicate leakage is what
      // 3-shingle Jaccard >= 0.7 sees. Banded MinHash candidates between
      // corpus and (broadcast) test side only; output = cleaned corpus.
      val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
      val toks = TextOps.tokens(col("text"))
      val test = docs.where("doc_id % 5 = 0").select(
        concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 1, lit(1))))
          .as("text"))
      DedupOps.fuzzyDecontaminate(docs, test, "doc_id", "text")
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    "d57_incremental_neardup" -> ((s, dir) =>
      // INCREMENTAL ingest dedup, end to end through graft tables: batch 1
      // (the corpus) is accepted against empty state; batch 2 (mutated
      // variants) dedups against the ACCUMULATED band-signature state —
      // the accepted corpus is never re-hashed, only probed. State and
      // accepted docs live in graft tables, appended per step, exactly
      // like a streaming ingest pipeline would run it.
      incrementalNearDupTwoStep(s,
        t(s, dir, "documents").select("doc_id", "lang", "text"))),

    "d58_budget_select" -> ((s, dir) => {
      // token-budget training-mix selection: per language, the
      // highest-quality docs (n_chars as the quality proxy here) fill a
      // 2000-token budget; the budget-crossing doc is included. One
      // window per stratum, no global sort.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars"), TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      CorpusOps.selectWithinBudget(docs, "doc_id", "lang", "n_chars",
          "n_tokens", budgetPerStratum = 2000L)
        .select("doc_id", "lang", "n_tokens").orderBy("doc_id")
    }),

    "d94_script_profile" -> ((s, dir) => {
      // Unicode-script routing signal: the ASCII fixture gets
      // deterministic Han/Cyrillic planted per doc_id (both engines
      // rebuild the same text), then one map-only regexp pass per
      // script counts characters — integer-exact in the oracle. The
      // signal that routes CJK-dominant shards to capped-vocabulary
      // models before the trigram blowup, not after.
      val multi = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" "),
          expr("repeat('中', cast(doc_id % 4 as int))"),
          expr("repeat('я', cast(doc_id % 3 as int))")).as("text"))
      TextOps.scriptProfile(multi, "doc_id", "text")
        .orderBy("doc_id")
    }),

    "d93_fuzzy_match" -> ((s, dir) => {
      // record linkage: a dirty feed (every part name with a planted
      // ' x' suffix, new ids) reconciled against the clean catalog via
      // first-token blocking + banded Levenshtein (threshold form, so
      // the kernel bails past maxDistance instead of filling the DP
      // matrix). Best match = struct-min (distance, then smallest
      // catalog id — the fixture has exact-duplicate part names, which
      // is precisely what makes the tie rule matter). Integer edit
      // distances replay exactly in the oracle.
      val parts = t(s, dir, "part").where("p_partkey % 20 = 3")
        .select("p_partkey", "p_name")
      val dirty = parts.select(
        (col("p_partkey") + 5000000L).as("rec_id"),
        concat(col("p_name"), lit(" x")).as("name"))
      DedupOps.fuzzyMatch(dirty, "rec_id", "name",
          parts, "p_partkey", "p_name",
          dirtyBlock = split(col("name"), " ").getItem(0),
          catalogBlock = split(col("p_name"), " ").getItem(0),
          maxDistance = 2)
        .select(col("dirty_id"), col("match_id"),
          col("lev").cast("long").as("lev"))
        .orderBy("dirty_id")
    }),

    "d92_curation_pipeline" -> ((s, dir) => {
      // the full FineWeb-style curation chain in ONE declarative plan:
      // map-only quality gate (repetition signals) → exact dedup
      // keep-first (on a corpus with planted cross-source duplicates, so
      // a dedup regression becomes VISIBLE in the output) → per-language
      // token-budget fill. Every stage is an individually-graded
      // operator (d91, d30, d58); the composition grades end-to-end
      // through one SQL replay, proving the stages chain without hidden
      // state or order dependence. Plan: gate adds zero exchanges, dedup
      // one digest shuffle + winner semi-join, budget the d58 two-phase
      // bucket select — the whole pipeline is 100 TB-shaped because each
      // stage already is.
      val base = t(s, dir, "documents").select("doc_id", "lang", "text", "n_chars")
      val dupes = base.where("doc_id % 7 = 0").select(
        (col("doc_id") + 1000000L).as("doc_id"),
        col("lang"), col("text"), col("n_chars"))
      val docs = base.unionByName(dupes)
      val gated = docs
        .withColumn("__sig",
          graft.functions.GraftFunctions.repetition_stats(col("text"), 2))
        .where(col("__sig.n_grams") >= 20 && col("__sig.top_gram_frac") <= 0.06)
        .drop("__sig")
      val deduped = DedupOps.exactDedupRows(gated, "doc_id", "text")
      // checkpoint the SHARED post-dedup metadata (r17 verdict item 5):
      // the budget select references its input several times (two-phase
      // bucket selection), and AQE stage reuse only dedupes identical
      // whole exchanges — the r18 executed-plan dump showed the gate
      // kernel + dedup re-running inside multiple broadcast subtrees
      // (58 FileScan refs for one corpus). The checkpointed frame is the
      // COMPACT survivor metadata (doc_id, lang, n_chars, n_tokens — no
      // text), so gate → dedup → tokenize run exactly once and every
      // downstream reference reads the bounded materialization — the
      // guide's decide-on-small-rows rule applied to the pipeline spine.
      // Trade-off: localCheckpoint() is eager, so merely building this
      // query (PlanDump's static mode, anything enumerating `queries`)
      // runs the gate-and-dedup job; and it cuts lineage, so a lost
      // executor block cannot be recomputed and the query fails instead.
      val withTok = deduped.select(col("doc_id"), col("lang"), col("n_chars"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .localCheckpoint()
      CorpusOps.selectWithinBudget(withTok, "doc_id", "lang", "n_chars",
          "n_tokens", budgetPerStratum = 1500L)
        .select("doc_id", "lang", "n_tokens").orderBy("doc_id")
    }),

    "d48_redact_pii" -> ((s, dir) => {
      // PII scrubbing: deterministic synthetic contact lines (so the
      // oracle can replay them), then a codegen'd regexp_replace chain;
      // md5 of the redacted text makes the compare bitwise
      val pii = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com call +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
      pii.select(col("doc_id"),
          md5(TextOps.redactPii(col("text")).cast("binary")).as("red_hash"),
          TextOps.emailCount(col("text")).cast("long").as("n_emails"),
          TextOps.phoneCount(col("text")).cast("long").as("n_phones"))
        .orderBy("doc_id")
    }),

    "d67_domain_blocklist" -> ((s, dir) => {
      // URL/domain blocklist cleaning: deterministic synthetic urls (so
      // the oracle replays them), subdomain-suffix matching against a
      // blocklist — both blocked hosts here are SUBDOMAIN matches, which
      // exact-host filters miss
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://"),
          element_at(array(lit("ads.tracker.net"), lit("example.com"),
            lit("sub.spam.bad"), lit("goodsite.org"), lit("www.example.com")),
            (col("doc_id") % 5 + 1).cast("int")),
          lit("/p/"), col("doc_id").cast("string")).as("url"))
      val block = s.createDataFrame(
        java.util.Arrays.asList(Row("tracker.net"), Row("spam.bad")),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("domain",
            org.apache.spark.sql.types.StringType))))
      CorpusOps.domainBlocklist(urls, "doc_id", "url", block)
        .select(col("doc_id"), col("host"), col("blocked_domains"))
        .orderBy("doc_id")
    }),

    "d73_canonical_urls" -> ((s, dir) => {
      // URL canonicalization before URL-keyed dedup: mixed-case hosts,
      // default ports, fragments, trailing slashes, tracking params, and
      // unsorted query params all collapse to one key; the canonical
      // group count proves fetch-variants of the same page meet. The
      // oracle replays every rule in SQL over the identical synth urls.
      val variants = array(
        lit("HTTP://Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag"),
        lit("https://News.site.org:443/path/"),
        lit("https://news.site.org/path"),
        lit("http://example.com/a/b?a=1&b=2&utm_campaign=z&gclid=123"),
        lit("https://shop.io//"),
        lit("ftp://files.host:21/x"),
        lit("https://example.com/?fbclid=abc&x=1"),
        lit("not a url at all"))
      val urls = t(s, dir, "documents").select(col("doc_id"),
        element_at(variants, (col("doc_id") % 8 + 1).cast("int")).as("url"))
      urls.select(col("doc_id"), col("url"),
          CorpusOps.canonicalizeUrl(col("url")).as("canonical_url"))
        .orderBy("doc_id")
    }),

    "j01_asof_join" -> ((s, dir) => {
      // keyed as-of join (pandas merge_asof / kdb aj semantics — an
      // operator Spark's own algebra lacks): every event picks the latest
      // same-user quote at-or-before its timestamp via the sorted-union
      // running-window plan — ONE exchange on user_id, |L|+|R| rows
      // sorted, no join candidate explosion. Event 0 quotes itself
      // (equal-timestamp inclusive bound). Oracle: DuckDB's native ASOF
      // LEFT JOIN over the identical deduped quote table.
      val ev = t(s, dir, "events")
      val quotes = ev.where("event_id % 7 = 0")
        .groupBy("user_id", "ts").agg(max("value").as("quote"))
      JoinOps.asofJoin(ev.select("event_id", "user_id", "ts", "value"),
          quotes, "ts", "ts", by = Seq("user_id"))
        .select(col("event_id"), col("right_quote").as("quote"),
          (unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("right_ts").cast("timestamp"))).as("lag_us"))
        .orderBy("event_id")
    }),

    "e48_kmeans" -> ((s, dir) => {
      // distributed spherical k-means over the FULL corpus: deterministic
      // init (k lowest ids), one Lloyd update whose centroid means are
      // fixed-point integer sums — bitwise reproducible under ANY
      // partitioning, which is what lets a cross-engine oracle replay the
      // identical centroids. The oracle recomputes init -> assign ->
      // integer-sum update -> reassign entirely in SQL.
      SimilarityOps.kmeans(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, iters = 1)
        .orderBy("vec_id")
    }),

    "d74_inverted_index" -> ((s, dir) => {
      // positional inverted index with df bounds: the posting build is
      // map-only (one compiled term_postings loop per doc — r17, was a
      // full occurrence shuffle); document frequency is a combinable
      // per-term count that joins back (no per-term window — that would
      // sort every stopword posting in one task). positions_csv makes
      // the list bitwise hash-comparable across engines.
      CorpusOps.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
          minDf = 3L, maxDf = 450L)
        .select(col("term"), col("df"), col("doc_id"), col("tf"),
          array_join(col("positions"), ",").as("positions_csv"))
        .orderBy("term", "doc_id")
    }),

    "j02_range_join" -> ((s, dir) => {
      // point-in-interval range join without a cartesian: every 53rd event
      // opens a 2-hour per-user window; events falling inside match. The
      // plan bins both sides at the window length (7200 s) so each true
      // pair meets on exactly one (user, bin) equi-key — the bucketized
      // alternative to the BroadcastNestedLoop plan Spark picks for a raw
      // BETWEEN predicate. Oracle: the raw BETWEEN join (exact same pairs).
      val ev = t(s, dir, "events")
      val markers = ev.where("event_id % 53 = 0").select(
        col("event_id").as("marker_id"), col("user_id"),
        col("ts").as("lo"), (col("ts") + expr("INTERVAL 2 HOURS")).as("hi"))
      JoinOps.rangeJoin(ev.select("event_id", "user_id", "ts"), "ts",
          markers, "lo", "hi", binWidth = 7200.0, by = Seq("user_id"))
        .select(col("event_id"), col("marker_id"), col("user_id"))
        .orderBy("event_id", "marker_id")
    }),

    "j04_asof_nearest" -> ((s, dir) => {
      // nearest-direction as-of: whichever of the backward/forward match
      // is closer wins (backward on ties) — both directional carries run
      // over the SAME hash partitioning, so it is still ONE exchange, two
      // in-partition sorts. Oracle: two DuckDB ASOF joins + the same
      // closest-wins CASE.
      val ev = t(s, dir, "events")
      val quotes = ev.where("event_id % 7 = 0")
        .groupBy("user_id", "ts").agg(max("value").as("quote"))
      JoinOps.asofJoin(ev.select("event_id", "user_id", "ts", "value"),
          quotes, "ts", "ts", by = Seq("user_id"), direction = "nearest")
        .select(col("event_id"), col("right_quote").as("quote"),
          (unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("right_ts").cast("timestamp"))).as("lag_us"))
        .orderBy("event_id")
    }),

    "s53_stream_asof_enrich" -> ((s, dir) => {
      // streaming as-of enrichment: the events table streams through
      // foreachBatch, each micro-batch as-of joined to the static quote
      // table. Batch-invariant (the match depends only on the row and the
      // static right side), so the drained result must equal j01's batch
      // as-of — the shared oracle.
      val ev = tStream(s, dir, "events")
        .select("event_id", "user_id", "ts", "value")
      val quotes = t(s, dir, "events").where("event_id % 7 = 0")
        .groupBy("user_id", "ts").agg(max("value").as("quote"))
      val out = java.nio.file.Files.createTempDirectory("graft-s53").toString
      val q = graft.streaming.StreamingOps.asofEnrichStream(
        ev, quotes, "ts", "ts", Seq("user_id"), s"$out/data", s"$out/ckpt")
      q.awaitTermination()
      s.read.parquet(s"$out/data")
        .select(col("event_id"), col("right_quote").as("quote"),
          (unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("right_ts").cast("timestamp"))).as("lag_us"))
        .orderBy("event_id")
    }),

    "d75_corpus_diff" -> ((s, dir) => {
      // snapshot diff between two corpus generations: removals (every
      // 17th), edits (every 13th survivor), additions (every 11th,
      // re-keyed) — classified by a hash-only full-outer join; unchanged
      // rows (the corpus) never reach the output.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val base = docs.where("doc_id % 17 != 0")
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      val added = docs.where("doc_id % 11 = 0")
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      CorpusOps.corpusDiff(docs, base.unionByName(added), "doc_id", "text")
        .orderBy("doc_id")
    }),

    "d76_bm25_topk" -> ((s, dir) => {
      // BM25 retrieval: every 97th document's first-4-token prefix becomes
      // a query against the full corpus; text never rides a shuffle (the
      // corpus compacts to integer postings), query terms broadcast, and
      // per-query top-k goes through the map-side-combining top_k_by
      // aggregate. Scores round to 6 decimals BEFORE ranking so rank is
      // engine-reproducible (ties break on doc_id, which the oracle
      // replicates). k1 = 1.25 is DYADIC: every constant in the score is
      // an exact double, so both engines evaluate the same formula on
      // identical operands.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where("doc_id % 97 = 0")
        .select(col("doc_id").as("query_id"),
          array_join(slice(TextOps.tokens(col("text")), 1, 4), " ").as("qtext"))
      CorpusOps.bm25TopK(docs, "doc_id", "text",
          queries, "query_id", "qtext", k = 5, k1 = 1.25, b = 0.75)
        .orderBy("query_id", "rank")
    }),

    "d82_bm25_index" -> ((s, dir) => {
      // PERSISTED BM25 index round trip — the e47 treatment for lexical
      // retrieval: postings land in a TERM-BUCKETED graft table (16
      // murmur3 buckets) plus a one-row stats table; search runs against
      // the RELOADED tables with the query vocabulary pushed as a
      // term-IN filter, so manifest pruning skips unprobed bucket
      // partitions before reading index bytes (file counts asserted in
      // OpsSpec). Same queries/constants as the recompute-per-call d76,
      // graded by the same oracle — the storage round trip and the scan
      // path are what this entry adds.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where("doc_id % 97 = 0")
        .select(col("doc_id").as("query_id"),
          array_join(slice(TextOps.tokens(col("text")), 1, 4), " ").as("qtext"))
      val (postings, stats) = CorpusOps.bm25Index(docs, "doc_id", "text")
      val wh = java.nio.file.Files.createTempDirectory("graft-bm25-wh").toString
      val cat = new HadoopCatalog(wh)
      val pSchema = SparkSchemaConverter.fromSpark(postings.schema)
      val pTbl = cat.createTable("bm25_postings", pSchema,
        partitionSpec = PartitionSpec(0, Seq(PartitionField(
          pSchema.fieldByName("term").get.id, 1000, "term_bucket", "bucket[16]"))))
      pTbl.append(postings)
      val sTbl = cat.createTable("bm25_stats",
        SparkSchemaConverter.fromSpark(stats.schema))
      sTbl.append(stats)
      // DSv2 loads so the pushed term-IN filter prunes bucket partitions
      // in the EXECUTED plan (the e47 argument)
      CorpusOps.bm25SearchIndexed(
          s.read.format("graft").load(pTbl.location),
          s.read.format("graft").load(sTbl.location),
          queries, "query_id", "qtext", k = 5, k1 = 1.25, b = 0.75)
        .orderBy("query_id", "rank")
    }),

    "d82_bm25_search_only" -> ((s, dir) => {
      // the AMORTIZED half of d82: search against the standing persisted
      // index (memoized per session+sf — built once, then every call is
      // vocab-pruned scan + score). Same queries, same oracle; in the
      // bench the warm run pays the build so the steady-state number is
      // what repeated query batches cost against the index.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where("doc_id % 97 = 0")
        .select(col("doc_id").as("query_id"),
          array_join(slice(TextOps.tokens(col("text")), 1, 4), " ").as("qtext"))
      val (postings, stats) = persistedBm25Index(s, dir)
      CorpusOps.bm25SearchIndexed(postings, stats,
          queries, "query_id", "qtext", k = 5, k1 = 1.25, b = 0.75)
        .orderBy("query_id", "rank")
    }),

    "d104_bm25_incremental" -> ((s, dir) => {
      // INCREMENTAL index maintenance: the base index covers 4/5 of the
      // corpus; the last fifth arrives as an ingest batch folded in via
      // appendToBm25Index — delta postings APPENDED (new snapshot), the
      // one-row stats table OVERWRITTEN (snapshot-versioned), the base
      // corpus never re-read. Graded by the same full-corpus oracle as
      // d76/d82: hash equality proves incrementally-maintained ==
      // from-scratch rebuild, bitwise.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val base = docs.where("doc_id % 5 != 4")
      val delta = docs.where("doc_id % 5 = 4")
      val queries = docs.where("doc_id % 97 = 0")
        .select(col("doc_id").as("query_id"),
          array_join(slice(TextOps.tokens(col("text")), 1, 4), " ").as("qtext"))
      val (postings, stats) = CorpusOps.bm25Index(base, "doc_id", "text")
      val wh = java.nio.file.Files.createTempDirectory("graft-bm25-inc-wh").toString
      val cat = new HadoopCatalog(wh)
      val pSchema = SparkSchemaConverter.fromSpark(postings.schema)
      val pTbl = cat.createTable("bm25_postings", pSchema,
        partitionSpec = PartitionSpec(0, Seq(PartitionField(
          pSchema.fieldByName("term").get.id, 1000, "term_bucket", "bucket[16]"))))
      pTbl.append(postings)
      val sTbl = cat.createTable("bm25_stats",
        SparkSchemaConverter.fromSpark(stats.schema))
      sTbl.append(stats)
      val (deltaPostings, mergedStats) = CorpusOps.appendToBm25Index(
        s.read.format("graft").load(pTbl.location),
        s.read.format("graft").load(sTbl.location),
        delta, "doc_id", "text")
      pTbl.append(deltaPostings)
      sTbl.overwrite(mergedStats)
      CorpusOps.bm25SearchIndexed(
          s.read.format("graft").load(pTbl.location),
          s.read.format("graft").load(sTbl.location),
          queries, "query_id", "qtext", k = 5, k1 = 1.25, b = 0.75)
        .orderBy("query_id", "rank")
    }),

    "s67_stream_bm25_index" -> ((s, dir) => {
      // STREAMED lexical-index maintenance (the e53 treatment for BM25,
      // the streaming twin of d104): the base index covers 3/5 of the
      // corpus; the rest arrives as TWO table commits consumed as
      // micro-batches, each folded in by bm25IndexStream — delta
      // postings appended, the one-row stats table overwritten from
      // exact integer totals, both commits batch-id-stamped so replays
      // skip. Search over the grown index grades against the same
      // full-corpus oracle as d76/d82/d104: the standing index never
      // drifts from a from-scratch rebuild.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where("doc_id % 97 = 0")
        .select(col("doc_id").as("query_id"),
          array_join(slice(TextOps.tokens(col("text")), 1, 4), " ").as("qtext"))
      val base = docs.where("doc_id % 5 <= 2")
      val wh = java.nio.file.Files.createTempDirectory("graft-s67-wh").toString
      val cat = new HadoopCatalog(wh)
      val src = cat.createTable("default.delta_src",
        SparkSchemaConverter.fromSpark(docs.schema))
      src.append(docs.where("doc_id % 5 = 3"))
      src.refresh().append(docs.where("doc_id % 5 = 4"))
      val (postings, stats) = CorpusOps.bm25Index(base, "doc_id", "text")
      val pSchema = SparkSchemaConverter.fromSpark(postings.schema)
      val pTbl = cat.createTable("bm25_postings", pSchema,
        partitionSpec = PartitionSpec(0, Seq(PartitionField(
          pSchema.fieldByName("term").get.id, 1000, "term_bucket", "bucket[16]"))))
      pTbl.append(postings)
      val sTbl = cat.createTable("bm25_stats",
        SparkSchemaConverter.fromSpark(stats.schema))
      sTbl.append(stats)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-s67-cp").toString
      val q = graft.streaming.StreamingOps.bm25IndexStream(
        s.readStream.format("graft").load(src.location).select("doc_id", "text"),
        "doc_id", "text", pTbl, sTbl, ckpt)
      try q.processAllAvailable() finally q.stop()
      pTbl.refresh(); sTbl.refresh()
      CorpusOps.bm25SearchIndexed(
          s.read.format("graft").load(pTbl.location),
          s.read.format("graft").load(sTbl.location),
          queries, "query_id", "qtext", k = 5, k1 = 1.25, b = 0.75)
        .orderBy("query_id", "rank")
    }),

    "d77_lm_cross_score" -> ((s, dir) => {
      // cross-corpus perplexity filter (CCNet recipe): train the trigram
      // LM on the trusted third of the corpus, score EVERY document
      // against it with Laplace smoothing — unseen trigrams hit the
      // count-0 floor instead of vanishing from the average like the
      // self-trained d65 form. Model broadcast; one partial-aggregated
      // avg per doc is the only exchange.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val model = TextOps.trainCharTrigramLm(docs.where("doc_id % 3 = 0"), "text")
      TextOps.scoreWithLm(docs, "doc_id", "text", model)
        .orderBy("doc_id")
    }),

    "d80_bpe_tokens" -> ((s, dir) => {
      // real subword token accounting: BPE merges train on a bounded
      // driver sample (tokenizer training is always sample-based), then
      // one map-only codegen pass re-tokenizes the corpus — the honest
      // budget denominator vs whitespace counts. BPE inference itself is
      // not SQL-expressible (the exact subword count is property-tested
      // in OpsSpec against hand-traced merges), but the entry is still
      // HASH-GRADED: n_ws_tokens is plain SQL, and two per-document BPE
      // invariants the oracle pins to TRUE run through the real encoder —
      // lossless roundtrip (tokens reassemble to the whitespace-normalized
      // text via the </w> markers) and the count bounds
      // n_words ≤ n_bpe ≤ non-space chars + n_words (each word opens as
      // len(word)+1 symbols and never merges below one token). Any
      // encoder defect breaks a TRUE into FALSE and fails the hash.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val merges = TextOps.trainBpe(docs, "text", numMerges = 200)
      val bpe = TextOps.bpeEncode(col("text"), merges)
      val toks = TextOps.tokens(col("text"))
      docs.select(col("doc_id"),
          size(toks).cast("long").as("n_ws_tokens"),
          (trim(replace(array_join(bpe, ""), lit("</w>"), lit(" "))) ===
            array_join(toks, " ")).as("bpe_roundtrip_ok"),
          (size(bpe).cast("long") >= size(toks).cast("long") &&
            size(bpe).cast("long") <=
              length(regexp_replace(col("text"), "\\s+", "")).cast("long") +
                size(toks).cast("long")).as("n_bpe_in_bounds"))
        .orderBy("doc_id")
    }),

    "d79_heavy_hitters" -> ((s, dir) => {
      // exact stopword detection via sketch-then-verify: one Misra-Gries
      // aggregate (<= 64 entries per map partition on the exchange, never
      // the vocabulary) finds candidates with a no-false-negative
      // guarantee at the 1/64 threshold; an isin-pushed exact recount
      // plus integer threshold cnt*64 >= n makes the output exact — the
      // oracle is the plain GROUP BY/HAVING it sketches around.
      val occ = t(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("term"))
      CorpusOps.heavyHitters(occ, "term", num = 1L, den = 64L)
        .orderBy("term")
    }),

    "d78_pagerank" -> ((s, dir) => {
      // link-graph authority over a deterministic synthetic web: every doc
      // links to two modular hubs, so low-id docs accumulate rank. 3 power
      // iterations, damping 7/8 (DYADIC — 1-d is exact, so both engines
      // iterate on identical constants); ranks round to 6 at output only.
      val docs = t(s, dir, "documents").select("doc_id")
      val edges = docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 13) % 101).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          (col("doc_id") % 97).as("dst")))
      GraphOps.pageRank(edges, "src", "dst", iters = 3, damping = 0.875)
        .select(col("id").as("doc_id"), round(col("rank"), 6).as("rank"))
        .orderBy("doc_id")
    }),

    "d101_label_propagation" -> ((s, dir) => {
      // community detection over d78's synthetic link graph: 3 rounds of
      // deterministic label propagation (neighbor-majority vote, ties to
      // the smallest label, self-loops dropped) — RNG-free, so the
      // oracle unrolls the identical rounds
      val docs = t(s, dir, "documents").select("doc_id")
      val edges = docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 13) % 101).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          (col("doc_id") % 97).as("dst")))
      GraphOps.labelPropagation(edges, "src", "dst", iters = 3)
        .select(col("id").as("doc_id"), col("community"))
        .orderBy("doc_id")
    }),

    "d90_boilerplate" -> ((s, dir) => {
      // C4-style boilerplate removal: the fixture's docs are each ONE
      // unique sentence, so boilerplate is PLANTED — half the docs carry
      // a shared footer, a (disjoint) sixth a shared banner. Both cross
      // the maxDocs=50 frequency bar and must vanish from every carrier
      // while the unique original sentence survives verbatim; sentence
      // text shuffles only inside its own doc's rebuild group, the
      // cross-corpus frequency rides 8-byte hashes.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(". All rights reserved.")))
          .when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(". Subscribe to our newsletter.")))
          .otherwise(col("text")).as("text"))
      CorpusOps.removeBoilerplate(corpus, "doc_id", "text", maxDocs = 50)
        .orderBy("doc_id")
    }),

    "d96_temperature_mix" -> ((s, dir) => {
      // temperature-2 source flattening: per-language budgets from
      // integer floor(sqrt(n)) weights and an integer budget split, then
      // the budget's smallest (md5(text), doc_id) rows per language —
      // all integer-or-correctly-rounded arithmetic, so the oracle
      // replays the whole mix, selection included, row for row.
      val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
      CorpusOps.temperatureMix(docs, "doc_id", "lang", "text",
          totalBudget = 1200L, temperature = 2.0)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    }),

    "d105_stratified_split" -> ((s, dir) => {
      // deterministic 80/10/10 train/val/test assignment from the
      // CONTENT hash alone: map-only, zero exchange, stable under corpus
      // growth (a doc's split never rotates as the dataset versions),
      // and verbatim duplicates land in the SAME split by construction.
      // Integer bucket arithmetic over 65,536 md5-nibble buckets — the
      // oracle replays the exact assignment per row.
      val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
      CorpusOps.splitAssign(docs, col("text"))
        .select("doc_id", "lang", "split")
        .orderBy("doc_id")
    }),

    "d107_source_drift" -> ((s, dir) => {
      // per-source token-distribution drift vs the whole corpus —
      // KL(p_source || p_corpus), finite without smoothing since a
      // source's vocabulary is a subset of the corpus's. One tokenize
      // pass to compact (source, token, count) rows; every total and
      // the KL terms reuse that table. kl rounds to 6 (the d65/d77
      // precedent — only the final sum's accumulation order differs
      // between engines).
      val docs = t(s, dir, "documents").select("source", "text")
      CorpusOps.sourceDrift(docs, "source", "text")
        .select(col("source"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_types").cast("long").as("n_types"), col("kl"))
        .orderBy("source")
    }),

    "d106_split_leakage" -> ((s, dir) => {
      // the audit run BEFORE training on any hash-split dataset: which
      // train-split documents share a word 8-gram with the test split?
      // Content-hash splitting co-locates verbatim dups by construction
      // (d105), but NEAR-duplicates hash apart and can straddle the
      // split — the corpusWithNearDups mutants plant exactly that
      // failure, so the audit provably fires. Composition of two graded
      // stages: splitAssign (map-only) + ngramOverlap (one gram-hash
      // shuffle, test side broadcast).
      val corpus = corpusWithNearDups(s, dir)
      val assigned = CorpusOps.splitAssign(corpus, col("text"))
      CorpusOps.ngramOverlap(
          assigned.where("split = 'train'"),
          assigned.where("split = 'test'"),
          "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),

    "d110_cardinality_audit" -> ((s, dir) => {
      // the corpus-card numbers a 100 TB run can actually afford: exact
      // distinct counts are a full shuffle of every distinct value, so
      // deployments use HLL (one pass, 1.5 KB of state per group,
      // mergeable) — this audit CERTIFIES the sketch against exact at
      // test scale through the e44 threshold pattern: the flag flips
      // (and reds the hash) if HLL at rsd 0.02 strays past 3 rsd + 1 of
      // the exact per-source distinct count. Exact columns replay in
      // SQL; the sketch estimate itself is implementation-specific by
      // nature and never leaves the flag.
      val docs = t(s, dir, "documents").select("source", "text")
      docs.groupBy("source").agg(
          count(lit(1)).as("__n"),
          countDistinct(col("text")).as("__exact"),
          approx_count_distinct(col("text"), 0.02).as("__approx"))
        .select(col("source"), col("__n").cast("long").as("n_docs"),
          col("__exact").cast("long").as("n_distinct"),
          when(abs(col("__approx") - col("__exact")) <=
            col("__exact") * 0.06 + lit(1.0), 1L).otherwise(0L)
            .as("hll_within_3rsd"))
        .orderBy("source")
    }),

    "d111_quantile_audit" -> ((s, dir) => {
      // same certification for quantile sketches: exact per-language
      // token-count p50/p90 from the d88 histogram machinery (no corpus
      // sort) next to percentile_approx's GK sketch, with a flag that
      // reds the hash if the sketch value strays past max(5%, 2 tokens)
      // of exact. GK at accuracy 10000 is rank-exact below 10k rows per
      // group and degrades gracefully above — the flag pins that
      // contract wherever the gate runs.
      val toks = t(s, dir, "documents").select(col("lang"),
        TextOps.tokenCount(col("text")).as("ntok"))
      val exact = CorpusOps.groupQuantiles(toks, "lang", col("ntok"),
        percentiles = Seq(50, 90))
      val approx = toks.groupBy("lang").agg(percentile_approx(
        col("ntok"), array(lit(0.5), lit(0.9)), lit(10000)).as("__ap"))
      exact.join(approx, "lang")
        .select(col("lang"), col("n_rows").cast("long").as("n_docs"),
          col("p50").cast("long").as("p50"), col("p90").cast("long").as("p90"),
          when(abs(element_at(col("__ap"), 1) - col("p50")) <=
            greatest(col("p50") * 0.05, lit(2.0)), 1L).otherwise(0L)
            .as("gk_p50_ok"),
          when(abs(element_at(col("__ap"), 2) - col("p90")) <=
            greatest(col("p90") * 0.05, lit(2.0)), 1L).otherwise(0L)
            .as("gk_p90_ok"))
        .orderBy("lang")
    }),

    "d109_weighted_sample" -> ((s, dir) => {
      // token-count-weighted random subsample, 20 docs per language —
      // Efraimidis–Spirakis exponential keys made RNG-free (u from
      // seed:id md5 nibbles, BIT-identical in both engines; key =
      // ln(u)/w replayed float-for-float — ordering by a computed
      // double with an id tie-break is the e37 precedent). Longer
      // documents are proportionally likelier to be drawn; a new seed
      // is a fresh draw; the same seed reproduces the sample on any
      // layout or engine.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).as("w"))
      CorpusOps.weightedSample(docs, "doc_id", "lang", col("w"),
          k = 20, seed = "ws1")
        .orderBy("lang", "rank")
    }),

    "d112_dsir_select" -> ((s, dir) => {
      // DSIR data selection (Xie et al. 2023, arXiv:2302.03169): a
      // hashed-bigram importance model — target = the English slice,
      // raw = the whole corpus — then Gumbel top-50 RESAMPLING (not
      // top-k cherry-picking, which collapses diversity). Both phases
      // replay in SQL: the 256-bucket histogram, the 16-frac-bit
      // quantized log-ratios (per-doc sums exact dyadics in ANY order),
      // and the RNG-free Gumbel keys from d109's md5-nibble uniform.
      // Train = one histogram pass; select = one map-only scan ending
      // in a ≤ k pre-combined exchange.
      CorpusOps.dsirSelect(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en", k = 50, seed = "dsir1")
        .orderBy("rank")
    }),

    "d115_dsir_incremental" -> ((s, dir) => {
      // incremental DSIR model maintenance == rebuild (the d104/e53
      // contract applied to the importance model): the persistable
      // artifact is the ADDITIVE histogram, so folding per-batch
      // histograms (even/odd doc halves here) and collapsing to deltas
      // must bitwise-equal training once on the full corpus — which is
      // exactly what the oracle computes. Output: the 256 quantized
      // log-ratios themselves.
      import s.implicits._
      val docs = t(s, dir, "documents")
      def half(p: String) = CorpusOps.dsirHistogram(
        docs.where(p), "text", col("lang") === "en")
      val folded = half("doc_id % 2 = 0").unionByName(half("doc_id % 2 = 1"))
        .groupBy("bucket")
        .agg(sum("n_raw").as("n_raw"), sum("n_target").as("n_target"))
      CorpusOps.dsirDeltasFromHistogram(folded, 256)
        .zipWithIndex.map { case (d, i) => (i.toLong, d + 0.0d) }.toSeq
        .toDF("bucket", "delta").orderBy("bucket")
    }),

    "d113_bpe_merges" -> ((s, dir) => {
      // REAL BPE tokenizer training (Sennrich et al. 2016), 3 merge
      // rounds: pair counting runs over the frequency-weighted word-TYPE
      // table (the corpus tokenizes ONCE — iterations never re-touch
      // it), each merge applies as one literal delimiter-bracketed
      // replace whose greedy non-overlapping semantics both engines
      // share, and the per-round argmax is a 1-row TakeOrdered driver
      // action. Integer/string output only — the oracle unrolls the 3
      // rounds and matches hash-exact with no float anywhere.
      CorpusOps.bpeTrainMerges(t(s, dir, "documents"), "text", iters = 3)
        .orderBy("iter")
    }),

    "d118_bpe_batched" -> ((s, dir) => {
      // the batched trainer's GRADED face (2 rounds × M=2): each round
      // accepts up to 2 symbol-disjoint merges from the count-ordered
      // candidate list (≤ 4·M candidates scanned; a pair is skipped if
      // it reads or mints a symbol an earlier acceptance touched) and
      // applies them as ONE expression layer — the scale path that
      // buys a 32k-merge vocabulary at M merges per driver action. The
      // oracle replays the greedy-disjoint selection itself (ranked
      // candidates + the NOT IN conflict filter), so the batching
      // SEMANTICS are hash-pinned, not just the merge arithmetic.
      CorpusOps.bpeTrainMerges(t(s, dir, "documents"), "text",
          iters = 2, maxMergesPerRound = 2)
        .orderBy("iter")
    }),

    "d119_unigram_entropy" -> ((s, dir) => {
      // RedPajama-v2's unigram-entropy diversity signal (low entropy =
      // templated/repetitive text), per document, in ONE compiled loop
      // over the token array (UnigramEntropy — the token list never
      // leaves its row; zero shuffles before the final tiny sort). The
      // oracle replays it relationally: unnest → per-(doc, token)
      // counts → ln(N) − Σ c·ln c / N, met at a 6-decimal round (the
      // d77 avg-of-logs precedent). NULL text stays NULL on both sides.
      val toks = TextOps.tokens(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_types"),
          round(graft.functions.GraftFunctions.unigram_entropy(toks), 6)
            .as("unigram_entropy"))
        .orderBy("doc_id")
    }),

    "d124_zipf_slope" -> ((s, dir) => {
      // the Zipf-shape audit made quantitative: per-language OLS slope
      // of ln freq on ln rank over the top-500 vocabulary (natural
      // language ≈ −1; template spam / OCR noise bend it). Ranks from a
      // per-stratum map-side top_k_by heap (never a vocabulary sort);
      // every regression term floored to 2^-24 before the integer sums;
      // the closed-form OLS arithmetic written identically in the
      // oracle.
      CorpusOps.zipfSlope(t(s, dir, "documents"), "lang", "text", k = 500)
        .orderBy("lang")
    }),

    "d120_quality_classifier_train" -> ((s, dir) => {
      // CCNet/fastText-style quality classifier TRAINED DISTRIBUTED:
      // hashed bag-of-words features (16 md5-nibble buckets + bias),
      // 2 full-batch logistic-regression iterations whose per-document
      // gradient contributions are floored to 16 fractional bits before
      // summing — integer sums are order-invariant, so the weights are
      // bitwise-reproducible under any partitioning AND replayable by
      // the oracle (the e48 fixed-point trick applied to gradient
      // descent). Per iteration: one map-only featurize + one
      // partial-aggregated exchange of 17 longs; driver state is the
      // 17-double model (the kmeansFit envelope). The label here is
      // lang='en' (detect English from hashed token stats) — the oracle
      // replays featurize → both gradient steps → scoring end to end.
      val docs = t(s, dir, "documents")
      val isEn = when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0))
      val w = TextOps.trainLogReg(docs, "text", isEn, iters = 2, lr = 1.0)
      val p = TextOps.scoreLogReg(col("text"), w)
      docs.select(col("doc_id"),
          when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("label"),
          round(p, 6).as("score"),
          (p >= lit(0.5)).cast("long").as("pred"))
        .orderBy("doc_id")
    }),

    "d121_classifier_calibration" -> ((s, dir) => {
      // the classifier-QA step after d120's training: a reliability
      // table — per decile of predicted probability, how often is the
      // label actually positive? (the ECE ingredients). Bin membership
      // is exact (floor(p·10) on bit-identical p); mean_label is an
      // integer ratio; mean_score goes through a fixed-point sum
      // (floor(p·2^16) — order-invariant), so the whole table replays.
      // One map-only scoring pass + one ≤10-row aggregate. Trained
      // deeper than d120 (16 steps, lr 2) so several deciles populate.
      val docs = t(s, dir, "documents")
      val isEn = when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0))
      val w = TextOps.trainLogReg(docs, "text", isEn, iters = 16, lr = 2.0)
      val p = TextOps.scoreLogReg(col("text"), w)
      docs.where(col("text").isNotNull)
        .select(when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("label"),
          least(floor(p * lit(10.0)), lit(9L)).cast("long").as("bin"),
          floor(p * lit(65536.0)).cast("long").as("pq"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("label")).as("n_pos"),
          round(sum(col("label")).cast("double") / count(lit(1)), 6)
            .as("mean_label"),
          round(sum(col("pq")).cast("double") / lit(65536.0) / count(lit(1)), 6)
            .as("mean_score"))
        .orderBy("bin")
    }),

    "d122_classifier_eval" -> ((s, dir) => {
      // the honest eval loop: train on the d43 content-hash TRAINING
      // split (md5 first hex not in 0-2), report confusion cells on the
      // ~18.75% held-out docs the model never saw — integer-exact, so
      // the oracle retrains on the same split and replays the cells.
      // Generalization, not memorization, is what the counts grade.
      val docs = t(s, dir, "documents")
      val inHoldout = substring(md5(col("text").cast("binary")), 1, 1)
        .isin("0", "1", "2")
      val isEn = when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0))
      val w = TextOps.trainLogReg(docs.where(!inHoldout), "text", isEn,
        iters = 16, lr = 2.0)
      val p = TextOps.scoreLogReg(col("text"), w)
      docs.where(col("text").isNotNull && inHoldout)
        .select(when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("label"),
          (p >= lit(0.5)).cast("long").as("pred"))
        .groupBy("label", "pred")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("label", "pred")
    }),

    "d123_active_learning" -> ((s, dir) => {
      // uncertainty sampling — the annotation-batch miner of an
      // active-learning loop: the 40 docs the d121 model is LEAST sure
      // about (|p − 0.5| minimal), selected label-free. One global
      // map-side-combining top_k_by (a 40-heap per partition, one
      // ≤40-row merge — never a corpus sort); ordering by a computed
      // double with a doc_id tie-break is the e37/d109 precedent.
      val docs = t(s, dir, "documents")
      val isEn = when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0))
      val w = TextOps.trainLogReg(docs, "text", isEn, iters = 16, lr = 2.0)
      val p = TextOps.scoreLogReg(col("text"), w)
      docs.where(col("text").isNotNull)
        .select(col("doc_id"), (-abs(p - lit(0.5))).as("__key"))
        .agg(graft.functions.GraftFunctions
          .top_k_by(col("__key"), col("doc_id"), 40).as("__topk"))
        .select(posexplode(col("__topk")))
        .select((col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("doc_id"),
          round(-col("col.score"), 6).as("uncertainty"))
        .orderBy("rank")
    }),

    "d114_tokenizer_fertility" -> ((s, dir) => {
      // the trained tokenizer APPLIED: d113's merges (a bounded 3-row
      // collect — the train-then-apply pattern) segment every eligible
      // word map-only, then one per-language aggregate reports
      // fertility (symbols per word) — the tokenizer-QA gate a
      // multilingual corpus runs before any model does. The oracle
      // retrains AND reapplies the merges in SQL end to end.
      val docs = t(s, dir, "documents")
      val merges = CorpusOps.bpeTrainMerges(docs, "text", iters = 3)
        .orderBy("iter").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      CorpusOps.bpeSegmentStats(docs, "lang", "text", merges)
        .orderBy("lang")
    }),

    "d108_split_repair" -> ((s, dir) => {
      // the FIX for what d106 audits: near-dup clusters that straddle
      // the content-hash split are forced into ONE split — the cluster
      // representative's (min id, the component label). Composition of
      // three graded stages: splitAssign (map-only) + d45's exact-
      // verified pair stream → connected components + two broadcast
      // joins (components cover only near-dup members, a small fraction
      // of any corpus — the corpus itself never re-shuffles). The
      // planted mutants guarantee moved > 0, so a repair regression is
      // visible output.
      val corpus = corpusWithNearDups(s, dir)
      val assigned = CorpusOps.splitAssign(corpus, col("text"))
      val pairs = DedupOps.minhashLshPairs(corpus, "doc_id", "text",
          bands = 8, rowsPerBand = 4, shingleN = 3, threshold = 0.7)
        .select("id_a", "id_b")
      val comps = DedupOps.connectedComponents(pairs)
      CorpusOps.splitRepair(assigned, "doc_id", "split", comps)
        .select(col("doc_id"), col("split_before"), col("split"),
          col("moved"))
        .orderBy("doc_id")
    }),

    "d95_corpus_card" -> ((s, dir) => {
      // the dataset-card report over a corpus with PLANTED cross-source
      // exact duplicates (doc_id % 9, new ids) so the duplicate-overhead
      // column is provably nonzero — a dup-count regression becomes
      // visible output, not a silent zero
      val base = t(s, dir, "documents").select("doc_id", "lang", "text")
      val dupes = base.where("doc_id % 9 = 0").select(
        (col("doc_id") + 2000000L).as("doc_id"), col("lang"), col("text"))
      CorpusOps.corpusCard(base.unionByName(dupes), "lang", "text")
        .orderBy("lang")
    }),

    "d88_length_quantiles" -> ((s, dir) => {
      // exact per-language token-count percentiles WITHOUT sorting the
      // corpus: histogram first (one partial-agg shuffle of O(distinct
      // (lang, ntok)) rows), percentile read off the running count with a
      // window over those few rows — integer-exact inverted-CDF
      // definition (`cum*100 >= total*p`) both engines replay bitwise.
      val docs = t(s, dir, "documents")
      CorpusOps.groupQuantiles(
          docs.select(col("lang"),
            TextOps.tokenCount(col("text")).as("ntok")),
          "lang", col("ntok"))
        .withColumnRenamed("n_rows", "n_docs")
        .orderBy("lang")
    }),

    "d89_dup_source_matrix" -> ((s, dir) => {
      // cross-source near-duplicate matrix over the same planted corpus
      // as d34 (synthetic near-dups keep their original's source): d34's
      // pair stream re-joins the narrow (id, source) projection and
      // folds into source x source counts — the report that says WHICH
      // sources mirror each other. The source join strips the near-dup
      // offset EXACTLY (subtract 1e6 only when the copy-local part is in
      // the mutant band) — bit-identical to the old %1e6 shortcut at
      // gate scale (ids < 1e6) and also correct on sf1 copy-offset ids.
      val src = t(s, dir, "documents")
        .select(col("doc_id").as("__oid"), col("source"))
      val corpus = corpusWithNearDups(s, dir)
        .join(src, col("doc_id") - when(col("doc_id") % 10000000L >= 1000000L,
          1000000L).otherwise(0L) === col("__oid"))
        .select("doc_id", "text", "source")
      DedupOps.nearDupSourceMatrix(corpus, "doc_id", "text", "source",
          bands = 8, rowsPerBand = 4, shingleN = 3, threshold = 0.7)
        .orderBy("source_lo", "source_hi")
    }),

    "d87_dedup_keep_best" -> ((s, dir) => {
      // keep-BEST exact dedup: every third document re-arrives from a
      // "second source" (new id, different priority metadata, identical
      // text); the survivor per content hash maximizes priority, ties on
      // the smaller id — the multi-source ingestion rule where keep-first
      // would discard the better-provenanced copy. One struct-min on the
      // digest + a semi-join; text never shuffles.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val corpus = docs
        .select(col("doc_id"), col("text"), (col("doc_id") % 7).as("priority"))
        .unionByName(docs.where("doc_id % 3 = 0")
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
            ((col("doc_id") + 1000000L) % 7).as("priority")))
      DedupOps.exactDedupKeepBest(corpus, "doc_id", "text", "priority")
        .orderBy("doc_id")
    }),

    "d86_sentence_chunks" -> ((s, dir) => {
      // sentence-aligned RAG chunking: sentences never split; each joins
      // the chunk its cumulative-token prefix falls in (floor division —
      // exact integer arithmetic both engines replay). MAP-ONLY since
      // r18: one compiled sentence_chunks kernel per row replaces the
      // per-doc prefix-sum window + (doc, chunk) groupBy whose two
      // exchanges carried the corpus' sentence volume.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      CorpusOps.chunkBySentences(docs, "doc_id", "text", chunkTokens = 64)
        .orderBy("doc_id", "chunk_idx")
    }),

    "d85_sentences" -> ((s, dir) => {
      // sentence segmentation: one greedy lookbehind-free regex
      // ([^.!?]+[.!?]*) both engines interpret identically — each doc
      // explodes to ordered (sent_idx, sentence, n_tokens) rows, the
      // boundary unit for sentence-aligned chunking and per-sentence
      // quality filtering. Map-only until the output's own exchange.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      docs.select(col("doc_id"),
          posexplode(TextOps.sentences(col("text"))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("sent_idx"),
          col("col").as("sentence"),
          size(TextOps.tokens(col("col"))).cast("long").as("n_tokens"))
        .orderBy("doc_id", "sent_idx")
    }),

    "d83_hits" -> ((s, dir) => {
      // HITS hubs/authorities over the same synthetic link graph as d78:
      // unnormalized integer iteration (every intermediate value is an
      // exact double) with ONE L1 normalization at output — the only
      // inexact step, shared with the oracle. 2 iterations unrolled in
      // the oracle SQL.
      val docs = t(s, dir, "documents").select("doc_id")
      val edges = docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 13) % 101).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          (col("doc_id") % 97).as("dst")))
      GraphOps.hits(edges, "src", "dst", iters = 2)
        .select(col("id").as("doc_id"), round(col("hub"), 6).as("hub"),
          round(col("auth"), 6).as("auth"))
        .orderBy("doc_id")
    }),

    "d84_personalized_pagerank" -> ((s, dir) => {
      // topic-sensitive PageRank: teleport mass lands on a 4-doc seed
      // core (t = 1/4 — DYADIC, so every teleport term is exact) instead
      // of uniformly; dangling mass re-enters through the seeds. Same
      // graph and damping-7/8 conventions as d78; 3 unrolled iterations
      // in the oracle.
      val docs = t(s, dir, "documents").select("doc_id")
      val edges = docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 13) % 101).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          (col("doc_id") % 97).as("dst")))
      GraphOps.personalizedPageRank(edges, "src", "dst",
          Seq(3L, 5L, 7L, 11L), iters = 3, damping = 0.875)
        .select(col("id").as("doc_id"), round(col("rank"), 6).as("rank"))
        .orderBy("doc_id")
    }),

    "e52_knn_binary" -> ((s, dir) => {
      // 1-bit binary quantization: sign-bit words (32x compression) rank
      // candidates by Hamming, top-32 re-score with exact cosine. Every
      // stage before the final cosine is exact integer arithmetic with id
      // tie-breaks, so this REAL ANN config (not a degenerate-exact one)
      // replays deterministically in the oracle.
      val emb = t(s, dir, "embeddings")
      SimilarityOps.topKBinaryQuant(
          emb, "vec_id", "embedding",
          emb.where("vec_id < 8"), "vec_id", "embedding",
          k = 5, rerank = 32)
        .select(col("query_id"), col("vec_id"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "e51_mmr_rerank" -> ((s, dir) => {
      // MMR diversity re-ranking at lambda = 1: the similarity penalty has
      // weight ZERO, so the greedy selection provably reproduces exact
      // top-k order — graded by the same SQL as e37 (the e38/e40
      // exact-at-oracle-config pattern). Diversity behavior (lambda < 1)
      // is spec-verified on constructed near-duplicate corpora.
      val emb = t(s, dir, "embeddings")
      SimilarityOps.topKDiverse(
          emb, "vec_id", "embedding",
          emb.where("vec_id < 8"), "vec_id", "embedding",
          k = 5, candidates = 32, lambda = 1.0)
        .select(col("query_id"), col("vec_id"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "e50_random_projection" -> ((s, dir) => {
      // JL random projection 64 -> 16 dims: map-only, zero shuffle, zero
      // model state — the ±1 matrix recomputes from (i, j, seed) by exact
      // integer arithmetic the oracle replays in SQL. Inputs quantize to
      // 16 fractional bits first so every ±term is a small dyadic and the
      // 64-term sum is EXACT in any summation order (the same
      // reproducibility trick as e49's fixed-point pooling) — both
      // engines then produce the bitwise-identical double. `+ 0.0`
      // normalizes -0.0 after rounding.
      val quantized = t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(65536.0)) / lit(65536.0))
          .as("embedding"))
      SimilarityOps.randomProject(quantized, "vec_id",
          "embedding", outDim = 16, seed = 7L)
        .select(col("vec_id"), posexplode(col("projection")))
        .select(col("vec_id"), col("pos").cast("long").as("dim"),
          (round(col("col"), 6) + lit(0.0)).as("val"))
        .orderBy("vec_id", "dim")
    }),

    "j05_interval_join" -> ((s, dir) => {
      // interval-overlap join (4 h marker windows × 1 h activity windows,
      // un-keyed): binned equi-join with the meet-once rule — a pair's
      // only counted bin is the one holding the intersection start, so no
      // distinct pass re-shuffles the candidates. Oracle: the raw overlap
      // predicate join.
      val ev = t(s, dir, "events")
      val a = ev.where("event_id % 53 = 0").select(
        col("event_id").as("a_id"), col("ts").as("a_lo"),
        (col("ts") + expr("INTERVAL 4 HOURS")).as("a_hi"))
      val b = ev.where("event_id % 13 = 0").select(
        col("event_id").as("b_id"), col("ts").as("b_lo"),
        (col("ts") + expr("INTERVAL 1 HOURS")).as("b_hi"))
      JoinOps.intervalJoin(a, "a_lo", "a_hi", b, "b_lo", "b_hi",
          binWidth = 4 * 3600.0)
        .select(col("a_id"), col("b_id"))
        .orderBy("a_id", "b_id")
    }),

    "j07_asof_tolerance" -> ((s, dir) => {
      // j01 with a STALENESS BOUND — the point-in-time-correctness flag
      // every feature-store as-of needs: a match older than 10 minutes
      // is no feature, it's leakage of a dead state. Same sorted-union
      // plan; the tolerance check is a per-row filter on the carried
      // struct, so cost is unchanged. Oracle: DuckDB ASOF + the same
      // cutoff CASE.
      val ev = t(s, dir, "events")
      val quotes = ev.where("event_id % 7 = 0")
        .groupBy("user_id", "ts").agg(max("value").as("quote"))
      JoinOps.asofJoin(ev.select("event_id", "user_id", "ts", "value"),
          quotes, "ts", "ts", by = Seq("user_id"),
          tolerance = Some(600e6)) // 10 min in epoch-µs
        .select(col("event_id"), col("right_quote").as("quote"),
          (unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("right_ts").cast("timestamp"))).as("lag_us"))
        .orderBy("event_id")
    }),

    "j06_locf_resample" -> ((s, dir) => {
      // hourly grid per user with last-observation-carried-forward: the
      // irregular-events -> regular-series alignment every feature
      // snapshot needs. Grid generation is a distributed explode off one
      // broadcast bounds row; the carry is the sorted-union as-of plan
      // (one exchange). Events pre-aggregate to (user, ts) -> max(value)
      // so the carry is order-independent (the j01 treatment). Oracle:
      // DuckDB generate_series grid + native ASOF LEFT JOIN.
      val ev = t(s, dir, "events")
      val obs = ev.groupBy("user_id", "ts").agg(max("value").as("value"))
      JoinOps.resampleLocf(obs, "ts", "user_id", Seq("value"),
          step = "1 hour", truncUnit = "hour")
        .select(col("user_id"), col("ts"), col("locf_value").as("value"))
        .orderBy("user_id", "ts")
    }),

    "j09_ohlc_downsample" -> ((s, dir) => {
      // hourly OHLC bars per user over the raw (unaggregated) event
      // stream: open/close via combinable struct-min/max — no per-bucket
      // sort — and the value pre-cast to decimal(18,6) so vsum replays
      // bitwise (double partial sums are order-dependent; decimals
      // aren't). Duplicate timestamps tie-break on the value in BOTH
      // engines (struct-min here, `ORDER BY ts, v` row_number there).
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"),
          col("value").cast("decimal(18,6)").as("v"))
      JoinOps.downsampleOhlc(ev, "ts", "user_id", "v", truncUnit = "hour")
        // decimal stays INTERNAL (bitwise-replayable partial sums); the
        // OUTPUT casts to double — the driver's hasher represents a
        // decimal128 parquet fetch and the oracle's float conversion
        // differently even when value-equal (r13 verdict, the only three
        // red rows were the only decimal-emitting entries)
        .select(col("user_id"), col("bucket"),
          col("open").cast("double").as("open"),
          col("high").cast("double").as("high"),
          col("low").cast("double").as("low"),
          col("close").cast("double").as("close"),
          col("n_obs").cast("long").as("n_obs"),
          col("vsum").cast("double").as("vsum"))
        .orderBy("user_id", "bucket")
    }),

    "s61_stream_interval_join" -> ((s, dir) => {
      // STREAM-STREAM attribution join: clicks and purchases are two
      // live streams (same source file, two readStream handles), each
      // watermarked, joined on user within [click, click + 6h] — the
      // dual-buffer case the stream-static paths can't express. Inner
      // matches emit without waiting on the watermark, so the drain
      // equals the batch interval join the oracle runs.
      // watermarks need TIMESTAMP (session tz UTC makes the cast exact)
      def stream(): org.apache.spark.sql.DataFrame =
        tStream(s, dir, "events")
          .withColumn("ts", col("ts").cast("timestamp"))
      val clicks = stream().where("event_type = 'click'")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
      val purchases = stream().where("event_type = 'purchase'")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
      val joined = graft.streaming.StreamingOps.intervalJoinStreams(
        clicks, "c_ts", "c_user", purchases, "p_ts", "p_user", "6 hours")
      val sink = s"s61_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = joined.select(col("click_id"), col("purchase_id"))
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink).orderBy("click_id", "purchase_id")
    }),

    "s63_stream_gap_alert" -> ((s, dir) => {
      // j10's gap audit as a LIVE alert: one (last-ts) state row per
      // user, alerts emitted the moment the >12h-later event arrives;
      // the AvailableNow drain equals the batch detectGaps exactly
      val ev = tStream(s, dir, "events")
        .withColumn("ts", col("ts").cast("timestamp"))
      val alerts = graft.streaming.StreamingOps.gapAlertStream(
        ev, "ts", "user_id", minGapMicros = 43200000000L)
      val sink = s"s63_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = alerts.writeStream.outputMode("append")
        .format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink)
        .select(col("key").as("user_id"),
          col("gap_start").cast("timestamp_ntz").as("gap_start"),
          col("gap_end").cast("timestamp_ntz").as("gap_end"), col("gap_us"))
        .orderBy("user_id", "gap_start")
    }),

    "s65_stream_zscore_alert" -> ((s, dir) => {
      // j12's anomaly gate ONLINE: the alerting half — graded by j12's
      // own oracle (train/serve parity, same deque machinery as s64)
      val ev = tStream(s, dir, "events")
        .withColumn("ts", col("ts").cast("timestamp"))
      val alerts = graft.streaming.StreamingOps.rollingZscoreStream(
        ev, "ts", "user_id", "value", windowMicros = 21600000000L,
        zThreshold = 1.5)
      val sink = s"s65_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = alerts.toDF().writeStream.outputMode("append")
        .format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink)
        .select(col("key").as("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"), col("value"),
          col("roll_n"), col("zscore"), col("is_anomaly"))
        .orderBy("user_id", "ts", "value")
    }),

    "s64_stream_rolling" -> ((s, dir) => {
      // j11's trailing 6h rolling stats computed ONLINE per event —
      // train/serve parity: the drain grades against j11's own oracle
      val ev = tStream(s, dir, "events")
        .withColumn("ts", col("ts").cast("timestamp"))
      val feats = graft.streaming.StreamingOps.rollingStatsStream(
        ev, "ts", "user_id", "value", windowMicros = 21600000000L)
      val sink = s"s64_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = feats.toDF().writeStream.outputMode("append")
        .format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink)
        .select(col("key").as("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"), col("value"),
          col("roll_n"), col("roll_sum"), col("roll_min"), col("roll_max"),
          col("roll_avg"))
        .orderBy("user_id", "ts", "value")
    }),

    "s60_stream_ohlc" -> ((s, dir) => {
      // streaming OHLC bars: the j09 aggregate is combinable
      // (struct-min/max, count, decimal sum), so per-(user, bucket)
      // streaming state is ONE fixed-size row regardless of how many
      // observations a bucket sees, and the AvailableNow drain grades
      // against the batch oracle verbatim. Complete mode fits the
      // single-drain harness; a production stream bounds state with
      // withWatermark + window() and append mode — the aggregate itself
      // is unchanged.
      val ev = tStream(s, dir, "events").select(col("user_id"), col("ts"),
        col("value").cast("decimal(18,6)").as("v"))
      val bars = JoinOps.downsampleOhlc(ev, "ts", "user_id", "v")
      val sink = s"s60_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = bars
        .writeStream.outputMode("complete").format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink)
        // output decimals → double: see j09 (driver decimal-hash channel)
        .select(col("user_id"), col("bucket"),
          col("open").cast("double").as("open"),
          col("high").cast("double").as("high"),
          col("low").cast("double").as("low"),
          col("close").cast("double").as("close"),
          col("n_obs").cast("long").as("n_obs"),
          col("vsum").cast("double").as("vsum"))
        .orderBy("user_id", "bucket")
    }),

    "s66_stream_ohlc_append" -> ((s, dir) => {
      // the PRODUCTION form s60's docstring sketches: watermark +
      // window() in APPEND mode, so streaming state is bounded by OPEN
      // windows only and each bar emits exactly once when the watermark
      // passes its window end. The oracle is the batch OHLC restricted
      // to watermark-closed buckets (the s42 cutoff: bucket end <=
      // ms-floored max event time - 10 min).
      // watermarks need TIMESTAMP (session tz UTC makes the cast exact);
      // the state-partition override below lives on a CLONED session
      // (r17 advice — same rationale as s74)
      val ns = s.newSession()
      ns.conf.set("spark.sql.shuffle.partitions", "8")
      val ev = tStream(ns, dir, "events").select(col("user_id"),
        col("ts").cast("timestamp").as("ts"),
        col("value").cast("decimal(18,6)").as("v"))
      val bars = graft.streaming.StreamingOps.ohlcBars(ev, "ts", "user_id", "v")
      val sink = s"s66_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      // SIZE STATE PARTITIONS TO STATE VOLUME (r15 verdict item 1b): the
      // drain probe showed the wall dominated by per-partition state-store
      // commits (29.5 s summed across 32 partitions per batch vs 2.8 s of
      // actual addBatch compute) — each partition checkpoint is a constant
      // file create+fsync+rename, so 32 of them per batch is pure I/O
      // overhead for a state of a few thousand OPEN windows, and exactly
      // the contention surface a loaded driver machine amplifies (s66 was
      // 3× elevated in two consecutive driver records while quiet-machine
      // probes read 3.3-4.6 s). The state-partition count is fixed at the
      // query's FIRST run from spark.sql.shuffle.partitions, so set it for
      // this stream only and restore; results are partition-count-
      // invariant (orderBy canonicalizes). A deployment keeps this knob
      // proportional to open-window volume, not corpus size.
      val tDrain0 = System.nanoTime()
      val q = bars
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      // drain split for the bench record (r15 verdict item 1b): where a
      // wall-clock number alone can't distinguish "machine was loaded"
      // from "state-store commits regressed", the per-batch progress
      // metrics can — addBatch (plan execution incl. sink write),
      // walCommit/commitOffsets (offset-log fsyncs), latestOffset/
      // queryPlanning (source + planning), and the state store's own
      // update/commit legs summed across batches of the FINAL run
      val prog = q.recentProgress
      def leg(k: String): Double = prog.map(p =>
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
      BenchProbe.record("s66_stream_ohlc_append", Seq(
        "drain_wall" -> (System.nanoTime() - tDrain0) / 1e9,
        "n_batches" -> prog.length.toDouble,
        "addBatch" -> leg("addBatch"),
        "walCommit" -> leg("walCommit"),
        "commitOffsets" -> leg("commitOffsets"),
        "latestOffset" -> leg("latestOffset"),
        "queryPlanning" -> leg("queryPlanning"),
        "triggerExecution" -> leg("triggerExecution"),
        "stateUpdates" -> prog.flatMap(_.stateOperators.map(_.allUpdatesTimeMs)).sum / 1e3,
        "stateRemovals" -> prog.flatMap(_.stateOperators.map(_.allRemovalsTimeMs)).sum / 1e3,
        "stateCommit" -> prog.flatMap(_.stateOperators.map(_.commitTimeMs)).sum / 1e3))
      ns.table(sink)
        // output decimals → double: see j09 (driver decimal-hash channel)
        .select(col("user_id"), col("bucket").cast("timestamp_ntz").as("bucket"),
          col("open").cast("double").as("open"),
          col("high").cast("double").as("high"),
          col("low").cast("double").as("low"),
          col("close").cast("double").as("close"),
          col("n_obs").cast("long").as("n_obs"),
          col("vsum").cast("double").as("vsum"))
        .orderBy("user_id", "bucket")
    }),

    "j10_gap_detection" -> ((s, dir) => {
      // completeness audit ahead of the resamplers: every >12h silence
      // per user, integer-µs arithmetic both engines replay exactly
      val ev = t(s, dir, "events")
      JoinOps.detectGaps(ev, "ts", "user_id", minGapMicros = 43200000000L)
        .select(col("user_id"), col("gap_start"), col("gap_end"),
          col("gap_us"))
        .orderBy("user_id", "gap_start")
    }),

    "j11_rolling_stats" -> ((s, dir) => {
      // trailing 6h per-user rolling stats AS OF each event — the
      // leakage-free feature primitive; value pre-cast to decimal so
      // roll_sum replays bitwise, avg derived from the exact sum by ONE
      // double division both engines round identically
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"),
          col("value").cast("decimal(18,6)").as("v"))
      JoinOps.rollingAgg(ev, "ts", "user_id", "v",
          windowMicros = 21600000000L)
        .select(col("user_id"), col("ts"), col("v").cast("double").as("value"),
          col("roll_n"),
          col("roll_sum").cast("double").as("roll_sum"),
          col("roll_min").cast("double").as("roll_min"),
          col("roll_max").cast("double").as("roll_max"),
          round(col("roll_sum").cast("double") / col("roll_n"), 6)
            .as("roll_avg"))
        .orderBy("user_id", "ts", "value")
    }),

    "j12_rolling_zscore" -> ((s, dir) => {
      // self-calibrating outlier gate: each event's z-score against its
      // user's trailing 6h — exact decimal frame sums, then an
      // operation-order-pinned double chain both engines replay bitwise
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"),
          col("value").cast("decimal(18,6)").as("v"))
      JoinOps.rollingZscore(ev, "ts", "user_id", "v",
          windowMicros = 21600000000L, zThreshold = 1.5)
        .select(col("user_id"), col("ts"), col("v").cast("double").as("value"),
          col("roll_n"), col("zscore"), col("is_anomaly"))
        .orderBy("user_id", "ts", "value")
    }),

    "j08_interp_resample" -> ((s, dir) => {
      // linear-interpolation resampling on the j06 grid: grid points
      // between two observations take the straight-line value (epoch-µs
      // deltas as exact-integer doubles, fixed operation order so the
      // oracle replays the arithmetic bitwise); edges are NULL — no
      // extrapolation. Same one-exchange sorted-union plan, both
      // directional carries over a single partitioning.
      val ev = t(s, dir, "events")
      val obs = ev.groupBy("user_id", "ts").agg(max("value").as("value"))
      JoinOps.resampleInterp(obs, "ts", "user_id", "value",
          step = "1 hour", truncUnit = "hour")
        .select(col("user_id"), col("ts"), col("interp_value").as("value"))
        .orderBy("user_id", "ts")
    }),

    "j03_skew_join" -> ((s, dir) => {
      // salted large-large equi-join: each left row takes ONE deterministic
      // salt, the right side replicates to all salts, so hot keys split
      // across `salts` reducers and the result set-equals the plain join —
      // which is exactly what the oracle runs.
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey").as("custkey"), col("o_totalprice"))
      val c = t(s, dir, "customer").select(col("c_custkey").as("custkey"),
        col("c_mktsegment"))
      JoinOps.skewJoin(o, c, on = Seq("custkey"), salts = 8)
        .groupBy(col("c_mktsegment").as("mktsegment"))
        .agg(n().as("n_orders"), sumd(d2(col("o_totalprice"))).as("revenue"))
        .select(col("mktsegment"), col("n_orders"), col("revenue"))
        .orderBy("mktsegment")
    }),

    "e49_mean_pool" -> ((s, dir) => {
      // chunk -> document embedding pooling through the fixed-point sum:
      // pooled vectors are bitwise reproducible under any partitioning, so
      // the oracle can recompute them float-for-float in SQL; the compare
      // re-encodes each float to its floor(x * 2^24) integer.
      val pooled = SimilarityOps.meanPool(
        t(s, dir, "embeddings"), "label", "embedding")
      pooled.select(col("label").cast("long").as("label"), col("n"),
          concat_ws(",", transform(col("pooled"),
            x => floor(x.cast("double") * lit(16777216.0))
              .cast("long").cast("string"))).as("pooled_fp_csv"))
        .orderBy("label")
    }),

    "d69_quality_classifier" -> ((s, dir) => {
      // linear classifier inference at corpus scale: the vocabulary rides
      // the plan as one shared hash map, scoring is map-only codegen.
      // Dyadic weights (multiples of 1/16) keep double sums exact in any
      // summation order, so the oracle's join-and-sum is bitwise equal.
      val w = Map("the" -> 0.25, "and" -> 0.25, "of" -> 0.125, "to" -> 0.125,
        "a" -> 0.0625, "in" -> 0.0625, "is" -> 0.25, "it" -> 0.125,
        "for" -> 0.125, "with" -> 0.0625)
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.classifierScore(col("text"), w, bias = -1.0).as("score"))
        .withColumn("keep", col("score") > 0)
        .orderBy("doc_id")
    }),

    "d68_normalize_text" -> ((s, dir) => {
      // Canonical text cleanup: markup strip, control/zero-width removal,
      // Unicode NFC, whitespace collapse. The corpus text is clean ASCII,
      // so noise is injected deterministically — a tag, a zero-width
      // space (U+200B), a decomposed e+combining-acute (NFC composes to
      // é), and ragged whitespace — and the oracle injects the identical
      // bytes and normalizes with DuckDB's own nfc_normalize.
      val noisy = concat(col("text"),
        lit(" <b>bold</b>\u200Bjoined  cafe\u0301 \t x"))
      t(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"),
          TextOps.normalizeText(noisy).as("norm_text"),
          length(TextOps.normalizeText(noisy)).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),

    "d70_winnow_fingerprints" -> ((s, dir) => {
      // MOSS winnowing (k=5 grams, w=4 windows): map-only per-row HOF
      // selection of each window's (min hash, rightmost pos); guaranteed
      // to fingerprint any shared k+w-1 = 8-word run at ~2/(w+1) density.
      // The oracle re-winnows every document with a SQL window min over
      // the identical 41-char hash++reflected-pos sort key.
      DedupOps.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
          k = 5, w = 4)
        .orderBy("doc_id", "fp_pos")
    }),

    "d71_winnow_overlap" -> ((s, dir) => {
      // plagiarism pairs over the winnowed subset: corpus plus planted
      // 12-word prefix copies (deterministic doc_id shift) meet on
      // fp_hash only — the full gram stream never rides the shuffle
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(lit("copied prefix: "),
            array_join(slice(split(trim(col("text")), "\\s+"), 1, 12), " "))
            .as("text"))
      DedupOps.winnowOverlapPairs(docs.unionByName(planted),
          "doc_id", "text", k = 5, w = 4, minShared = 2)
        .orderBy("id_a", "id_b")
    }),

    "d72_strip_html" -> ((s, dir) => {
      // full HTML extraction: script/style BODIES dropped (tag-only
      // stripping would leak raw JS as prose), comments out, tags →
      // spaces, entities decoded (&amp; last), whitespace collapsed. Page
      // chrome wraps the corpus text identically in both engines so the
      // extractor chain is graded end-to-end.
      val page = concat(
        lit("<html><head><style>p{color:red}</style>" +
          "<script type=\"text/javascript\">var x=1; if(x<2){x++;}</script>" +
          "</head><body><p class=\"c\">"),
        col("text"),
        lit("</p><!-- trailing comment --><div>A &amp;amp; B &lt;tag&gt; " +
          "&quot;q&quot; &#39;s&#39;&nbsp;end</div></body></html>"))
      t(s, dir, "documents").where(col("doc_id") < 300)
        .select(col("doc_id"), TextOps.stripHtml(page).as("clean_text"),
          length(TextOps.stripHtml(page)).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),

    "d49_stratified_sample" -> ((s, dir) => {
      // per-stratum deterministic rates: downsample English to 2/16,
      // default strata keep 4/16 — membership depends only on content
      // hash, so the sample is reproducible on any engine or cluster
      CorpusOps.stratifiedSample(t(s, dir, "documents"), "text", "lang",
          Map("en" -> Seq("0", "1")), Seq("0", "1", "2", "3"))
        .groupBy("lang")
        .agg(n().as("n_docs"), sumd(d2(length(col("text")))).as("sum_chars"))
        .orderBy("lang")
    }),

    "d50_vocab_topk" -> ((s, dir) => {
      // corpus vocabulary: map-side partial counts, final top-k is
      // TakeOrderedAndProject (never materializes the full vocab sorted)
      CorpusOps.vocabTopK(t(s, dir, "documents"), "text", 20)
    }),

    "d99_frequency_spectrum" -> ((s, dir) => {
      // Zipf-shape audit: token/type/hapax counts and type-token ratio
      // per language — integer-exact except the one ratio division
      CorpusOps.frequencySpectrum(t(s, dir, "documents"), "lang", "text")
        .select(col("lang"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_types").cast("long").as("n_types"),
          col("n_hapax").cast("long").as("n_hapax"),
          col("type_token_ratio"))
        .orderBy("lang")
    }),

    "d100_pmi_collocations" -> ((s, dir) => {
      // multiword-unit mining: top-30 adjacent pairs by PMI among pairs
      // seen >= 5 times; ranking rides the exact integer ratio (one
      // correctly-rounded double division), ln only on the output
      CorpusOps.pmiCollocations(t(s, dir, "documents"), "text",
          minCount = 5L, k = 30)
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
    }),

    "d97_vocab_coverage" -> ((s, dir) => {
      // tokenizer-QA gate: coverage of the corpus's own top-500
      // vocabulary per language — integer-exact counts, the trainer
      // (d50's vocabTopK) and the coverage pass both replayed in SQL
      val docs = t(s, dir, "documents")
      CorpusOps.vocabCoverage(docs, "lang", "text",
          CorpusOps.vocabTopK(docs, "text", 500), "token")
        .select(col("lang"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_oov").cast("long").as("n_oov"), col("oov_rate"))
        .orderBy("lang")
    }),

    "d51_repetition" -> ((s, dir) => {
      // boilerplate/spam signal: duplicated-bigram fraction per doc,
      // map-only (the gram list never leaves its row)
      CorpusOps.repetitionScore(t(s, dir, "documents"), "doc_id", "text", n = 2)
        .orderBy("doc_id")
    }),

    "d91_repetition_signals" -> ((s, dir) => {
      // Gopher-style per-signal repetition stats (dup-line fraction,
      // dup-line CHAR fraction, top-bigram dominance). The fixture corpus
      // is single-line, so the entry derives a line-structured view every
      // engine can replay: each doc becomes [text, blank, 60-char prefix,
      // same prefix] — planted duplicate lines with doc-varying char
      // weight, plus a mid-document blank line to exercise the non-blank
      // filter. The blank sits in the MIDDLE on purpose: DuckDB's trim()
      // strips only spaces, so a trailing newline would leave the oracle's
      // \s+ tokenizer a phantom empty token the engine's trim correctly
      // removes.
      val lined = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", col("text"), lit(""),
          substring(col("text"), 1, 60), substring(col("text"), 1, 60))
          .as("text"))
      CorpusOps.repetitionSignals(lined, "doc_id", "text", n = 2)
        .orderBy("doc_id")
    }),

    "d52_chunking" -> ((s, dir) => {
      // RAG chunking: 64-token windows every 48 tokens (16-token overlap),
      // map-only explode; md5 keeps the compare row-sized
      CorpusOps.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 64, strideTokens = 48)
        .orderBy("doc_id", "chunk_idx")
    }),

    "d53_bloom_decontaminate" -> ((s, dir) => {
      // same contract as d47, different 100 TB execution: the test-gram
      // Bloom sketch prefilters corpus grams MAP-SIDE, so only candidate
      // grams (true hits + ~fpp false positives) ride the shuffle. No
      // false negatives by construction; the exact join removes the FPs —
      // output provably equals d47's, and shares its oracle shape.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val toks = TextOps.tokens(col("text"))
      val test = docs.where("doc_id % 5 = 0").select(
        concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 1, lit(1))))
          .as("text"))
      CorpusOps.ngramOverlapBloom(docs, test, "doc_id", "text", n = 8,
          expectedTestGrams = 1L << 16, fpp = 0.01)
        .orderBy("doc_id")
    }),

    "d54_cluster_best" -> ((s, dir) => {
      // fuzzy dedup with the "keep the cleanest copy" rule: cluster the
      // verified near-dup pairs, then keep each cluster's highest-quality
      // member (ties on id). One hash shuffle on the cluster key; the
      // corpus only joins in for clustered ids.
      val corpus = corpusWithNearDups(s, dir)
      val pairs = DedupOps.minhashLshPairs(corpus, "doc_id", "text",
          bands = 8, rowsPerBand = 4, shingleN = 3, threshold = 0.7)
        .select("id_a", "id_b")
      val attrs = corpus.select(col("doc_id"),
        TextOps.qualityScore(col("text")).cast("long").as("quality"))
      DedupOps.clusterRepresentatives(pairs, attrs, "doc_id", "quality")
        .orderBy("component")
    }),

    "d55_quality_filter" -> ((s, dir) => {
      // keep/drop with provenance: per-document failed-signal reasons —
      // what a production filter pipeline reports for loss accounting
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.qualityReasons(col("text")).as("reasons"))
        .withColumn("keep", col("reasons") === "")
        .orderBy("doc_id")
    }),

    "d103_ngram_novelty" -> ((s, dir) => {
      // per-doc memorization exposure over the planted-near-dup corpus:
      // distinct 8-gram share appearing in ANY other doc; exact integer
      // counts, one rounded division per doc
      CorpusOps.ngramNovelty(corpusWithNearDups(s, dir), "doc_id", "text",
          n = 8)
        .orderBy("doc_id")
    }),

    "d34_minhash_pairs" -> ((s, dir) => {
      // Exact oracle: the full O(n²) cross-join Jaccard in DuckDB. The LSH
      // banding (8 bands × 4 rows) deterministically finds every pair with
      // Jaccard ≥ 0.7 on this corpus (per-pair detection odds ~0.9 at the
      // 0.7 boundary, ~1-1e-9 at the planted pairs' ~0.95; verified equal
      // at sf0.01 by ProbeOracles) and the ≥-threshold verify stage is
      // exact on both sides.
      DedupOps.minhashLshPairs(corpusWithNearDups(s, dir), "doc_id", "text",
          bands = 8, rowsPerBand = 4, shingleN = 3, threshold = 0.7)
        .orderBy("id_a", "id_b")
    }),

    "d35_simhash_pairs" -> ((s, dir) => {
      // Order-invariant dedup, candidates-then-verify: SimHash is a token-
      // multiset fingerprint, so a token-REVERSED duplicate has Hamming
      // distance exactly 0 — the chunk-bucketed candidate stage finds every
      // multiset-equal pair BY CONSTRUCTION, and the exact multiset-equality
      // verify removes hash-coincidence extras. Output therefore provably
      // equals the DuckDB sorted-token self-join oracle. maxBucket is
      // uncapped for the oracle config (the m43/m47 convention): the
      // production default (100) is the boilerplate-bucket guard, but the
      // oracle counts EVERY pair, and at sf1 one 16-bit chunk bucket
      // crossed 100 members and silently cost 30 pairs — the exact
      // "green at sf0.01, broken at 10x" class the full-suite sf1 sweep
      // exists to catch (r15).
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val reversed = docs.where("doc_id % 5 = 0").select(
        (col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", reverse(split(trim(col("text")), "\\s+"))).as("text"))
      val corpus = docs.unionByName(reversed)
      val cand = DedupOps.simhashPairs(corpus, "doc_id", "text",
        maxHamming = 3, maxBucket = 1 << 20)
      val ms = corpus.select(col("doc_id"),
        concat_ws(" ", sort_array(split(trim(col("text")), "\\s+"))).as("ms"))
      cand
        .join(ms.select(col("doc_id").as("id_a"), col("ms").as("ms_a")), "id_a")
        .join(ms.select(col("doc_id").as("id_b"), col("ms").as("ms_b")), "id_b")
        .where(col("ms_a") === col("ms_b"))
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }),

    "d36_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = docs.where("doc_id % 5 = 0")
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      DedupOps.ngramJaccardPairs(docs, "doc_id", "text", pairs, shingleN = 3)
        .orderBy("id_a", "id_b")
    }),

    "e37_knn_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.topKBruteForce(
          emb, "vec_id", "embedding",
          emb.where("vec_id < 8"), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "q28_window_stats" -> ((s, dir) => {
      // distribution-rank window functions over customer balances per
      // market segment — ntile quartiles, percent_rank, cume_dist. The
      // window order is a TOTAL order (balance, custkey), so every rank
      // is unique and the doubles are single divisions of exact integer
      // ranks both engines replay.
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cum_dist"))
        .orderBy("c_custkey")
    }),

    "e66_margin_mining_ivf" -> ((s, dir) => {
      // e65's margin arithmetic fed by the IVF candidate stream — the
      // documented scale path made a graded entry. Full probe
      // (nprobe = nlist) scores every pair exactly once, so the result
      // provably equals the brute-force form (the e40 invariant) and
      // e65's oracle grades it; approximate probes are recall-tested
      // in the spec alongside the top-k variants.
      val qemb = t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x =>
          (floor(x.cast("double") * lit(65536.0)) / lit(65536.0))
            .cast("float")).as("embedding"))
      SimilarityOps.marginMineTopKIvf(
          qemb, "vec_id", "embedding",
          qemb.where("vec_id < 8"), "vec_id", "embedding",
          k = 5, navg = 4, candidates = 16, nlist = 16, nprobe = 16)
        .select(col("query_id"), col("vec_id"), col("margin"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "e65_margin_mining" -> ((s, dir) => {
      // margin-based pair mining (Artetxe & Schwenk 2019 — the
      // LASER/CCMatrix bitext score): cosine divided by the mean of the
      // two sides' top-4 neighborhood cosines, so hub vectors (near
      // everything) stop winning. Unlike the rank-only kNN entries this
      // EXPOSES a cosine-derived value, so the cosines themselves must
      // be bit-identical across engines: inputs quantize to 16
      // fractional bits first (e50's trick — exact in float while
      // |x| < 256, i.e. 8 integer + 16 fractional ≤ 24 significand
      // bits; e61's health gate pins the unit-scale contract that
      // guarantees it — so the codegen kernel's double dot/norm sums
      // are exact dyadics in any
      // order, then sqrt and divide are one correctly-rounded op each,
      // replayed operation-for-operation by the oracle's explicit
      // double SQL — DuckDB's own list_cosine_similarity computes in
      // FLOAT and drifts a quantum, which is how the first cut of this
      // entry failed). Density averages quantize again before summing.
      val qemb = t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x =>
          (floor(x.cast("double") * lit(65536.0)) / lit(65536.0))
            .cast("float")).as("embedding"))
      SimilarityOps.marginMineTopK(
          qemb, "vec_id", "embedding",
          qemb.where("vec_id < 8"), "vec_id", "embedding",
          k = 5, navg = 4, candidates = 16)
        .select(col("query_id"), col("vec_id"), col("margin"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "e59_hard_negatives" -> ((s, dir) => {
      // contrastive-training negative mining: positives are the top-2
      // retrieval results per anchor (rank 1 is the anchor itself, so
      // BOTH exclusion rules — self and labeled-positive — visibly
      // reshape the output vs e37), negatives the next-nearest k after
      // the exclusion. The anti-join applies before top-k selection, so
      // an excluded candidate never displaces a legitimate negative.
      val emb = t(s, dir, "embeddings")
      val queries = emb.where("vec_id < 8")
      val positives = SimilarityOps.topKBruteForce(
          emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 2)
        .select(col("query_id"), col("vec_id").as("pos_id"))
      SimilarityOps.hardNegatives(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding",
          positives, "query_id", "pos_id", k = 5)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "e61_embedding_health" -> ((s, dir) => {
      // validation pass with every defect class PLANTED deterministically
      // (truncated dim, all-zero, NaN element, null), so each counter is
      // provably nonzero and the oracle replays the same CASE routing
      val emb = plantEmbeddingDefects(t(s, dir, "embeddings"))
      SimilarityOps.embeddingHealth(emb, "embedding", dim = 64)
        .select(col("n_vectors").cast("long").as("n_vectors"),
          col("n_null").cast("long").as("n_null"),
          col("n_wrong_dim").cast("long").as("n_wrong_dim"),
          col("n_nonfinite").cast("long").as("n_nonfinite"),
          col("n_zero_norm").cast("long").as("n_zero_norm"))
    }),

    "s62_stream_embedding_health" -> ((s, dir) => {
      // the same validation AT INGEST: the health counters are plain
      // counts (micro-batch-associative), so the streaming state is ONE
      // fixed-size row and the drain grades against e61's oracle verbatim
      val health = SimilarityOps.embeddingHealth(
        plantEmbeddingDefects(tStream(s, dir, "embeddings")),
        "embedding", dim = 64)
      val sink = s"s62_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = health
        .writeStream.outputMode("complete").format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink)
        .select(col("n_vectors").cast("long").as("n_vectors"),
          col("n_null").cast("long").as("n_null"),
          col("n_wrong_dim").cast("long").as("n_wrong_dim"),
          col("n_nonfinite").cast("long").as("n_nonfinite"),
          col("n_zero_norm").cast("long").as("n_zero_norm"))
    }),

    "e67_ivf_recall_curve" -> ((s, dir) => {
      // the recall-vs-nprobe CURVE a deployment reads to set its
      // quality/cost knob: one trained IVF geometry (nlist=16 pinned so
      // the full-probe row exists at every sf), probed at
      // nprobe 1/2/4/8/16 against exact brute force over a fixed
      // 64-query batch. Per-setting mean recall is k-means-geometry-
      // dependent, so the GRADED columns are the curve's invariants
      // (the e44 threshold pattern): nested candidates make recall
      // monotone in nprobe, nprobe = nlist is provably brute force
      // (recall exactly 1.0, no tolerance), and a 0.05 regression floor
      // catches a cratered assign/probe path (~k/n). The raw recalls
      // are spec-pinned in OpsSpec instead.
      val emb = t(s, dir, "embeddings")
      SimilarityOps.ivfRecallCurve(emb, "vec_id", "embedding",
          emb.where("vec_id < 64"), "vec_id", "embedding",
          k = 5, nprobes = Seq(1, 2, 4, 8, 16), nlist = 16)
        .drop("mean_recall")
        .orderBy("nprobe")
    }),

    "e68_cluster_balanced_sample" -> ((s, dir) => {
      // DataComp-style cluster-balanced subset: assign every vector to
      // its spherical k-means cluster (e48's bitwise-replayable
      // fixed-point trainer — same k=8, iters=1 geometry), then draw a
      // fixed 40-vector budget per cluster with d109's RNG-free
      // Efraimidis–Spirakis keys at uniform weight — equalizing cluster
      // mass instead of inheriting the corpus's topic skew, reproducible
      // on any engine or layout. 100 TB shape: assignment is map-only
      // (centroids ride the capped NearestCentroid reference object);
      // selection is ONE combinable top_k_by aggregate (map-side
      // k-bounded heaps — never a per-cluster global sort). The oracle
      // replays trainer, keys, and selection end to end.
      val asg = SimilarityOps.kmeans(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 1)
      CorpusOps.weightedSample(asg, "vec_id", "cluster",
          lit(1.0d), k = 40, seed = "cb1")
        .orderBy("cluster", "rank")
    }),

    "e69_pca_power" -> ((s, dir) => {
      // top principal direction by distributed power iteration (4
      // rounds, fixed-point contributions — bitwise partitioning-
      // invariant, the e48/d120 trick on spectral linear algebra), then
      // every vector's projection onto it map-only. The oracle replays
      // init → 4 matrix-free iterations → normalize → project,
      // term-for-term (sqrt is IEEE-correctly-rounded, so the
      // normalization needs no guard; the one rounded surface is the
      // output ROUND 6).
      val emb = t(s, dir, "embeddings")
      val v = SimilarityOps.powerIterationFit(emb, "embedding", dim = 64,
        iters = 4)
      emb.select(col("vec_id"),
          round(SimilarityOps.principalProjection(col("embedding"), v), 6)
            .as("proj"))
        .orderBy("vec_id")
    }),

    "e70_abtt_residual" -> ((s, dir) => {
      // "all-but-the-top" post-processing (Mu & Viswanath, ICLR 2018):
      // remove the e69 dominant direction from every embedding — the
      // fit → transform composition of the spectral pipeline, map-only.
      // Output: the removed component and the residual norm, both from
      // fixed-order arithmetic the oracle replays term-for-term (sqrt
      // is correctly rounded; ROUND 6 is the one guarded surface).
      val emb = t(s, dir, "embeddings")
      val v = SimilarityOps.powerIterationFit(emb, "embedding", dim = 64,
        iters = 4)
      val (projC, residC) = SimilarityOps.abttResidual(col("embedding"), v)
      emb.select(col("vec_id"),
          round(projC, 6).as("removed"),
          round(residC, 6).as("resid_norm"))
        .orderBy("vec_id")
    }),

    "e71_pca_second" -> ((s, dir) => {
      // the SECOND principal direction by deflation: power-iterate on
      // x − (x·v1)·v1 without materializing the deflated corpus (d1 and
      // the running dot project once per row, keeping the plan linear
      // in dim), then every vector's deflated projection map-only. The
      // oracle replays BOTH fits — v1's four rounds, then u's four
      // deflated rounds — and the projection, term-for-term.
      val emb = t(s, dir, "embeddings")
      val v1 = SimilarityOps.powerIterationFit(emb, "embedding", dim = 64,
        iters = 4)
      val u = SimilarityOps.powerIterationDeflatedFit(emb, "embedding",
        dim = 64, v1 = v1, iters = 4)
      emb.select(col("vec_id"),
          round(SimilarityOps.deflatedProjection(col("embedding"), v1, u), 6)
            .as("proj2"))
        .orderBy("vec_id")
    }),

    "e60_ann_recall" -> ((s, dir) => {
      // recall@5 of the REAL e55 matryoshka configuration (prefix 16,
      // shortlist 32 — ~0.5 recall on this isotropic fixture, see e55's
      // honesty note) against exact brute force: the evaluator grades a
      // genuine approx/exact gap, and the oracle replays BOTH sides plus
      // the join-and-normalize in SQL.
      val emb = t(s, dir, "embeddings")
      val queries = emb.where("vec_id < 8")
      val exact = SimilarityOps.topKBruteForce(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
      val approx = SimilarityOps.topKMatryoshka(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, prefixDims = 16,
        nCandidates = 32)
      SimilarityOps.annRecall(approx, exact)
        .select(col("query_id"), col("n_hits").cast("long").as("n_hits"),
          col("recall"))
        .orderBy("query_id")
    }),

    "e38_knn_lsh" -> ((s, dir) => {
      // Multi-probe at the FULL Hamming radius (probeBits = nbits): the
      // probe set covers the whole code space, so the bucketed pipeline
      // provably returns the exact brute-force top-k — the graceful-
      // degradation-to-exact invariant, oracle-checked against the same
      // SQL as e37. ANN configurations (probeBits 1-2) are recall-tested
      // in OpsSpec ("LSH top-k recall vs brute force").
      val emb = t(s, dir, "embeddings")
      SimilarityOps.topKLsh(
          emb, "vec_id", "embedding",
          emb.where("vec_id < 8"), "vec_id", "embedding",
          k = 5, dim = 64, nbits = 8, probeBits = 8)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "e40_knn_ivf" -> ((s, dir) => {
      // Full probe (nprobe = nlist): every cell is scored, so IVF provably
      // equals brute force (the invariant OpsSpec asserts as "full probe =
      // exact") — oracle-checked against the e37 SQL. Approximate nprobe
      // settings are recall-tested in OpsSpec.
      val emb = t(s, dir, "embeddings")
      SimilarityOps.topKIvf(
          emb, "vec_id", "embedding",
          emb.where("vec_id < 8"), "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 16)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "e47_knn_ivf_index" -> ((s, dir) => {
      // PERSISTED IVF index: train+assign once, store centroids AND
      // cell-partitioned assignments in real catalog tables, reload both
      // from storage, then probe. Full probe (nprobe = nlist) keeps it
      // provably exact, so the float parquet round trip and the
      // index-table scan path are graded against the same brute-force
      // oracle as e40's recompute-per-call form.
      val emb = t(s, dir, "embeddings")
      val (centroids, assignments) =
        SimilarityOps.buildIvfIndex(emb, "vec_id", "embedding", nlist = 16)
      val wh = java.nio.file.Files.createTempDirectory("graft-ivf-wh").toString
      val cat = new HadoopCatalog(wh)
      val cTbl = cat.createTable("ivf_centroids",
        SparkSchemaConverter.fromSpark(centroids.schema))
      cTbl.append(centroids)
      val aSchema = SparkSchemaConverter.fromSpark(assignments.schema)
      val aTbl = cat.createTable("ivf_assignments", aSchema,
        partitionSpec = PartitionSpec(0, Seq(PartitionField(
          aSchema.fieldByName("cell").get.id, 1000, "cell", "identity"))))
      aTbl.append(assignments)
      // DSv2 loads, NOT Table.toDF: the probe's cell-IN filter reaches
      // the scan through pushFilters and prunes manifest entries in the
      // EXECUTED plan — toDF applies .where after file planning, so the
      // pruning would only be logical there
      SimilarityOps.topKIvfFromIndex(
          s.read.format("graft").load(cTbl.location),
          s.read.format("graft").load(aTbl.location),
          emb.where("vec_id < 8"), "vec_id", "embedding",
          k = 5, nprobe = 16)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "e58_filtered_knn" -> ((s, dir) => {
      // FILTERED vector search — top-k restricted to a metadata-passing
      // id subset (here: label % 3 = 0), the query shape every RAG stack
      // runs. The allow list applies as a semi-join on the index
      // assignments BEFORE any cosine math; full probe keeps it provably
      // exact over the filtered corpus, so the oracle is brute force
      // with the same WHERE.
      val emb = t(s, dir, "embeddings")
      val (centroids, assignments) =
        SimilarityOps.buildIvfIndex(emb, "vec_id", "embedding", nlist = 16)
      SimilarityOps.topKIvfFromIndex(
          centroids, assignments,
          emb.where("vec_id < 8"), "vec_id", "embedding",
          k = 5, nprobe = 16,
          allowIds = Some(emb.where("label % 3 = 0").select("vec_id")))
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "e56_knn_pq_index" -> ((s, dir) => {
      // PERSISTED PQ index: train+encode once, store the m*ksub codebook
      // AND the compact (vec_id, codes, resid) column in real catalog
      // tables, reload both from storage, then search — the ADC pass
      // scans the codes table (m ints + a double per vector), and only
      // bound-admitted candidates join back to the base table for the
      // exact re-rank. The residual bound is unconditional, so the round
      // trip grades against the same brute-force MIPS oracle as e45's
      // recompute-per-call form at ANY codebook quality.
      val emb = t(s, dir, "embeddings")
      val (codebook, codes) = SimilarityOps.buildPqIndex(
        emb, "vec_id", "embedding", dim = 64, m = 8, ksub = 16)
      val wh = java.nio.file.Files.createTempDirectory("graft-pq-wh").toString
      val cat = new HadoopCatalog(wh)
      val cbTbl = cat.createTable("pq_codebook",
        SparkSchemaConverter.fromSpark(codebook.schema))
      cbTbl.append(codebook)
      val cdTbl = cat.createTable("pq_codes",
        SparkSchemaConverter.fromSpark(codes.schema))
      cdTbl.append(codes)
      SimilarityOps.topKPqFromIndex(
          s.read.format("graft").load(cbTbl.location),
          s.read.format("graft").load(cdTbl.location),
          emb, "vec_id", "embedding",
          emb.where("vec_id < 8"), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "e57_knn_pq_index_incremental" -> ((s, dir) => {
      // INCREMENTAL PQ maintenance: codebook trains on 80% of the corpus,
      // the remaining 20% delta encodes under the PERSISTED codebook
      // (encodeToPqIndex — map-only) and appends to the codes table.
      // The residual bound is unconditional, so the two-commit index
      // searches provably exact over the WHOLE corpus even though the
      // codebook never saw the delta — graded by the same MIPS oracle
      // as e45/e56.
      val emb = t(s, dir, "embeddings")
      val base = emb.where("vec_id % 5 != 0")
      val delta = emb.where("vec_id % 5 = 0")
      val (codebook, baseCodes) = SimilarityOps.buildPqIndex(
        base, "vec_id", "embedding", dim = 64, m = 8, ksub = 16)
      val wh = java.nio.file.Files.createTempDirectory("graft-pq-inc-wh").toString
      val cat = new HadoopCatalog(wh)
      val cbTbl = cat.createTable("pq_codebook",
        SparkSchemaConverter.fromSpark(codebook.schema))
      cbTbl.append(codebook)
      val cdTbl = cat.createTable("pq_codes",
        SparkSchemaConverter.fromSpark(baseCodes.schema))
      cdTbl.append(baseCodes)
      val reloadedCb = s.read.format("graft").load(cbTbl.location)
      cdTbl.append(SimilarityOps.encodeToPqIndex(
        delta, "vec_id", "embedding", reloadedCb))
      SimilarityOps.topKPqFromIndex(
          reloadedCb,
          s.read.format("graft").load(cdTbl.location),
          emb, "vec_id", "embedding",
          emb.where("vec_id < 8"), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "e62_knn_ivfpq_index" -> ((s, dir) => {
      // PERSISTED IVF+PQ index — the canonical billion-scale composition
      // (e47's cell pruning × e56's compressed scan) through the real
      // storage layer: centroids + PQ codebook + ONE cell-partitioned
      // entries table holding (vec_id, cell, codes, resid) — no raw
      // vector copy in the index; base embeddings are read only for
      // bound-admitted candidates. Full probe keeps it provably exact
      // (the residual bound is unconditional within probed cells), so
      // the three-table round trip grades against the same brute-force
      // MIPS oracle as e45/e46/e56. Partial-probe manifest pruning is
      // file-count-asserted in OpsSpec.
      val emb = t(s, dir, "embeddings")
      val (centroids, codebook, entries) = buildPersistedIvfPq(s, dir)
      SimilarityOps.topKIvfPqFromIndex(
          centroids, codebook, entries,
          emb, "vec_id", "embedding",
          emb.where("vec_id < 8"), "vec_id", "embedding",
          k = 5, nprobe = 16)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "e64_ivf_index_health" -> ((s, dir) => {
      // the retraining-trigger monitor a production ANN service runs on
      // its standing index: per-cell fill skew (a broken/stale assign
      // path collapses the corpus into few cells — skew → nlist; sane
      // kmeans on this fixture measures ≤ 1.18 across sf0.001-sf1) and
      // mean PQ residual (a broken/stale codebook quantizes nothing —
      // resid → ‖v‖ ≈ 1.0; sane measures 0.73-0.78). Threshold pattern:
      // the structural columns replay in SQL, the health lives in flags
      // with bounds 2.0 / 0.9 sitting between sane and broken. Audits
      // the PERSISTED index (the memoized three-table reload), so a
      // storage-layer corruption of codes/resid also trips it.
      val (_, _, entries) = persistedIvfPqIndex(s, dir)
      val fills = entries.groupBy("cell")
        .agg(count(lit(1)).as("__fill"))
      val fillStats = fills.agg(
        count(lit(1)).as("__ncells"), sum("__fill").as("__n"),
        max("__fill").as("__mx"), avg("__fill").as("__mean"))
      val resid = entries.agg(avg("resid").as("__mr"))
      fillStats.crossJoin(resid)
        .select(col("__ncells").cast("long").as("n_cells"),
          col("__n").cast("long").as("n_entries"),
          when(col("__ncells") === 16, 1L).otherwise(0L).as("no_empty_cells"),
          when(col("__mx") <= col("__mean") * 2.0, 1L).otherwise(0L)
            .as("fill_skew_le_2"),
          when(col("__mr") <= 0.9, 1L).otherwise(0L).as("mean_resid_le_09"))
    }),

    "e62_knn_ivfpq_search_only" -> ((s, dir) => {
      // the AMORTIZED half of e62 (the d82_bm25_search_only pattern):
      // probes against the per-(session, sf) memoized STANDING persisted
      // index — train + three-table write paid exactly once (the bench
      // warm run), so this entry's steady-state time is the per-query-
      // batch cost a deployment with a long-lived index repeats. Full
      // probe keeps it provably exact, so it grades against the same
      // brute-force MIPS oracle as e62.
      val emb = t(s, dir, "embeddings")
      val (centroids, codebook, entries) = persistedIvfPqIndex(s, dir)
      SimilarityOps.topKIvfPqFromIndex(
          centroids, codebook, entries,
          emb, "vec_id", "embedding",
          emb.where("vec_id < 8"), "vec_id", "embedding",
          k = 5, nprobe = 16)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "e63_knn_sq8_index" -> ((s, dir) => {
      // PERSISTED SQ8 index — the int8 point of the compression spectrum
      // between e52's 1-bit codes and e45/e56's PQ: dim + 16 bytes per
      // vector, NO trained state at all (encoding is a pure per-vector
      // function, so the index can never staleness-drift and incremental
      // maintenance is a plain append — shown here: 4/5 of the corpus
      // indexed first, the rest appended with a second buildSq8Index
      // call). The unconditional residual bound keeps search provably
      // exact, so the round trip grades against the same brute-force
      // MIPS oracle as e45/e56/e62.
      val emb = t(s, dir, "embeddings")
      val wh = java.nio.file.Files.createTempDirectory("graft-sq8-wh").toString
      val cat = new HadoopCatalog(wh)
      val base = SimilarityOps.buildSq8Index(
        emb.where("vec_id % 5 != 0"), "vec_id", "embedding")
      val cTbl = cat.createTable("sq8_codes",
        SparkSchemaConverter.fromSpark(base.schema))
      cTbl.append(base)
      cTbl.append(SimilarityOps.buildSq8Index(
        emb.where("vec_id % 5 = 0"), "vec_id", "embedding"))
      SimilarityOps.topKSq8FromIndex(
          s.read.format("graft").load(cTbl.location),
          emb, "vec_id", "embedding",
          emb.where("vec_id < 8"), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "e54_range_search" -> ((s, dir) => {
      // cosine RANGE search — "everything at least this similar",
      // however many that is (the dedup/recall-sweep complement to
      // top-k). Exact by construction: one map-side pass against the
      // broadcast query batch, threshold filter per row, no per-query
      // state. Threshold 0.9 sits in a gap of the fixture's cosine
      // distribution (organic pairs stay clear of it — the e39
      // argument), so engine float wobble cannot flip membership;
      // every query matches at least itself at cosine 1.
      val emb = t(s, dir, "embeddings")
      SimilarityOps.rangeSearch(emb, "vec_id", "embedding",
          emb.where("vec_id < 8"), "vec_id", "embedding", threshold = 0.9)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "vec_id")
    }),

    "e55_knn_matryoshka" -> ((s, dir) => {
      // Matryoshka two-stage top-k: candidates ranked on the first 16 of
      // 64 dims (map-only broadcast pass, top_k_by combine), shortlist of
      // 32 re-ranked on the full vector. BOTH stages are deterministic
      // (score desc, id asc), so the oracle replays the REAL approximate
      // configuration in SQL — not a degenerate exact one. Honesty note:
      // recall vs brute force is meaningful only on MRL-shaped data
      // (prefix-heavy); this fixture's isotropic vectors give a prefix
      // only ~sqrt(16/64) of the signal, so recall here is ~0.5 by
      // construction — OpsSpec property-tests >=0.9 recall on
      // prefix-heavy vectors, the data shape the operator targets.
      val emb = t(s, dir, "embeddings")
      SimilarityOps.topKMatryoshka(emb, "vec_id", "embedding",
          emb.where("vec_id < 8"), "vec_id", "embedding",
          k = 5, prefixDims = 16, nCandidates = 32)
        .select(col("query_id"), col("vec_id"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "e53_knn_ivf_index_incremental" -> ((s, dir) => {
      // INCREMENTAL index maintenance: build the persisted IVF index on
      // 80% of the corpus, then cell-assign the remaining 20% delta under
      // the EXISTING centroids (assignToIndex — map-only) and append it
      // to the assignments table. Assignment is a pure per-vector
      // function of the codebook, so the grown index equals a fresh full
      // re-assignment, and at full probe the reloaded two-commit table
      // is provably exact — graded against the same brute-force oracle
      // as e40/e47 over the WHOLE corpus.
      val emb = t(s, dir, "embeddings")
      val base = emb.where("vec_id % 5 != 0")
      val delta = emb.where("vec_id % 5 = 0")
      val (centroids, baseAssign) =
        SimilarityOps.buildIvfIndex(base, "vec_id", "embedding", nlist = 16)
      val wh = java.nio.file.Files.createTempDirectory("graft-ivf-inc-wh").toString
      val cat = new HadoopCatalog(wh)
      val cTbl = cat.createTable("ivf_centroids",
        SparkSchemaConverter.fromSpark(centroids.schema))
      cTbl.append(centroids)
      val aSchema = SparkSchemaConverter.fromSpark(baseAssign.schema)
      val aTbl = cat.createTable("ivf_assignments", aSchema,
        partitionSpec = PartitionSpec(0, Seq(PartitionField(
          aSchema.fieldByName("cell").get.id, 1000, "cell", "identity"))))
      aTbl.append(baseAssign)
      // the incremental append: delta assigned under the PERSISTED
      // centroids (read back from the table, like a later job would);
      // DSv2 loads so probe filters prune files in the executed plan
      val reloadedCentroids = s.read.format("graft").load(cTbl.location)
      aTbl.append(SimilarityOps.assignToIndex(
        delta, "vec_id", "embedding", reloadedCentroids))
      SimilarityOps.topKIvfFromIndex(
          reloadedCentroids,
          s.read.format("graft").load(aTbl.location),
          emb.where("vec_id < 8"), "vec_id", "embedding",
          k = 5, nprobe = 16)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "e44_knn_graph" -> ((s, dir) => {
      // the all-pairs neighbor graph at the provably-exact setting
      // (nprobe = nlist ⇒ every pair meets exactly once through the
      // neighbor's unique cell) — oracle is the brute-force cross join;
      // approximate nprobe recall is spec-tested
      val emb = t(s, dir, "embeddings")
      SimilarityOps.knnGraph(emb, "vec_id", "embedding",
          k = 3, nlist = 16, nprobe = 16)
        .select(col("src_id"), col("nbr_id"),
          col("rank").cast("long").as("rank"))
        .orderBy("src_id", "rank")
    }),

    "e44_knn_graph_approx" -> ((s, dir) => {
      // the kNN graph at the setting a 100 TB run would actually use:
      // auto nlist (sqrt rule) with nprobe 4 — candidate volume
      // ~|corpus|·4/sqrt(n) per vector instead of the exact config's
      // brute-force-equivalent volume. Per-edge results depend on kmeans
      // geometry (not SQL-expressible), so the entry grades itself as a
      // THRESHOLD through the hash gate (r13 verdict item 6): it audits
      // the graph's structure (degree k per src, no self-loops) and its
      // recall@3 against exact brute force over a FIXED 64-probe batch
      // (bounded — the audit stays linear in the corpus, e37's shape,
      // not n²), then emits ONE deterministic summary row. The oracle
      // replays every column from the base table; `recall_floor_met`
      // flips to 0 — a hash mismatch — if mean recall drops below 0.25.
      // Floor honesty (the e55 pattern): this fixture is ISOTROPIC, so
      // nprobe-4-of-sqrt(n) recall degrades by construction as n grows —
      // measured 0.59 / 0.53 / 0.39 at sf0.001/0.01/0.1. The floor's job
      // is regression detection (a broken assign/probe path craters
      // recall to ~k/n ≈ 0.01, 25× below it), not quality certification;
      // OpsSpec pins ≥0.5 on a fixed 200-vector slice, and recall ≥0.9
      // belongs to clustered (real-embedding-shaped) data. Deterministic
      // at fixed params: the kmeans trainer samples in plan order over a
      // fixed file layout and ties break on id.
      val emb = t(s, dir, "embeddings")
      val approx = SimilarityOps.knnGraph(emb, "vec_id", "embedding",
        k = 3, nprobe = 4)
      val probes = emb.where("vec_id < 64")
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // self always lands in the exact top-4 (cosine 1 ties break on id,
      // self can fall at worst to rank 2), so non-self rows = exactly 3
      val exact = SimilarityOps.topKBruteForce(emb, "vec_id", "embedding",
          probes, "qid", "qvec", k = 4)
        .where(col("query_id") =!= col("vec_id"))
        .select(col("query_id").as("src_id"), col("vec_id").as("nbr_id"))
      val hits = approx.join(exact, Seq("src_id", "nbr_id"), "left_semi")
        .groupBy("src_id").agg(count(lit(1)).as("n_hits"))
      val recall = exact.select("src_id").distinct()
        .join(hits, Seq("src_id"), "left")
        .agg(avg(coalesce(col("n_hits"), lit(0L)) / 3.0).as("mean_recall"),
          count(lit(1)).as("n_probed"))
      val shape = approx.agg(
        countDistinct(col("src_id")).as("n_src"),
        count(lit(1)).as("n_edges"),
        sum(when(col("src_id") === col("nbr_id"), 1L).otherwise(0L))
          .as("n_self_loops"))
      shape.crossJoin(recall)
        .select(col("n_src").cast("long").as("n_src"),
          col("n_edges").cast("long").as("n_edges"),
          col("n_self_loops").cast("long").as("n_self_loops"),
          col("n_probed").cast("long").as("n_probed"),
          when(col("mean_recall") >= 0.25, 1L).otherwise(0L)
            .as("recall_floor_met"))
    }),

    "e43_semantic_dedup" -> ((s, dir) => {
      // SemDeDup: k-means clusters, then cosine pruning inside clusters
      // only. Planted dups by power-of-two scaling have a cosine of
      // exactly 1 to every centroid AND to their source (scaling by 2 is
      // exact and rounding is scale-invariant for powers of two), so they
      // provably share their source's cluster and get dropped; no organic
      // pair reaches 0.99 (corpus max < 0.95), so the survivor set and
      // each survivor's n_dups equal the GLOBAL brute-force answer the
      // oracle computes — the clustering can be graded exactly.
      val emb = t(s, dir, "embeddings")
      val planted = emb.where("vec_id % 10 = 0").select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val corpus = emb.select("vec_id", "embedding").unionByName(planted)
      DedupOps.semanticDedup(corpus, "vec_id", "embedding",
          kClusters = 16, threshold = 0.99)
        .orderBy("vec_id")
    }),

    "e42_incremental_embedding_neardup" -> ((s, dir) => {
      // INCREMENTAL embedding dedup: a batch of arriving vectors probes
      // the accepted corpus's hyperplane-signature state. Planted dups by
      // power-of-two scaling (cosine exactly 1, same bucket — e39's
      // guaranteed-recall construction); planted NOVEL vectors by
      // negation (cosine −1 to their source; organic range is ±0.55, far
      // from the 0.95 threshold on both sides).
      val emb = t(s, dir, "embeddings")
      val sigs = DedupOps.embeddingSignatures(emb, "vec_id", "embedding",
        dim = 64, nbits = 12)
      val dups = emb.where("vec_id % 10 = 0").select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val fresh = emb.where("vec_id % 10 = 5").select(
        (col("vec_id") + 2000000L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
      val batch = dups.unionByName(fresh)
      val (clean, _) = DedupOps.incrementalEmbeddingNearDup(
        batch, sigs, emb.select("vec_id", "embedding"),
        "vec_id", "embedding", dim = 64, nbits = 12, threshold = 0.95)
      clean.select("vec_id").orderBy("vec_id")
    }),

    "e41_knn_sq8" -> ((s, dir) => {
      // SQ8 with error-bounded exact re-ranking: the candidate threshold
      // τ − 2E(q) provably admits every true top-k vector, so the output
      // EQUALS the exact inner-product top-k at any setting — no recall
      // knob to mistune. Oracle: the brute-force MIPS top-5 in DuckDB.
      val emb = t(s, dir, "embeddings")
      SimilarityOps.topKSq8(
          emb, "vec_id", "embedding",
          emb.where("vec_id < 8"), "vec_id", "embedding", k = 5, dim = 64)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "e46_knn_ivfpq" -> ((s, dir) => {
      // the composed IVF+PQ index at full probe: cell recall is the only
      // approximation and nprobe = nlist removes it, so the result
      // provably equals the brute-force MIPS top-5 (shared oracle).
      val emb = t(s, dir, "embeddings")
      SimilarityOps.topKIvfPq(
          emb, "vec_id", "embedding",
          emb.where("vec_id < 8"), "vec_id", "embedding", k = 5, dim = 64,
          nlist = 16, nprobe = 16, m = 8, ksub = 16)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "e45_knn_pq" -> ((s, dir) => {
      // Product quantization with per-vector residual-bound exact
      // re-ranking: |dot − adc| ≤ ||q||·||v − v̂||, so the candidate
      // threshold provably admits every true top-k vector — exact at ANY
      // codebook quality. Oracle: the brute-force MIPS top-5 in DuckDB.
      val emb = t(s, dir, "embeddings")
      SimilarityOps.topKPq(
          emb, "vec_id", "embedding",
          emb.where("vec_id < 8"), "vec_id", "embedding", k = 5, dim = 64,
          m = 8, ksub = 16)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "e39_embedding_neardup" -> ((s, dir) => {
      // Planted near-identical vectors by power-of-two scaling: sign(p·2v)
      // == sign(p·v) EXACTLY in IEEE float (scaling by 2 is exact and
      // rounding commutes with it), so every planted pair lands in the same
      // hyperplane bucket — guaranteed recall — and no organic pair reaches
      // cosine 0.99 (corpus max < 0.95). Output provably equals the planted
      // set; cosine rounds to 1.0 in both engines.
      val emb = t(s, dir, "embeddings")
      val planted = emb.where("vec_id % 10 = 0").select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val corpus = emb.select("vec_id", "embedding").unionByName(planted)
      // nbits sizes the hash space: occupancy corpus/2^nbits must stay
      // well under the bucket cap or the cap starts dropping TRUE pairs
      // (nbits=4 → 16 buckets worked at sf0.01 but collapsed recall at
      // sf0.1: every bucket blew past the cap). 12 bits = 4096 buckets
      // holds through sf1; larger corpora raise nbits further.
      DedupOps.embeddingNearDupPairs(corpus, "vec_id", "embedding",
          dim = 64, nbits = 12, threshold = 0.99)
        .withColumn("cosine", round(col("cosine"), 3))
        .orderBy("id_a", "id_b")
    }),

    "m40_media_features" -> ((s, dir) => {
      // REAL decode: valid BMPs (deterministic pixel formula) decoded by
      // javax.imageio; the oracle recomputes [w, h, sumR, sumG, sumB] from
      // the same formula as pure integer SQL — codec output is hash-matched
      val media = MultimodalOps.syntheticImageCorpus(t(s, dir, "documents"), "doc_id")
      MultimodalOps.decodeFeatures(media)
        .select(col("media_id"),
          col("features")(0).cast("int").as("width"),
          col("features")(1).cast("int").as("height"),
          col("features")(2).cast("long").as("sum_r"),
          col("features")(3).cast("long").as("sum_g"),
          col("features")(4).cast("long").as("sum_b"))
        .orderBy("media_id")
    }),

    "m41_frame_sample" -> ((s, dir) => {
      val media = MultimodalOps.syntheticCorpus(t(s, dir, "documents"), "doc_id", "text")
      MultimodalOps.sampleFrames(media, frameBytes = 64, stride = 2)
        .groupBy("media_id", "kind").agg(n().as("n_frames"))
        .orderBy("media_id")
    }),

    "m42_image_neardup" -> ((s, dir) => {
      // perceptual image dedup through the REAL codec: every 7th doc's
      // image is planted again 2× upscaled (different bytes — exact
      // hashing misses it; identical 8×8 average-hash — floor(floor(2a)/2)
      // = floor(a), so the sampling grid sees the same pixels). The
      // oracle recomputes each image's 64 hash bits from the pixel
      // formula as pure integer SQL, so the codec→hash→group pipeline is
      // graded end to end.
      val docs = t(s, dir, "documents")
      val base = MultimodalOps.syntheticImageCorpus(docs, "doc_id")
      val ups = MultimodalOps.syntheticImageCorpusScaled(
        docs.where("doc_id % 7 = 0"), "doc_id", scale = 2, idOffset = 1000000L)
      MultimodalOps.imageNearDup(base.unionByName(ups))
        .orderBy("keep_id", "dup_id")
    }),

    "m43_image_neardup_hamming" -> ((s, dir) => {
      // NEAR-MISS perceptual dedup through the REAL codec: every 11th
      // doc's image re-enters 4× upscaled with three hash-grid sample
      // pixels forced white (at scale 4 each of the 64 grid cells samples
      // a DISTINCT pixel, so the bumps hit exactly cells 0/27/54; the
      // shifted mean may flip borderline bits too). Exact-hash equality
      // (m42) misses these; the d35 band join over the ahash — provably
      // exact at Hamming ≤ 3 by pigeonhole over 4×16-bit chunks — finds
      // every pair. The oracle recomputes both hash sets from the pixel
      // formula in integer SQL and takes brute-force Hamming pairs, so
      // the band join is graded against an independent computation.
      val docs = t(s, dir, "documents")
      val base = MultimodalOps.syntheticImageCorpus(docs, "doc_id")
      val bumped = MultimodalOps.syntheticImageCorpusBumped(
        docs.where("doc_id % 11 = 0"), "doc_id", scale = 4,
        idOffset = 2000000L, cells = Seq(0, 27, 54))
      // maxBucket uncapped for the oracle config: the synthetic corpus
      // grows hash classes past the default boilerplate cap at larger sf
      // (caught by an sf0.1 cross-check — capped Spark dropped pairs the
      // full-enumeration oracle keeps); the exactness claim is the
      // UNCAPPED band join's, and the cap stays the production default
      MultimodalOps.imageNearDupPairs(base.unionByName(bumped), maxHamming = 3,
          maxBucket = 1 << 20)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("id_a", "id_b")
    }),

    "m47_image_dup_clusters" -> ((s, dir) => {
      // m43's perceptual pairs composed into dedup clusters: banded
      // Hamming pairs -> iterative min-label components, the image-side
      // analogue of d45. The oracle recomputes every hash independently
      // and takes components via a recursive reach over brute-force
      // pairs, so BOTH the band join and the propagation are graded.
      val docs = t(s, dir, "documents")
      val base = MultimodalOps.syntheticImageCorpus(docs, "doc_id")
      val bumped = MultimodalOps.syntheticImageCorpusBumped(
        docs.where("doc_id % 11 = 0"), "doc_id", scale = 4,
        idOffset = 2000000L, cells = Seq(0, 27, 54))
      val pairs = MultimodalOps.imageNearDupPairs(base.unionByName(bumped),
        maxHamming = 3, maxBucket = 1 << 20)
      DedupOps.connectedComponents(pairs.select("id_a", "id_b"))
        .orderBy("id")
    }),

    "m44_video_scene_cuts" -> ((s, dir) => {
      // Shot-boundary detection through the REAL codec: 3-scene synthetic
      // videos (4 identical frames per scene, scene s's image id steps by
      // 12 so geometry is constant), per-frame average-hash, cut where
      // consecutive hashes differ. The oracle recomputes every frame hash
      // from the pixel formula in integer SQL and diffs consecutive
      // bitstrings — codec, slicing, and window all graded independently.
      val docs = t(s, dir, "documents").where(col("doc_id") < 300)
      val vids = MultimodalOps.syntheticVideoCorpus(docs, "doc_id",
        scenes = 3, framesPerScene = 4)
      MultimodalOps.videoSceneCuts(vids, nFrames = 12, minHamming = 1)
        .select(col("media_id"), col("frame_no").cast("long").as("frame_no"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("media_id", "frame_no")
    }),

    "m49_video_neardup" -> ((s, dir) => {
      // video-level near-dup by frame-fingerprint overlap: scene s of
      // video v renders image id v + s*12, so videos 12 apart share two
      // of three scenes bit-exactly — the planted true positives. Pairs
      // need >= 2 shared distinct frame hashes; the oracle rebuilds
      // every frame hash from the pixel formula and replays the same
      // distinct-overlap join and maxFrameDf stopword cut.
      val docs = t(s, dir, "documents").where(col("doc_id") < 300)
      val vids = MultimodalOps.syntheticVideoCorpus(docs, "doc_id",
        scenes = 3, framesPerScene = 4)
      MultimodalOps.videoNearDupPairs(vids, nFrames = 12, minShared = 2,
          maxFrameDf = 1000)
        .select(col("id_a"), col("id_b"), col("n_shared").cast("long").as("n_shared"))
        .orderBy("id_a", "id_b")
    }),

    "m50_image_downsample" -> ((s, dir) => {
      // 2:1 box-filter image resize through the REAL codec; every output
      // channel value graded via integer checksums — the oracle rebuilds
      // the pixels from the fixture formula and replays the truncating
      // 2x2 block average
      val docs = t(s, dir, "documents").where(col("doc_id") < 200)
      val imgs = MultimodalOps.syntheticImageCorpus(docs, "doc_id")
      MultimodalOps.imageDownsample(imgs, factor = 2)
        .select(col("media_id"), posexplode(col("pixels")))
        .groupBy("media_id").agg(
          count(lit(1)).as("n_vals"),
          sum(col("col")).as("vsum"),
          sum(col("col") * ((col("pos") % 97) + 1)).as("wsum"))
        .select(col("media_id"), col("n_vals"),
          col("vsum").cast("long").as("vsum"),
          col("wsum").cast("long").as("wsum"))
        .orderBy("media_id")
    }),

    "m48_audio_downsample" -> ((s, dir) => {
      // 2:1 box-filter decimation through the REAL codec; every output
      // sample graded via integer checksums (count, Σ|s|, position-
      // weighted Σ) — the oracle rebuilds the PCM from the fixture
      // formula and replays the truncating pair-average
      val docs = t(s, dir, "documents").where(col("doc_id") < 200)
      val clips = MultimodalOps.syntheticAudioCorpus(docs, "doc_id")
      MultimodalOps.audioDownsample(clips, factor = 2)
        .select(col("media_id"), posexplode(col("samples")))
        .groupBy("media_id").agg(
          count(lit(1)).as("n_samples"),
          sum(abs(col("col"))).as("sum_abs"),
          sum(col("col") * ((col("pos") % 97) + 1)).as("wsum"))
        .select(col("media_id"), col("n_samples"),
          col("sum_abs").cast("long").as("sum_abs"),
          col("wsum").cast("long").as("wsum"))
        .orderBy("media_id")
    }),

    "m45_audio_silence" -> ((s, dir) => {
      // silence/VAD segmentation through the REAL audio codec: synthetic
      // 16-bit PCM WAVs with planted silent 100-sample blocks, per-frame
      // Σ|sample| in one codegen expression, islands-merge into segments.
      // The oracle recomputes every sample from the PCM formula in
      // integer SQL — codec, framing, and merge graded independently.
      val docs = t(s, dir, "documents").where(col("doc_id") < 200)
      val clips = MultimodalOps.syntheticAudioCorpus(docs, "doc_id")
      MultimodalOps.audioSilenceSegments(clips, frameSamples = 100,
          maxSilenceEnergy = 0L)
        .select(col("media_id"), col("seg_no"), col("silent"),
          col("start_frame").cast("long").as("start_frame"),
          col("n_frames"), col("energy"))
        .orderBy("media_id", "seg_no")
    }),

    "m46_audio_neardup" -> ((s, dir) => {
      // acoustic near-dup via the energy-envelope fingerprint: planted
      // 2x-volume remasters (same recording, different master — every
      // sample comparison preserved) collide at Hamming 0 through the
      // REAL codec; the oracle rebuilds every PCM sample, frame energy,
      // and fingerprint bit in integer SQL and cross-checks all pairs.
      val docs = t(s, dir, "documents").where(col("doc_id") < 200)
      val base = MultimodalOps.syntheticAudioCorpus(docs, "doc_id")
      val remastered = MultimodalOps.syntheticAudioCorpusGain(
        docs.where(col("doc_id") % 9 === 0), "doc_id", gain = 2,
        idOffset = 4000000L)
      MultimodalOps.audioNearDupPairs(base.unionByName(remastered),
          frameSamples = 25, maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("id_a", "id_b")
    }),

    // ---------------------------------------- sf1 slice-oracle twins
    // (r15 verdict item 3) The 12 entries whose FULL oracles are
    // deliberately brute-force (O(n²) pair/Jaccard matrices, recursive
    // component reach, cross-corpus state replays) exceed the 180 s
    // DuckDB budget at sf1, so they were sf0.01/sf0.1-verified only.
    // Each gets a SLICE twin restricted to a deterministic base-index
    // window whose oracle completes at sf1 with non-trivial output (the
    // full entries and their oracles are UNCHANGED at gate scale). Two
    // designs, chosen by the operator's semantics:
    //  - OUTPUT-filtered (d34, d56, d89, e44): the engine runs the FULL
    //    corpus — signatures, banding, bucket caps all at true scale —
    //    and only the output is windowed. Sound because the per-row/
    //    per-pair decision depends only on the row/pair itself (plus the
    //    test/query side, which both engines window identically where
    //    the oracle budget demands it — d56); a full-scale bucket cap
    //    that drops an in-window pair reds the hash — exactly the d35
    //    class the sf1 sweep exists to catch.
    //  - INPUT-windowed (d45, d54, d108, d62, d63, d57, s47, m47):
    //    connected components, keep-first span occurrence, and
    //    accumulated ingest state do NOT localize to an id window (a
    //    chain may pass through out-of-window docs), so both sides
    //    window the corpus input and the oracle replays the identical
    //    sub-corpus — still spanning all ten sf1 copies via the base-
    //    index stride.
    "d34_minhash_pairs_slice" -> ((s, dir) => {
      DedupOps.minhashLshPairs(corpusWithNearDups(s, dir), "doc_id", "text",
          bands = 8, rowsPerBand = 4, shingleN = 3, threshold = 0.7)
        .where(SlicePairBase63)
        .orderBy("id_a", "id_b")
    }),

    "d45_neardup_clusters_slice" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
        .where(SliceBase63)
      val pairs = DedupOps.minhashLshPairs(corpusWithNearDupsOf(docs),
          "doc_id", "text", bands = 8, rowsPerBand = 4, shingleN = 3,
          threshold = 0.7)
        .select("id_a", "id_b")
      DedupOps.connectedComponents(pairs).orderBy("id")
    }),

    "d54_cluster_best_slice" -> ((s, dir) => {
      val corpus = corpusWithNearDupsOf(
        t(s, dir, "documents").select("doc_id", "text").where(SliceBase63))
      val pairs = DedupOps.minhashLshPairs(corpus, "doc_id", "text",
          bands = 8, rowsPerBand = 4, shingleN = 3, threshold = 0.7)
        .select("id_a", "id_b")
      val attrs = corpus.select(col("doc_id"),
        TextOps.qualityScore(col("text")).cast("long").as("quality"))
      DedupOps.clusterRepresentatives(pairs, attrs, "doc_id", "quality")
        .orderBy("component")
    }),

    "d56_fuzzy_decontaminate_slice" -> ((s, dir) => {
      // FULL corpus scanned, %9-windowed test suite broadcast, %99-
      // windowed output: per-doc keep/drop depends only on (doc, test
      // side), so output windowing is exact given the same test side on
      // both engines. 99 is coprime to the %5 suite stride (a %90 window
      // was a SUBSET of the suite: every windowed doc matched its own
      // mutant and the slice came back empty); the test side must be
      // windowed too — corpus-window × FULL test side still exceeded the
      // 180 s DuckDB budget at sf1.
      val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
      val toks = TextOps.tokens(col("text"))
      val test = docs.where(s"doc_id % 5 = 0 AND $SliceBase9").select(
        concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 1, lit(1))))
          .as("text"))
      DedupOps.fuzzyDecontaminate(docs, test, "doc_id", "text")
        .where("doc_id % 10000000 % 1000000 % 99 = 0")
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    "d57_incremental_neardup_slice" -> ((s, dir) =>
      incrementalNearDupTwoStep(s,
        t(s, dir, "documents").select("doc_id", "lang", "text")
          .where(SliceBase27))),

    "s47_stream_ingest_dedup_slice" -> ((s, dir) =>
      streamIngestDedup(s,
        t(s, dir, "documents").select("doc_id", "lang", "text")
          .where(SliceBase27))),

    "d62_dup_span_stats_slice" -> ((s, dir) => {
      DedupOps.duplicateSpanStats(
          t(s, dir, "documents").select("doc_id", "text").where(SliceBase9),
          "doc_id", "text", w = 8)
        .orderBy("doc_id")
    }),

    "d63_dup_span_removal_slice" -> ((s, dir) => {
      DedupOps.removeDuplicateSpans(
          t(s, dir, "documents").select("doc_id", "text").where(SliceBase9),
          "doc_id", "text", w = 8)
        .select("doc_id", "text", "n_tokens_kept").orderBy("doc_id")
    }),

    "d89_dup_source_matrix_slice" -> ((s, dir) => {
      // full-corpus pair stream, output-windowed, folded into the
      // source matrix; the source join strips the near-dup offset
      // EXACTLY (a +1e6 mutant of copy-k doc i re-joins doc k·1e7+i),
      // valid at every sf
      def baseId(c: Column): Column =
        c - when(c % 10000000L >= 1000000L, 1000000L).otherwise(0L)
      val src = t(s, dir, "documents")
        .select(col("doc_id").as("__oid"), col("source"))
      val pairs = DedupOps.minhashLshPairs(corpusWithNearDups(s, dir),
          "doc_id", "text", bands = 8, rowsPerBand = 4, shingleN = 3,
          threshold = 0.7)
        .where(SlicePairBase63)
        .select("id_a", "id_b")
      pairs
        .join(src.select(col("__oid").as("__oa"), col("source").as("__sa")),
          baseId(col("id_a")) === col("__oa"))
        .join(src.select(col("__oid").as("__ob"), col("source").as("__sb")),
          baseId(col("id_b")) === col("__ob"))
        .select(least(col("__sa"), col("__sb")).as("source_lo"),
          greatest(col("__sa"), col("__sb")).as("source_hi"))
        .groupBy("source_lo", "source_hi")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_lo", "source_hi")
    }),

    "e44_knn_graph_slice" -> ((s, dir) => {
      // full exact graph (nprobe = nlist), src side windowed: each
      // windowed source still ranks neighbors over the ENTIRE corpus,
      // so the oracle pays n_window × n, not n²
      val emb = t(s, dir, "embeddings")
      SimilarityOps.knnGraph(emb, "vec_id", "embedding",
          k = 3, nlist = 16, nprobe = 16)
        .where("src_id % 10000000 % 100 = 0")
        .select(col("src_id"), col("nbr_id"),
          col("rank").cast("long").as("rank"))
        .orderBy("src_id", "rank")
    }),

    "m47_image_dup_clusters_slice" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(SliceBase9)
      val base = MultimodalOps.syntheticImageCorpus(docs, "doc_id")
      val bumped = MultimodalOps.syntheticImageCorpusBumped(
        docs.where("doc_id % 11 = 0"), "doc_id", scale = 4,
        idOffset = 2000000L, cells = Seq(0, 27, 54))
      val pairs = MultimodalOps.imageNearDupPairs(base.unionByName(bumped),
        maxHamming = 3, maxBucket = 1 << 20)
      DedupOps.connectedComponents(pairs.select("id_a", "id_b"))
        .orderBy("id")
    }),

    "d108_split_repair_slice" -> ((s, dir) => {
      val corpus = corpusWithNearDupsOf(
        t(s, dir, "documents").select("doc_id", "text").where(SliceBase63))
      val assigned = CorpusOps.splitAssign(corpus, col("text"))
      val pairs = DedupOps.minhashLshPairs(corpus, "doc_id", "text",
          bands = 8, rowsPerBand = 4, shingleN = 3, threshold = 0.7)
        .select("id_a", "id_b")
      val comps = DedupOps.connectedComponents(pairs)
      CorpusOps.splitRepair(assigned, "doc_id", "split", comps)
        .select(col("doc_id"), col("split_before"), col("split"),
          col("moved"))
        .orderBy("doc_id")
    })
  )

  // ------------------------------------------------------------- oracles

  /** DuckDB list expression for whitespace tokens of `text`. */
  private val ToksSql =
    "CASE WHEN length(trim(text))=0 THEN CAST([] AS VARCHAR[]) " +
      "ELSE regexp_split_to_array(trim(text), '\\s+') END"

  /** Shared rolling-stats oracle (j11 batch, s64 streaming — the
    * train/serve-parity pair must produce identical numbers). */
  private lazy val RollingOracleSql: String =
    """WITH ev AS (SELECT user_id, ts, CAST(value AS DECIMAL(18,6)) AS v
      |            FROM events WHERE value IS NOT NULL),
      |r AS (SELECT user_id, ts, v,
      |    CAST(count(*) OVER w AS BIGINT) AS roll_n,
      |    sum(v) OVER w AS roll_sum,
      |    min(v) OVER w AS roll_min,
      |    max(v) OVER w AS roll_max
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW))
      |SELECT user_id, ts, CAST(v AS DOUBLE) AS value, roll_n,
      |  CAST(roll_sum AS DOUBLE) AS roll_sum,
      |  CAST(roll_min AS DOUBLE) AS roll_min,
      |  CAST(roll_max AS DOUBLE) AS roll_max,
      |  ROUND(CAST(roll_sum AS DOUBLE) / roll_n, 6) AS roll_avg
      |FROM r ORDER BY user_id, ts, value""".stripMargin

  /** Shared rolling-zscore oracle (j12 batch, s65 streaming). */
  private lazy val ZscoreOracleSql: String =
    """WITH ev AS (SELECT user_id, ts, CAST(value AS DECIMAL(18,6)) AS v
      |            FROM events WHERE value IS NOT NULL),
      |r AS (SELECT user_id, ts, v,
      |    CAST(count(*) OVER w AS BIGINT) AS roll_n,
      |    CAST(sum(v) OVER w AS DOUBLE) / count(*) OVER w AS mean,
      |    CAST(sum(v * v) OVER w AS DOUBLE) / count(*) OVER w AS msq
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)),
      |z AS (SELECT user_id, ts, v, roll_n,
      |    CASE WHEN greatest(msq - mean * mean, 0) = 0 THEN NULL
      |         ELSE (CAST(v AS DOUBLE) - mean)
      |              / sqrt(greatest(msq - mean * mean, 0)) END AS zraw
      |  FROM r)
      |SELECT user_id, ts, CAST(v AS DOUBLE) AS value, roll_n,
      |  ROUND(zraw, 6) AS zscore,
      |  CASE WHEN zraw IS NULL THEN NULL ELSE ABS(zraw) > 1.5 END AS is_anomaly
      |FROM z ORDER BY user_id, ts, value""".stripMargin

  /** Shared BM25 oracle (d76 one-shot, d82 persisted-index round trip —
    * both must produce the identical ranking): Robertson idf, dyadic
    * k1 = 1.25 / b = 0.75, scores rounded to 6 BEFORE ranking, ties on
    * doc_id. */
  private lazy val Bm25OracleSql: String =
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
      |occ AS (SELECT doc_id, unnest(t) AS term FROM toks),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |       FROM occ GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
      |         CAST((SELECT sum(tf) FROM tf) AS DOUBLE) /
      |         CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
      |qt AS (SELECT DISTINCT doc_id AS query_id, unnest(t[1:4]) AS term
      |       FROM toks WHERE doc_id % 97 = 0),
      |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
      |          WHERE term IN (SELECT term FROM qt) GROUP BY 1),
      |ts AS (SELECT qt.query_id, tf.doc_id,
      |         ln(1.0 + (st.n - CAST(dfreq.df AS DOUBLE) + 0.5) /
      |                  (CAST(dfreq.df AS DOUBLE) + 0.5)) *
      |         (CAST(tf.tf AS DOUBLE) * 2.25) /
      |         (CAST(tf.tf AS DOUBLE) + 1.25 *
      |           (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / st.avgdl)) AS s
      |       FROM tf JOIN qt USING (term) JOIN dl USING (doc_id)
      |         JOIN dfreq ON tf.term = dfreq.term CROSS JOIN st),
      |sc AS (SELECT query_id, doc_id, ROUND(SUM(s), 6) AS score
      |       FROM ts GROUP BY 1, 2),
      |rk AS (SELECT query_id, doc_id, score,
      |         CAST(row_number() OVER (PARTITION BY query_id
      |           ORDER BY score DESC, doc_id ASC) AS INT) AS rank FROM sc)
      |SELECT query_id, doc_id, score, rank FROM rk WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Shared CTE chain for the exact-substring span-dedup oracles (d62/d63):
    * positional word-`w`-gram occurrences → global keep-first → duplicated
    * ranges → merged islands per doc. Mirrors [[DedupOps.duplicateSpans]]. */
  /** Shared CTE chain for the winnowing oracles (d70/d71): positional
    * `k`-gram md5s → 41-char `hash ++ reflected-pos` sort keys → per-window
    * min over `w` consecutive grams (the robust-winnowing rightmost-min
    * tie rule, one string compare) → distinct selections per document.
    * Mirrors [[graft.ops.DedupOps.winnowFingerprints]] exactly; `corpus`
    * names the CTE/table holding `(doc_id, text)`. */
  private def winnowCtes(k: Int, w: Int, corpus: String): String =
    s"""toks AS (SELECT doc_id, $ToksSql AS t FROM $corpus),
       |occ AS (
       |  SELECT doc_id, u.p AS p, u.h AS h FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t)-$k+1,0)+1),
       |      i -> {'p': i, 'h': md5(array_to_string(t[i:i+${k - 1}], ' '))})) AS u
       |    FROM toks) z
       |), keys AS (
       |  SELECT doc_id, p,
       |    h || lpad(CAST(999999999 - p AS VARCHAR), 9, '0') AS kk FROM occ
       |), cnt AS (SELECT doc_id, COUNT(*) AS n FROM occ GROUP BY 1),
       |sel AS (
       |  SELECT doc_id, p, min(kk) OVER (PARTITION BY doc_id ORDER BY p
       |    ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS kk
       |  FROM keys
       |), dist AS (
       |  SELECT DISTINCT s.doc_id, s.kk FROM sel s JOIN cnt USING (doc_id)
       |  WHERE s.p <= greatest(cnt.n - ${w - 1}, 1)
       |)""".stripMargin

  private def spanCtes(w: Int, where: String = ""): String =
    s"""WITH toks AS (
       |  SELECT doc_id, $ToksSql AS t FROM documents$where
       |), occ AS (
       |  SELECT doc_id, u.p AS p, u.h AS h FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t)-$w+1,0)+1),
       |      i -> {'p': i, 'h': md5(array_to_string(t[i:i+$w-1], ' '))})) AS u
       |    FROM toks) z
       |), firsts AS (
       |  SELECT h, MIN({'i': doc_id, 'p': p}) AS fk FROM occ GROUP BY h
       |), dups AS (
       |  SELECT o.doc_id, o.p AS s, o.p + $w - 1 AS e
       |  FROM occ o JOIN firsts f ON o.h = f.h
       |  WHERE {'i': o.doc_id, 'p': o.p} <> f.fk
       |), isl AS (
       |  SELECT doc_id, s, e, CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1 THEN 1 ELSE 0 END AS ni
       |  FROM dups
       |), isl2 AS (
       |  SELECT doc_id, s, e, SUM(ni) OVER (PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS island
       |  FROM isl
       |), merged AS (
       |  SELECT doc_id, island, MIN(s) AS ms, MAX(e) AS me FROM isl2 GROUP BY doc_id, island
       |)""".stripMargin

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  /** Exact top-5 cosine kNN — the shared oracle for e37 (brute force) and
    * the exactness-by-construction configs of e38 (full-radius multi-probe
    * LSH) and e40 (full-probe IVF). */
  /** Shared CTE chain for the image-hash oracles (m43 pairs, m47
    * clusters): the synthetic corpus + its bumped re-encodes, per-cell
    * grayscale from the pixel formula in integer SQL, and the 64-bit
    * average-hash as a bitstring — everything up to `hashes`. */
  private def imageHashCtes(where: String = "",
      bumpAnd: String = ""): String =
    s"""imgs AS (
      |  SELECT doc_id AS media_id, doc_id AS src, doc_id % 6 + 3 AS w0,
      |         doc_id % 4 + 2 AS h0, FALSE AS bumped FROM documents$where
      |  UNION ALL
      |  SELECT doc_id + 2000000, doc_id, doc_id % 6 + 3, doc_id % 4 + 2, TRUE
      |  FROM documents WHERE doc_id % 11 = 0$bumpAnd
      |), cells AS (
      |  SELECT media_id, src, w0, bumped, g.i AS i,
      |    ((g.i % 8) * w0) // 8 AS bx,
      |    ((g.i // 8) * h0) // 8 AS by
      |  FROM imgs CROSS JOIN generate_series(0, 63) AS g(i)
      |), grays AS (
      |  SELECT media_id, i,
      |    CASE WHEN bumped AND i IN (0, 27, 54) THEN 255000
      |    ELSE 299 * ((src*31 + ((by*w0 + bx)*3 + 0)*7) % 256)
      |       + 587 * ((src*31 + ((by*w0 + bx)*3 + 1)*7) % 256)
      |       + 114 * ((src*31 + ((by*w0 + bx)*3 + 2)*7) % 256) END AS g1000
      |  FROM cells
      |), sums AS (
      |  SELECT media_id, SUM(g1000) AS s FROM grays GROUP BY 1
      |), hashes AS (
      |  SELECT g.media_id,
      |    string_agg(CASE WHEN 64 * g.g1000 > s.s THEN '1' ELSE '0' END,
      |               '' ORDER BY g.i) AS hs
      |  FROM grays g JOIN sums s USING (media_id) GROUP BY g.media_id
      |)""".stripMargin

  /** Shared by j01 (batch as-of) and s53 (the same enrichment driven
    * through the streaming foreachBatch path — batch-invariant against a
    * static right side, so the result must be identical). */
  private lazy val AsofOracleSql: String =
    """WITH l AS (SELECT event_id, user_id, ts, value FROM events),
      |r AS (SELECT user_id, ts, max(value) AS quote FROM events
      |      WHERE event_id % 7 = 0 GROUP BY 1, 2)
      |SELECT l.event_id, r.quote,
      |  CAST(epoch_us(l.ts) - epoch_us(r.ts) AS BIGINT) AS lag_us
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY event_id""".stripMargin

  /** Shared by d91 (batch) and s59 (the same map-only pass on a stream —
    * batch-invariant by construction): the derived line view is
    * [text, blank, 60-char prefix, same prefix], and the engine counts
    * by exact line/gram text in one native pass, so the SQL replay is
    * literal. */
  private lazy val RepetitionOracleSql: String =
    s"""WITH d2 AS (SELECT doc_id,
       |    text || chr(10) || chr(10) || substr(text, 1, 60) || chr(10) ||
       |    substr(text, 1, 60) AS text FROM documents),
       |lx AS (SELECT doc_id, unnest(list_filter(str_split(text, chr(10)),
       |         x -> length(trim(x)) > 0)) AS line FROM d2),
       |pl AS (SELECT doc_id, line, count(*) AS cnt, max(length(line)) AS len
       |       FROM lx GROUP BY 1, 2),
       |lstat AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
       |   1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS dup_line_frac,
       |   CAST(sum(CASE WHEN cnt > 1 THEN cnt * len ELSE 0 END) AS DOUBLE)
       |     / CAST(sum(cnt * len) AS DOUBLE) AS dup_line_char_frac
       | FROM pl GROUP BY 1),
       |gx AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2 THEN
       |         list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
       |         ELSE CAST([] AS VARCHAR[]) END) AS gram
       |       FROM (SELECT doc_id, $ToksSql AS t FROM d2)),
       |pg AS (SELECT doc_id, gram, count(*) AS cnt FROM gx GROUP BY 1, 2),
       |gstat AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
       |   CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS top_gram_frac
       | FROM pg GROUP BY 1)
       |SELECT d.doc_id, COALESCE(lstat.n_lines, 0) AS n_lines,
       |  lstat.dup_line_frac, lstat.dup_line_char_frac,
       |  COALESCE(gstat.n_grams, 0) AS n_grams, gstat.top_gram_frac
       |FROM documents d LEFT JOIN lstat USING (doc_id)
       |LEFT JOIN gstat ON d.doc_id = gstat.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Shared by j10 (batch lag) and s63 (the streamed last-ts carry):
    * every >12h per-user silence, integer-µs arithmetic. */
  private val GapOracleSql: String =
    """WITH l AS (SELECT user_id,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev, ts
      |  FROM events)
      |SELECT user_id, prev AS gap_start, ts AS gap_end,
      |  epoch_us(ts) - epoch_us(prev) AS gap_us
      |FROM l
      |WHERE prev IS NOT NULL AND epoch_us(ts) - epoch_us(prev) > 43200000000
      |ORDER BY user_id, gap_start""".stripMargin

  /** Shared by e61 (batch) and s62 (the same counters drained from a
    * stream): planted-defect routing with modulo priority mirroring the
    * Spark when-chain (97 before 101 before 103 before 107). */
  private val EmbeddingHealthOracleSql: String =
    """WITH e AS (SELECT CASE
      |    WHEN vec_id % 97 = 0 THEN embedding[1:32]
      |    WHEN vec_id % 101 = 0 THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
      |    WHEN vec_id % 103 = 0 THEN list_append(embedding[1:63], CAST('NaN' AS FLOAT))
      |    WHEN vec_id % 107 = 0 THEN NULL
      |    ELSE embedding END AS v
      |  FROM embeddings),
      |c AS (SELECT v, v IS NULL AS is_null,
      |    v IS NOT NULL AND len(v) <> 64 AS wrong_dim,
      |    v IS NOT NULL AND len(list_filter(v, x -> isnan(x) OR isinf(x))) > 0 AS nonfin,
      |    v IS NOT NULL AND len(list_filter(v, x -> x <> CAST(0.0 AS FLOAT))) = 0 AS zero
      |  FROM e)
      |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
      |  CAST(count(CASE WHEN is_null THEN 1 END) AS BIGINT) AS n_null,
      |  CAST(count(CASE WHEN wrong_dim THEN 1 END) AS BIGINT) AS n_wrong_dim,
      |  CAST(count(CASE WHEN NOT is_null AND NOT wrong_dim AND nonfin THEN 1 END) AS BIGINT) AS n_nonfinite,
      |  CAST(count(CASE WHEN NOT is_null AND NOT wrong_dim AND NOT nonfin AND zero THEN 1 END) AS BIGINT) AS n_zero_norm
      |FROM c""".stripMargin

  /** Shared by d109 (batch) and s69 (the same combinable ES reservoir
    * drained from a stream): keys replay float-for-float — u is
    * bit-identical integer-nibble arithmetic, ln/divide on identical
    * doubles, id tie-break. */
  /** Shared by d119 (batch) and s75 (the same map-only signal computed
    * in-flight): the compiled unigram-entropy loop replayed relationally
    * — unnest → per-(doc, token) counts → ln(N) − Σ c·ln c / N at a
    * 6-decimal round (the d77 avg-of-logs precedent); empty docs fall
    * out of the unnest and COALESCE back to (0, 0, 0.0); NULL text
    * stays NULL on both sides. */
  private lazy val UnigramEntropyOracleSql: String =
    s"""WITH t AS (SELECT doc_id, unnest($ToksSql) AS tok FROM documents),
       |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
       |  FROM t GROUP BY 1, 2),
       |e AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS n_types,
       |    ROUND(ln(CAST(sum(c) AS DOUBLE)) -
       |      sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / sum(c), 6)
       |      AS unigram_entropy
       |  FROM c GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(CASE WHEN d.text IS NULL THEN NULL
       |    ELSE COALESCE(e.n_tokens, 0) END AS BIGINT) AS n_tokens,
       |  CAST(CASE WHEN d.text IS NULL THEN NULL
       |    ELSE COALESCE(e.n_types, 0) END AS BIGINT) AS n_types,
       |  CASE WHEN d.text IS NULL THEN NULL
       |    ELSE COALESCE(e.unigram_entropy, 0.0) END AS unigram_entropy
       |FROM documents d LEFT JOIN e ON d.doc_id = e.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The full distributed logistic-regression replay (d120): md5-nibble
    * bag-of-words featurize, TWO fixed-point gradient steps (per-doc
    * contributions floored to 16 fractional bits — integer sums replay
    * in any order), then scoring — weights never cross engines, both
    * sides train their own. The margin is a FIXED left-to-right 17-term
    * chain and its argument is floored before `exp`, so σ sees
    * bit-identical doubles (the d109 ln-replays-float-for-float
    * precedent); the one guarded surface is ROUND(p, 6). Generated, not
    * hand-written: the 16 bucket columns/terms are interpolated. */
  private def logRegReplayCtes(trainWhere: String, iters: Int = 2,
                               lr: Double = 1.0): String = {
    val lrSql = if (lr == lr.toLong.toDouble) s"${lr.toLong}.0" else lr.toString
    val nibCounts = (0 until 16)
      .map(j => s"SUM(CASE WHEN nib=$j THEN 1 ELSE 0 END) AS c$j")
      .mkString(",\n       |   ")
    val featCols = (0 until 16)
      .map(j => s"CAST(COALESCE(bc.c$j, 0) AS DOUBLE) AS c$j")
      .mkString(",\n       |   ")
    // centered features: 16·c_j/n − 1 (see TextOps.logRegMargin)
    def xSql(j: Int): String = s"(c$j * 16.0 / n - 1.0)"
    def zBody(w: Int => String): String =
      (1 until 16).foldLeft(s"${w(0)} * ${xSql(0)}")(
        (acc, j) => s"$acc + ${w(j)} * ${xSql(j)}") + s" + ${w(16)}"
    def pExpr(w: Int => String): String =
      s"1.0/(1.0 + exp(-(CAST(floor((${zBody(w)}) * 65536.0) AS DOUBLE)/65536.0)))"
    val gradSums = ((0 until 16)
      .map(j => s"SUM(CAST(floor(((y - p) * ${xSql(j)}) * 65536.0) AS BIGINT)) AS s$j") :+
      "SUM(CAST(floor((y - p) * 65536.0) AS BIGINT)) AS s16")
      .mkString(",\n       |   ")
    // round k: p_k from w_{k-1} (w_0 is the literal zero vector),
    // gradient sums s_k, weights w_k = w_{k-1} + lr·(s/2^16/nn)
    val rounds = (1 to iters).map { k =>
      val wref: Int => String =
        if (k == 1) (_: Int) => "0.0" else j => s"w.w$j"
      val from = if (k == 1) "f" else s"f CROSS JOIN w${k - 1} w"
      val wCols = (0 until 17).map { j =>
        val prev = if (k == 1) "0.0" else s"w.w$j"
        s"$prev + $lrSql * (CAST(s$j AS DOUBLE) / 65536.0 / nn) AS w$j"
      }.mkString(",\n       |   ")
      val wFrom = if (k == 1) s"s$k" else s"s$k CROSS JOIN w${k - 1} w"
      s"""p$k AS (SELECT f.*, ${pExpr(wref)} AS p FROM $from),
         |s$k AS MATERIALIZED (SELECT
         |   $gradSums,
         |   CAST(COUNT(*) AS DOUBLE) AS nn FROM p$k),
         |w$k AS MATERIALIZED (SELECT
         |   $wCols
         |  FROM $wFrom)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS MATERIALIZED (SELECT doc_id, lang, text, $ToksSql AS t FROM documents),
       |occ AS (SELECT doc_id,
       |    strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1 AS nib
       |  FROM (SELECT doc_id, unnest(t) AS tok FROM d WHERE text IS NOT NULL)),
       |bc AS MATERIALIZED (SELECT doc_id,
       |   $nibCounts
       |  FROM occ GROUP BY doc_id),
       |f AS MATERIALIZED (SELECT d.doc_id,
       |   CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |   CAST(GREATEST(len(d.t), 1) AS DOUBLE) AS n,
       |   $featCols
       |  FROM d LEFT JOIN bc USING (doc_id)
       |  WHERE d.text IS NOT NULL AND ($trainWhere)),
       |$rounds,
       |ff AS (SELECT d.doc_id, d.text,
       |   CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS label,
       |   CAST(GREATEST(len(d.t), 1) AS DOUBLE) AS n,
       |   $featCols
       |  FROM d LEFT JOIN bc USING (doc_id)),
       |sc AS (SELECT ff.doc_id, ff.text, ff.label,
       |   ${pExpr(j => s"w.w$j")} AS p
       |  FROM ff CROSS JOIN w$iters w)""".stripMargin
  }

  private lazy val LogRegOracleSql: String =
    s"""${logRegReplayCtes("TRUE")}
       |SELECT doc_id, CAST(label AS BIGINT) AS label,
       |  CASE WHEN text IS NULL THEN NULL ELSE ROUND(p, 6) END AS score,
       |  CAST(CASE WHEN text IS NULL THEN NULL
       |    WHEN p >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS pred
       |FROM sc ORDER BY doc_id""".stripMargin

  /** d121: reliability bins of a deeper-trained model (16 steps, lr 2 —
    * enough movement to populate several deciles) — per decile of
    * predicted probability, doc count, positive count, exact mean label,
    * and a fixed-point mean score (sum of floor(p·2^16) —
    * order-invariant). */
  private lazy val LogRegCalibrationOracleSql: String =
    s"""${logRegReplayCtes("TRUE", iters = 16, lr = 2.0)}
       |SELECT CAST(LEAST(CAST(floor(p * 10.0) AS BIGINT), 9) AS BIGINT) AS bin,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(label) AS BIGINT) AS n_pos,
       |  ROUND(CAST(SUM(label) AS DOUBLE) / COUNT(*), 6) AS mean_label,
       |  ROUND(CAST(SUM(CAST(floor(p * 65536.0) AS BIGINT)) AS DOUBLE)
       |    / 65536.0 / COUNT(*), 6) AS mean_score
       |FROM sc WHERE text IS NOT NULL
       |GROUP BY 1 ORDER BY bin""".stripMargin

  /** e69: the full power-iteration replay — init e_0, `iters` rounds of
    * (fixed-order dot → fixed-point per-dim sums → sqrt-normalize), then
    * the per-vector projection. Generated: the 64 dot terms, 64 sums,
    * and 64 normalized components are interpolated; every chained CTE is
    * MATERIALIZED (the d121 lesson: an inlined weight chain re-expands
    * exponentially). */
  private def pcaXSql(j: Int) = s"CAST(embedding[${j + 1}] AS DOUBLE)"
  private def pcaDotSql(dim: Int, w: Int => String): String =
    (1 until dim).foldLeft(s"${w(0)} * ${pcaXSql(0)}")(
      (acc, j) => s"$acc + ${w(j)} * ${pcaXSql(j)}")

  private def pcaPowerCtes(dim: Int, iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      val wref: Int => String =
        if (k == 1) j => (if (j == 0) "1.0" else "0.0") else j => s"w.v$j"
      val from = if (k == 1) "e" else s"e CROSS JOIN v${k - 1} w"
      val sums = (0 until dim)
        .map(j => s"SUM(CAST(floor((d * ${pcaXSql(j)}) * 16777216.0) AS BIGINT)) AS s$j")
        .mkString(",\n       |   ")
      val ts = (0 until dim)
        .map(j => s"CAST(s$j AS DOUBLE) / 16777216.0 AS t$j")
        .mkString(", ")
      val sumsq = (0 until dim).foldLeft("0.0")(
        (acc, j) => s"$acc + t$j * t$j")
      val vs = (0 until dim).map(j => s"t$j / nrm AS v$j").mkString(", ")
      s"""d$k AS (SELECT e.vec_id, e.embedding, ${pcaDotSql(dim, wref)} AS d FROM $from),
         |t$k AS MATERIALIZED (SELECT
         |   $sums
         |  FROM d$k),
         |v$k AS MATERIALIZED (SELECT $vs FROM (
         |  SELECT *, sqrt($sumsq) AS nrm FROM (
         |    SELECT $ts FROM t$k)))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
       |$rounds""".stripMargin
  }

  private lazy val PcaPowerOracleSql: String =
    s"""${pcaPowerCtes(64, 4)}
       |SELECT e.vec_id, ROUND(${pcaDotSql(64, j => s"w.v$j")}, 6) AS proj
       |FROM e CROSS JOIN v4 w
       |ORDER BY e.vec_id""".stripMargin

  /** e71: the deflated second-component replay — v1's four rounds (the
    * e69 chain), then four rounds on `x − (x·v1)·v1` with d1 projected
    * once into a MATERIALIZED per-row CTE, then the deflated
    * projection. */
  private lazy val PcaSecondOracleSql: String = {
    val dim = 64
    val iters = 4
    def xdSql(j: Int) = s"(${pcaXSql(j)} - d1 * vv.v$j)"
    def duSql(u: Int => String): String =
      (1 until dim).foldLeft(s"${u(0)} * ${xdSql(0)}")(
        (acc, j) => s"$acc + ${u(j)} * ${xdSql(j)}")
    val rounds = (1 to iters).map { k =>
      val uref: Int => String =
        if (k == 1) j => (if (j == 0) "1.0" else "0.0") else j => s"w.u$j"
      val from = if (k == 1) "ed CROSS JOIN v4 vv"
        else s"ed CROSS JOIN v4 vv CROSS JOIN u${k - 1} w"
      val sums = (0 until dim)
        .map(j => s"SUM(CAST(floor((du * ${xdSql(j)}) * 16777216.0) AS BIGINT)) AS s$j")
        .mkString(",\n       |   ")
      val ts = (0 until dim)
        .map(j => s"CAST(s$j AS DOUBLE) / 16777216.0 AS t$j")
        .mkString(", ")
      val sumsq = (0 until dim).foldLeft("0.0")(
        (acc, j) => s"$acc + t$j * t$j")
      val us = (0 until dim).map(j => s"t$j / nrm AS u$j").mkString(", ")
      s"""g$k AS (SELECT ed.vec_id, ed.embedding, ed.d1, ${duSql(uref)} AS du
         |  FROM $from),
         |su$k AS MATERIALIZED (SELECT
         |   $sums
         |  FROM g$k CROSS JOIN v4 vv),
         |u$k AS MATERIALIZED (SELECT $us FROM (
         |  SELECT *, sqrt($sumsq) AS nrm FROM (
         |    SELECT $ts FROM su$k)))""".stripMargin
    }.mkString(",\n")
    s"""${pcaPowerCtes(dim, 4)},
       |ed AS MATERIALIZED (SELECT e.vec_id, e.embedding,
       |   ${pcaDotSql(dim, j => s"w.v$j")} AS d1
       |  FROM e CROSS JOIN v4 w),
       |$rounds
       |SELECT ed.vec_id, ROUND(${duSql(j => s"w.u$j")}, 6) AS proj2
       |FROM ed CROSS JOIN v4 vv CROSS JOIN u$iters w
       |ORDER BY ed.vec_id""".stripMargin
  }

  /** e70: the ABTT transform under the e69 direction — removed
    * component and residual norm, the same fixed-order arithmetic
    * (x_j − d·v_j squared left-to-right, then the correctly-rounded
    * sqrt). */
  private lazy val AbttOracleSql: String = {
    val resid = (0 until 64).foldLeft("0.0")((acc, j) =>
      s"$acc + (${pcaXSql(j)} - d * w.v$j) * (${pcaXSql(j)} - d * w.v$j)")
    s"""${pcaPowerCtes(64, 4)},
       |sc AS (SELECT e.vec_id, e.embedding,
       |   ${pcaDotSql(64, j => s"w.v$j")} AS d
       |  FROM e CROSS JOIN v4 w)
       |SELECT sc.vec_id, ROUND(d, 6) AS removed,
       |  ROUND(sqrt($resid), 6) AS resid_norm
       |FROM sc CROSS JOIN v4 w
       |ORDER BY sc.vec_id""".stripMargin
  }

  /** d123: the 40 most-uncertain docs under the d121 model — the
    * active-learning annotation batch (u = |p − 0.5| ascending, doc_id
    * tie-break, label-free selection). */
  private lazy val LogRegActiveOracleSql: String =
    s"""${logRegReplayCtes("TRUE", iters = 16, lr = 2.0)},
       |u AS (SELECT doc_id, abs(p - 0.5) AS u FROM sc WHERE text IS NOT NULL),
       |r AS (SELECT doc_id, u,
       |  row_number() OVER (ORDER BY u, doc_id) AS rank FROM u)
       |SELECT CAST(rank AS BIGINT) AS rank, doc_id,
       |  ROUND(u, 6) AS uncertainty
       |FROM r WHERE rank <= 40 ORDER BY rank""".stripMargin

  /** d122: train on the content-hash training split (md5 first hex NOT
    * in 0-2 — the d43 convention), confusion cells on the ~18.75%
    * held-out docs. */
  private lazy val LogRegEvalOracleSql: String =
    s"""${logRegReplayCtes("substr(md5(text), 1, 1) NOT IN ('0', '1', '2')",
          iters = 16, lr = 2.0)}
       |SELECT CAST(label AS BIGINT) AS label,
       |  CAST(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS pred,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM sc
       |WHERE text IS NOT NULL
       |  AND substr(md5(text), 1, 1) IN ('0', '1', '2')
       |GROUP BY 1, 2 ORDER BY label, pred""".stripMargin

  private lazy val WeightedSampleOracleSql: String =
    s"""WITH d AS (SELECT doc_id, lang,
       |  CAST(len($ToksSql) AS DOUBLE) AS w,
       |  (strpos('0123456789abcdef', substr(md5('ws1:' || CAST(doc_id AS VARCHAR)),1,1))-1)*4096 +
       |  (strpos('0123456789abcdef', substr(md5('ws1:' || CAST(doc_id AS VARCHAR)),2,1))-1)*256 +
       |  (strpos('0123456789abcdef', substr(md5('ws1:' || CAST(doc_id AS VARCHAR)),3,1))-1)*16 +
       |  (strpos('0123456789abcdef', substr(md5('ws1:' || CAST(doc_id AS VARCHAR)),4,1))-1) AS bk
       | FROM documents),
       |k AS (SELECT doc_id, lang,
       |  ln((CAST(bk AS DOUBLE) + 0.5) / 65536.0) / w AS key
       | FROM d WHERE w > 0),
       |r AS (SELECT doc_id, lang,
       |  row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id) AS rank
       | FROM k)
       |SELECT lang, doc_id, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 20 ORDER BY lang, rank""".stripMargin

  /** Shared by d112 (batch) and s70 (the same model scored in-flight):
    * the full DSIR replay — 256-bucket hashed-bigram histogram, add-1
    * smoothed log-ratios floored to 16 fractional bits (per-doc sums
    * exact dyadics in any order), Gumbel keys from the d109 md5-nibble
    * uniform, top-50 by (key DESC, doc_id). */
  /** Shared by d117 (batch) and s73 (the same combinable counters
    * drained from a complete-mode stream): per-source window counts
    * and padding waste under both packing strategies at ctx = 64. */
  private lazy val PackingEfficiencyOracleSql: String =
    s"""WITH tc AS (SELECT source, CAST(len($ToksSql) AS BIGINT) AS t
       |  FROM documents),
       |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(t) AS BIGINT) AS total_tokens,
       |    CAST(sum((t + 63) // 64) AS BIGINT) AS chunks_padded
       |  FROM tc GROUP BY source),
       |e AS (SELECT source, n_docs, total_tokens, chunks_padded,
       |    CAST((total_tokens + 63) // 64 AS BIGINT) AS chunks_packed
       |  FROM g)
       |SELECT source, n_docs, total_tokens, chunks_padded, chunks_packed,
       |  CAST(chunks_padded * 64 - total_tokens AS BIGINT) AS waste_padded,
       |  CAST(chunks_packed * 64 - total_tokens AS BIGINT) AS waste_packed,
       |  CASE WHEN chunks_padded = 0 THEN 0.0
       |    ELSE ROUND(CAST(chunks_padded * 64 - total_tokens AS DOUBLE)
       |      / (chunks_padded * 64), 6) END AS pad_frac_padded,
       |  CASE WHEN chunks_packed = 0 THEN 0.0
       |    ELSE ROUND(CAST(chunks_packed * 64 - total_tokens AS DOUBLE)
       |      / (chunks_packed * 64), 6) END AS pad_frac_packed
       |FROM e ORDER BY source""".stripMargin

  /** d116: the d66 per-doc graded fraction computed for three suite
    * strides, each collapsed to the release-review report row. */
  private lazy val ContaminationReportOracleSql: String = {
    val suites = Seq(5, 7, 11).map { m =>
      s"""r$m AS (SELECT 'mod$m' AS suite,
         |  CAST(count(CASE WHEN frac > 0 THEN 1 END) AS BIGINT) AS n_flagged,
         |  CAST(count(CASE WHEN frac >= 0.5 THEN 1 END) AS BIGINT) AS n_heavy,
         |  ROUND(CAST(count(CASE WHEN frac > 0 THEN 1 END) AS DOUBLE)
         |    / count(*), 6) AS flag_rate
         | FROM (
         |  SELECT CASE WHEN len(gs.g) = 0 THEN CAST(0 AS DOUBLE)
         |    ELSE CAST(COALESCE(h.n_shared, 0) AS DOUBLE) / len(gs.g) END AS frac
         |  FROM gs LEFT JOIN (
         |    SELECT g.doc_id, COUNT(*) AS n_shared
         |    FROM grams g JOIN (
         |      SELECT DISTINCT unnest(list_distinct(
         |        CASE WHEN len(tm) >= 8 THEN list_transform(range(1, len(tm) - 6),
         |          i -> md5(array_to_string(tm[i:i+7], ' ')))
         |        ELSE CAST([] AS VARCHAR[]) END)) AS gram
         |      FROM (SELECT t[1:greatest(len(t) - 1, 1)] AS tm
         |            FROM toks WHERE doc_id % $m = 0)) tg USING (gram)
         |    GROUP BY g.doc_id) h USING (doc_id)))"""
    }
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |gs AS (
       | SELECT doc_id, list_distinct(
       |   CASE WHEN len(t) >= 8 THEN list_transform(range(1, len(t) - 6),
       |     i -> md5(array_to_string(t[i:i+7], ' ')))
       |   ELSE CAST([] AS VARCHAR[]) END) AS g
       | FROM toks),
       |grams AS (SELECT doc_id, unnest(g) AS gram FROM gs),
       |${suites.mkString(",\n")}
       |SELECT * FROM r5 UNION ALL SELECT * FROM r7 UNION ALL SELECT * FROM r11
       |ORDER BY suite""".stripMargin
  }

  /** The DSIR model CTE chain (docs → hashed-bigram buckets → combined
    * raw/target histogram → quantized log-ratio deltas) — shared by the
    * full d112/s70 replay and d115's incremental-fold check. */
  private lazy val DsirModelCte: String =
    s"""docs AS (SELECT doc_id, lang, $ToksSql AS t FROM documents),
       |hb AS (SELECT doc_id,
       |    (strpos('0123456789abcdef', substr(md5(t[i] || ' ' || t[i+1]),1,1))-1)*16 +
       |    (strpos('0123456789abcdef', substr(md5(t[i] || ' ' || t[i+1]),2,1))-1) AS b,
       |    lang
       |  FROM (SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i FROM docs)),
       |h AS (SELECT b, CAST(count(*) AS BIGINT) AS cq,
       |    CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS cp
       |  FROM hb GROUP BY b),
       |tot AS (SELECT CAST(sum(cq) AS DOUBLE) AS tq,
       |    CAST(sum(cp) AS DOUBLE) AS tp FROM h),
       |delta AS (SELECT r.range AS b,
       |    floor((ln((coalesce(h.cp, 0) + 1) / (tot.tp + 256.0)) -
       |           ln((coalesce(h.cq, 0) + 1) / (tot.tq + 256.0))) * 65536.0)
       |      / 65536.0 AS d
       |  FROM range(256) r LEFT JOIN h ON h.b = r.range CROSS JOIN tot)""".stripMargin

  /** d115: the full-corpus single-train deltas — the entry must
    * reproduce them from FOLDED per-batch histograms. */
  private lazy val DsirIncrementalOracleSql: String =
    s"""WITH $DsirModelCte
       |SELECT CAST(b AS BIGINT) AS bucket, d + 0.0 AS delta
       |FROM delta ORDER BY bucket""".stripMargin

  private lazy val DsirOracleSql: String = {
    val bkSql = (1 to 4).map { i =>
      s"(strpos('0123456789abcdef', substr(md5('dsir1:' || CAST(doc_id AS VARCHAR)),$i,1))-1)"
    }.zip(Seq(4096, 256, 16, 1))
      .map { case (nib, m) => if (m == 1) nib else s"$nib*$m" }
      .mkString(" + ")
    s"""WITH $DsirModelCte,
       |lw AS (SELECT docs.doc_id, coalesce(sum(dl.d), 0.0) AS logw
       |  FROM docs LEFT JOIN hb ON hb.doc_id = docs.doc_id
       |  LEFT JOIN delta dl ON dl.b = hb.b
       |  GROUP BY docs.doc_id),
       |ky AS (SELECT doc_id, logw,
       |    logw + (-ln(-ln((CAST($bkSql AS DOUBLE) + 0.5) / 65536.0))) AS k
       |  FROM lw),
       |r AS (SELECT doc_id, ROUND(logw, 6) + 0.0 AS logw_r,
       |    row_number() OVER (ORDER BY k DESC, doc_id) AS rank FROM ky)
       |SELECT doc_id, logw_r AS logw, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin
  }

  /** The shared 3-round BPE training CTE chain (the d83/d84 unrolled-
    * iteration pattern): types table once, then per round a filtered
    * symbol split, weighted adjacent-pair count, 1-row argmax, and the
    * literal delimiter-bracketed merge replace. d113 reads the merges;
    * d114/s71 also apply them. */
  private lazy val BpeRoundsCte: String = {
    val rounds = (1 to 3).map { i =>
      val pm =
        s"""p$i AS (SELECT s[j] AS a, s[j+1] AS b, CAST(sum(n) AS BIGINT) AS cnt FROM (
           |    SELECT n, s, unnest(range(1, len(s))) AS j FROM (
           |      SELECT n, list_filter(regexp_split_to_array(enc, '[()]+'),
           |        x -> x <> '') AS s
           |      FROM t${i - 1}))
           |  GROUP BY 1, 2),
           |m$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1)"""
      val ap =
        s"""t$i AS (SELECT replace(enc, '(' || m$i.a || ')(' || m$i.b || ')',
           |    '(' || m$i.a || m$i.b || ')') AS enc, n
           |  FROM t${i - 1} CROSS JOIN m$i)"""
      if (i < 3) s"$pm,\n$ap" else pm
    }.mkString(",\n")
    s"""w AS (SELECT unnest($ToksSql) AS w FROM documents),
       |t0 AS (SELECT regexp_replace(w, '(.)', '(\\1)', 'g') AS enc,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM w WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY 1),
       |$rounds""".stripMargin
  }

  private lazy val BpeOracleSql: String =
    s"""WITH $BpeRoundsCte
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS iter, a AS sym_a, b AS sym_b,
       |         cnt AS pair_count FROM m1
       |  UNION ALL SELECT 2, a, b, cnt FROM m2
       |  UNION ALL SELECT 3, a, b, cnt FROM m3)
       |ORDER BY iter""".stripMargin

  /** d118: 2 batched rounds × M=2 unrolled — per round, rank pairs by
    * (cnt DESC, a, b); acceptance 1 is rank 1; acceptance 2 is the
    * lowest-rank candidate within the 4·M=8-row cap sharing no symbol
    * with — and not minting — anything acceptance 1 touched
    * ({a₁, b₁, a₁b₁}); both apply to the pre-round types in one
    * replace chain. Empty acceptances coalesce to '' (the never-
    * matching pattern guard) for application and are dropped from
    * emission; iter is the global acceptance ordinal. */
  private lazy val BpeBatchedOracleSql: String = {
    val rounds = (1 to 2).map { i =>
      val sel =
        s"""p$i AS (SELECT s[j] AS a, s[j+1] AS b, CAST(sum(n) AS BIGINT) AS cnt FROM (
           |    SELECT n, s, unnest(range(1, len(s))) AS j FROM (
           |      SELECT n, list_filter(regexp_split_to_array(enc, '[()]+'),
           |        x -> x <> '') AS s
           |      FROM b${i - 1}))
           |  GROUP BY 1, 2),
           |rk$i AS (SELECT a, b, cnt,
           |    row_number() OVER (ORDER BY cnt DESC, a, b) AS r FROM p$i),
           |n${i}1 AS (SELECT a, b, cnt FROM rk$i WHERE r = 1),
           |n${i}2 AS (SELECT rk.a, rk.b, rk.cnt FROM rk$i rk CROSS JOIN n${i}1 x
           |  WHERE rk.r <= 8
           |    AND rk.a NOT IN (x.a, x.b, x.a || x.b)
           |    AND rk.b NOT IN (x.a, x.b, x.a || x.b)
           |    AND rk.a || rk.b NOT IN (x.a, x.b, x.a || x.b)
           |  ORDER BY rk.r LIMIT 1),
           |c${i}1 AS (SELECT coalesce(max(a), '') AS a,
           |    coalesce(max(b), '') AS b FROM n${i}1),
           |c${i}2 AS (SELECT coalesce(max(a), '') AS a,
           |    coalesce(max(b), '') AS b FROM n${i}2)"""
      val ap =
        s"""b$i AS (SELECT replace(replace(enc,
           |      '(' || x1.a || ')(' || x1.b || ')', '(' || x1.a || x1.b || ')'),
           |      '(' || x2.a || ')(' || x2.b || ')', '(' || x2.a || x2.b || ')')
           |    AS enc, n
           |  FROM b${i - 1} CROSS JOIN c${i}1 x1 CROSS JOIN c${i}2 x2)"""
      if (i < 2) s"$sel,\n$ap" else sel
    }.mkString(",\n")
    s"""WITH w AS (SELECT unnest($ToksSql) AS w FROM documents),
       |b0 AS (SELECT regexp_replace(w, '(.)', '(\\1)', 'g') AS enc,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM w WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY 1),
       |$rounds
       |SELECT CAST(row_number() OVER (ORDER BY rnd, sub) AS BIGINT) AS iter,
       |  a AS sym_a, b AS sym_b, cnt AS pair_count
       |FROM (
       |  SELECT 1 AS rnd, 1 AS sub, a, b, cnt FROM n11
       |  UNION ALL SELECT 1, 2, a, b, cnt FROM n12
       |  UNION ALL SELECT 2, 1, a, b, cnt FROM n21
       |  UNION ALL SELECT 2, 2, a, b, cnt FROM n22)
       |ORDER BY iter""".stripMargin
  }

  /** Shared by d114 (batch) and s71 (the same map-only scoring drained
    * from a stream into a combinable per-language sum): the trained
    * merges applied in learned order to every eligible word occurrence,
    * then per-language symbol totals and fertility. */
  private lazy val BpeFertilityOracleSql: String =
    s"""WITH $BpeRoundsCte,
       |ma1 AS (SELECT coalesce(max(a), '') AS a, coalesce(max(b), '') AS b FROM m1),
       |ma2 AS (SELECT coalesce(max(a), '') AS a, coalesce(max(b), '') AS b FROM m2),
       |ma3 AS (SELECT coalesce(max(a), '') AS a, coalesce(max(b), '') AS b FROM m3),
       |wl AS (SELECT lang, w
       |  FROM (SELECT lang, unnest($ToksSql) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]+$$')),
       |appd AS (SELECT lang,
       |    len(list_filter(regexp_split_to_array(
       |      replace(replace(replace(
       |        regexp_replace(w, '(.)', '(\\1)', 'g'),
       |        '(' || ma1.a || ')(' || ma1.b || ')', '(' || ma1.a || ma1.b || ')'),
       |        '(' || ma2.a || ')(' || ma2.b || ')', '(' || ma2.a || ma2.b || ')'),
       |        '(' || ma3.a || ')(' || ma3.b || ')', '(' || ma3.a || ma3.b || ')'),
       |      '[()]+'), x -> x <> '')) AS ns
       |  FROM wl CROSS JOIN ma1 CROSS JOIN ma2 CROSS JOIN ma3)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(ns) AS BIGINT) AS n_symbols,
       |  ROUND(CAST(sum(ns) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |    AS fertility
       |FROM appd GROUP BY lang ORDER BY lang""".stripMargin

  /** e65: the Artetxe–Schwenk ratio margin replayed — cosine computed
    * EXPLICITLY in double over 16-frac-bit-quantized inputs, in the
    * kernel's exact operation order (`dot / sqrt(na*nb)`; DuckDB's
    * list_cosine_similarity computes in float and drifts a quantum),
    * quantized-cosine top-4 densities on both sides, candidates by raw
    * cosine, final rank by (margin DESC, vec_id). */
  private lazy val MarginMiningOracleSql: String =
    """WITH qe AS (SELECT vec_id, list_transform(embedding,
      |        x -> floor(CAST(x AS DOUBLE) * 65536.0) / 65536.0) AS v
      |      FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM qe WHERE vec_id < 8),
      |s0 AS (SELECT q.query_id, e.vec_id,
      |        list_sum(list_transform(range(1, len(e.v) + 1),
      |          i -> e.v[CAST(i AS INT)] * q.qv[CAST(i AS INT)])) AS dot,
      |        list_sum(list_transform(e.v, x -> x * x)) AS na,
      |        list_sum(list_transform(q.qv, x -> x * x)) AS nb
      |      FROM qe e CROSS JOIN q),
      |s1 AS (SELECT query_id, vec_id,
      |        CASE WHEN na = 0 OR nb = 0 THEN 0.0
      |             ELSE dot / sqrt(na * nb) END AS c
      |      FROM s0),
      |s AS (SELECT query_id, vec_id, c,
      |        floor(c * 65536.0) / 65536.0 AS qc
      |      FROM s1),
      |fwd AS (SELECT query_id, sum(qc) / count(*) AS aq FROM (
      |          SELECT query_id, qc, row_number() OVER (
      |            PARTITION BY query_id ORDER BY qc DESC, vec_id) AS r
      |          FROM s) WHERE r <= 4 GROUP BY query_id),
      |cand AS (SELECT query_id, vec_id, qc FROM (
      |          SELECT query_id, vec_id, qc, row_number() OVER (
      |            PARTITION BY query_id ORDER BY c DESC, vec_id) AS r
      |          FROM s) WHERE r <= 16),
      |bwd AS (SELECT vec_id, sum(qc) / count(*) AS ab FROM (
      |          SELECT vec_id, qc, row_number() OVER (
      |            PARTITION BY vec_id ORDER BY qc DESC, query_id) AS r
      |          FROM s WHERE vec_id IN (SELECT vec_id FROM cand))
      |        WHERE r <= 4 GROUP BY vec_id),
      |m AS (SELECT c.query_id, c.vec_id,
      |        c.qc / ((f.aq + b.ab) / 2.0) AS margin
      |      FROM cand c JOIN fwd f USING (query_id)
      |      JOIN bwd b ON b.vec_id = c.vec_id
      |      WHERE (f.aq + b.ab) > 0),
      |r AS (SELECT query_id, vec_id, ROUND(margin, 6) + 0.0 AS margin_r,
      |        row_number() OVER (
      |          PARTITION BY query_id ORDER BY margin DESC, vec_id) AS rank
      |      FROM m)
      |SELECT query_id, vec_id, margin_r AS margin, CAST(rank AS BIGINT) AS rank
      |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Shared by d105 (batch) and s68 (the same map-only assignment drained
    * from a stream): bucket = first four md5 nibbles (integer arithmetic
    * over 65536 buckets), thresholds 8/10 and 9/10. */
  private val StratifiedSplitOracleSql: String =
    """WITH b AS (SELECT doc_id, lang,
      |  (strpos('0123456789abcdef', substr(md5(text),1,1))-1)*4096 +
      |  (strpos('0123456789abcdef', substr(md5(text),2,1))-1)*256 +
      |  (strpos('0123456789abcdef', substr(md5(text),3,1))-1)*16 +
      |  (strpos('0123456789abcdef', substr(md5(text),4,1))-1) AS bk
      |  FROM documents)
      |SELECT doc_id, lang,
      |  CASE WHEN bk*10 < 65536*8 THEN 'train'
      |       WHEN bk*10 < 65536*9 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM b ORDER BY doc_id""".stripMargin

  /** Shared by j09 (batch) and s60 (the same aggregate drained from a
    * stream): open/close replayed as rank-1 rows under (ts, v) /
    * (ts desc, v desc) — the total order Spark's struct-min/max induces.
    * Decimal arithmetic stays INTERNAL; the output projects DOUBLE —
    * exact DECIMAL(18,6) values convert to identical doubles in both
    * engines, and the driver's hasher treats decimal columns as a
    * value-equal-but-hash-unequal channel (r13 verdict). */
  private val OhlcOracleSql: String =
    """WITH e AS (SELECT user_id, date_trunc('hour', ts) AS bucket, ts,
      |             CAST(value AS DECIMAL(18,6)) AS v
      |           FROM events WHERE value IS NOT NULL),
      |w AS (SELECT user_id, bucket, v,
      |        row_number() OVER (PARTITION BY user_id, bucket
      |          ORDER BY ts, v) AS ro,
      |        row_number() OVER (PARTITION BY user_id, bucket
      |          ORDER BY ts DESC, v DESC) AS rc
      |      FROM e),
      |agg AS (SELECT user_id, bucket,
      |          CAST(max(v) AS DOUBLE) AS high, CAST(min(v) AS DOUBLE) AS low,
      |          CAST(count(*) AS BIGINT) AS n_obs,
      |          CAST(sum(v) AS DOUBLE) AS vsum
      |        FROM e GROUP BY 1, 2)
      |SELECT a.user_id, a.bucket, CAST(o.v AS DOUBLE) AS open, a.high, a.low,
      |  CAST(c.v AS DOUBLE) AS close, a.n_obs, a.vsum
      |FROM agg a
      |JOIN w o ON o.user_id = a.user_id AND o.bucket = a.bucket AND o.ro = 1
      |JOIN w c ON c.user_id = a.user_id AND c.bucket = a.bucket AND c.rc = 1
      |ORDER BY a.user_id, a.bucket""".stripMargin

  /** [[OhlcOracleSql]] restricted to watermark-CLOSED hourly buckets —
    * the s42 cutoff (bucket end <= ms-floored max event time - 10 min,
    * the watermark over ALL events incl. null-value rows) — grading the
    * append-mode streaming twin s66. */
  private lazy val OhlcAppendOracleSql: String = {
    val cut = """FROM agg a
      |JOIN w o ON o.user_id = a.user_id AND o.bucket = a.bucket AND o.ro = 1
      |JOIN w c ON c.user_id = a.user_id AND c.bucket = a.bucket AND c.rc = 1
      |CROSS JOIN (SELECT date_trunc('milliseconds', max(ts))
      |              - INTERVAL 10 MINUTE AS wm FROM events) mx
      |WHERE a.bucket + INTERVAL 1 HOUR <= mx.wm
      |ORDER BY a.user_id, a.bucket""".stripMargin
    OhlcOracleSql.replace(
      """FROM agg a
        |JOIN w o ON o.user_id = a.user_id AND o.bucket = a.bucket AND o.ro = 1
        |JOIN w c ON c.user_id = a.user_id AND c.bucket = a.bucket AND c.rc = 1
        |ORDER BY a.user_id, a.bucket""".stripMargin, cut)
  }

  private val KnnOracleSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
      | s AS (SELECT q.query_id, e.vec_id, list_cosine_similarity(e.embedding, q.qe) AS c
      |        FROM embeddings e CROSS JOIN q)
      |SELECT query_id, vec_id,
      | CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rank
      |FROM s QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Shared by d57 (explicit two-step API drive) and s47 (the same
    * semantics driven by streaming commit consumption): originals all
    * accepted against empty state; a mutant accepted iff no original
    * reaches 3-shingle Jaccard 0.7. */
  private def incrementalNearDupOracle(where: String = ""): String =
    s"""WITH toks AS (SELECT doc_id, lang, $ToksSql AS t FROM documents$where),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |   range(0, greatest(len(t) - 3, 0) + 1),
       |   i -> array_to_string(t[i+1:i+3], ' '))) AS sh
       | FROM toks),
       |msh AS (SELECT doc_id + 1000000 AS doc_id, lang,
       |   list_distinct(list_transform(
       |     range(0, greatest(len(tm) - 3, 0) + 1),
       |     i -> array_to_string(tm[i+1:i+3], ' '))) AS sh
       | FROM (SELECT doc_id, lang, t[1:greatest(len(t) - 1, 1)] AS tm
       |       FROM toks WHERE doc_id % 5 = 0)),
       |badm AS (SELECT DISTINCT m.doc_id FROM msh m, sh a
       | WHERE (CASE WHEN len(m.sh) + len(a.sh) - len(list_intersect(m.sh, a.sh)) = 0 THEN 1.0
       |        ELSE CAST(len(list_intersect(m.sh, a.sh)) AS DOUBLE)
       |             / (len(m.sh) + len(a.sh) - len(list_intersect(m.sh, a.sh))) END) >= 0.7)
       |SELECT doc_id, lang FROM (
       | SELECT doc_id, lang FROM documents$where
       | UNION ALL
       | SELECT doc_id, lang FROM msh
       | WHERE doc_id NOT IN (SELECT doc_id FROM badm)
       |) ORDER BY doc_id""".stripMargin

  /** Shared by d47 and d53 — the Bloom stage changes the execution, not
    * the result. */
  private lazy val DecontaminateOracleSql: String =
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |grams AS (
       | SELECT doc_id, unnest(list_distinct(
       |   CASE WHEN len(t) >= 8 THEN list_transform(range(1, len(t) - 6),
       |     i -> md5(array_to_string(t[i:i+7], ' ')))
       |   ELSE CAST([] AS VARCHAR[]) END)) AS gram
       | FROM toks),
       |testg AS (
       | SELECT DISTINCT unnest(list_distinct(
       |   CASE WHEN len(tm) >= 8 THEN list_transform(range(1, len(tm) - 6),
       |     i -> md5(array_to_string(tm[i:i+7], ' ')))
       |   ELSE CAST([] AS VARCHAR[]) END)) AS gram
       | FROM (SELECT t[1:greatest(len(t) - 1, 1)] AS tm
       |       FROM toks WHERE doc_id % 5 = 0))
       |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
       |FROM grams g JOIN testg USING (gram)
       |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  def oracleSql: Map[String, String] = baseOracleSql ++ sliceOracleSql

  /** d62's oracle past the [[spanCtes]] chain — shared by the full entry
    * and its sf1 slice (which only windows the spanCtes corpus). */
  private lazy val D62Tail: String =
    """, agg AS (
      |  SELECT doc_id, SUM(me - ms + 1) AS dup_tokens, COUNT(*) AS n_spans
      |  FROM merged GROUP BY doc_id
      |)
      |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
      |  CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
      |  CASE WHEN len(t.t) = 0 THEN 0.0
      |    ELSE CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / len(t.t) END AS dup_ratio
      |FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** d63's oracle past the [[spanCtes]] chain (see [[D62Tail]]). */
  private lazy val D63Tail: String =
    """, spanlist AS (
      |  SELECT doc_id, list({'ms': ms, 'me': me}) AS spans FROM merged GROUP BY doc_id
      |), cut AS (
      |  SELECT t.doc_id,
      |    list_filter(t.t, (x, i) ->
      |      len(list_filter(COALESCE(s.spans, []), sp -> sp.ms <= i AND i <= sp.me)) = 0) AS kept
      |  FROM toks t LEFT JOIN spanlist s ON t.doc_id = s.doc_id
      |)
      |SELECT doc_id, COALESCE(array_to_string(kept, ' '), '') AS text,
      |  CAST(len(kept) AS BIGINT) AS n_tokens_kept
      |FROM cut ORDER BY doc_id""".stripMargin

  /** m47's oracle past the [[imageHashCtes]] chain (see [[D62Tail]]). */
  private lazy val M47Tail: String =
    """
      |pairs AS MATERIALIZED (
      |  SELECT a.media_id AS id_a, b.media_id AS id_b
      |  FROM hashes a JOIN hashes b ON a.media_id < b.media_id
      |  WHERE hamming(a.hs, b.hs) <= 3
      |), edges AS MATERIALIZED (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs
      |), reach(id, comp) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.dst, r.comp FROM edges e JOIN reach r ON e.src = r.id
      |)
      |SELECT id, MIN(comp) AS component FROM reach GROUP BY id
      |ORDER BY id""".stripMargin

  /** sf1-slice window predicates in ORACLE SQL form — the exact SQL
    * rendering of [[SliceBase9]]-family windows (see there for the
    * double-mod design and the stride choices). */
  private def ow(n: Int) = s" WHERE doc_id % 10000000 % 1000000 % $n = 0"
  private def oa(n: Int) = s" AND doc_id % 10000000 % 1000000 % $n = 0"

  /** Derive a slice oracle from a full corpusWithNearDups oracle: window
    * the original branch and the near-dup branch by the base-index
    * stride — exactly what the engine twin does by windowing the docs
    * BEFORE planting. Loud requires: if the full oracle's shape ever
    * drifts, this transform must be fixed with it, not silently no-op. */
  private def sliceCorpus(sql: String, n: Int): String = {
    val orig = " SELECT doc_id, text FROM documents\n"
    val nd = " WHERE doc_id % 5 = 0\n"
    require(sql.split(java.util.regex.Pattern.quote(orig), -1).length == 2,
      "sliceCorpus: original-branch pattern must appear exactly once")
    require(sql.split(java.util.regex.Pattern.quote(nd), -1).length == 2,
      "sliceCorpus: near-dup-branch pattern must appear exactly once")
    sql.replace(orig, s" SELECT doc_id, text FROM documents${ow(n)}\n")
      .replace(nd, s" WHERE doc_id % 5 = 0${oa(n)}\n")
  }

  /** Oracles for the sf1 slice twins (r15 verdict item 3) — see the
    * slice-entry section of [[queries]] for the two designs and why each
    * entry uses the one it does. Full oracles unchanged at gate scale. */
  private lazy val sliceOracleSql: Map[String, String] = Map(
    "d34_minhash_pairs_slice" ->
      sliceCorpus(baseOracleSql("d34_minhash_pairs"), 63),
    "d45_neardup_clusters_slice" ->
      sliceCorpus(baseOracleSql("d45_neardup_clusters"), 63),
    "d54_cluster_best_slice" ->
      sliceCorpus(baseOracleSql("d54_cluster_best"), 63),
    "d108_split_repair_slice" ->
      sliceCorpus(baseOracleSql("d108_split_repair"), 63),
    "d57_incremental_neardup_slice" -> incrementalNearDupOracle(ow(27)),
    "s47_stream_ingest_dedup_slice" -> incrementalNearDupOracle(ow(27)),
    "d62_dup_span_stats_slice" -> (spanCtes(8, ow(9)) + D62Tail),
    "d63_dup_span_removal_slice" -> (spanCtes(8, ow(9)) + D63Tail),
    "m47_image_dup_clusters_slice" ->
      (s"WITH RECURSIVE ${imageHashCtes(ow(9), oa(9))}," + M47Tail),

    // corpus output windowed %99 (coprime to the %5 suite stride), test
    // side windowed by base %9 on BOTH engines — corpus-window × full
    // test side still exceeded the 180 s DuckDB budget at sf1
    "d56_fuzzy_decontaminate_slice" ->
      s"""WITH toksall AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |   range(0, greatest(len(t) - 3, 0) + 1),
         |   i -> array_to_string(t[i+1:i+3], ' '))) AS sh
         | FROM toksall WHERE doc_id % 10000000 % 1000000 % 99 = 0),
         |tsh AS (SELECT list_distinct(list_transform(
         |   range(0, greatest(len(tm) - 3, 0) + 1),
         |   i -> array_to_string(tm[i+1:i+3], ' '))) AS sh
         | FROM (SELECT t[1:greatest(len(t) - 1, 1)] AS tm
         |       FROM toksall
         |       WHERE doc_id % 5 = 0 AND doc_id % 10000000 % 1000000 % 9 = 0)),
         |bad AS (SELECT DISTINCT a.doc_id FROM sh a, tsh b
         | WHERE (CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 1.0
         |        ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END) >= 0.7)
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE d.doc_id % 10000000 % 1000000 % 99 = 0
         |  AND d.doc_id NOT IN (SELECT doc_id FROM bad) ORDER BY d.doc_id""".stripMargin,

    // src side windowed %100; each windowed source still ranks the FULL
    // corpus (n_window × n, not n²)
    "e44_knn_graph_slice" ->
      """WITH s AS (SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
        |   list_cosine_similarity(b.embedding, a.embedding) AS c
        | FROM embeddings a CROSS JOIN embeddings b
        | WHERE a.vec_id % 10000000 % 100 = 0 AND a.vec_id <> b.vec_id)
        |SELECT src_id, nbr_id,
        | CAST(row_number() OVER (PARTITION BY src_id ORDER BY c DESC, nbr_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 3 ORDER BY src_id, rank""".stripMargin,

    // windowed pair stream folded into the source matrix; the source join
    // strips the near-dup offset EXACTLY (valid at every sf, unlike the
    // full oracle's %1e6 shortcut, which is consistent-with-engine there)
    "d89_dup_source_matrix_slice" ->
      s"""WITH corpus AS (
         | SELECT doc_id, text FROM documents${ow(63)}
         | UNION ALL
         | SELECT doc_id + 1000000 AS doc_id,
         |        array_to_string(toks[1:greatest(len(toks)-1, 1)], ' ') AS text
         | FROM (SELECT doc_id, $ToksSql AS toks FROM documents)
         | WHERE doc_id % 5 = 0${oa(63)}
         |), sh AS (
         | SELECT doc_id, list_distinct(list_transform(
         |   range(0, greatest(len(toks) - 3, 0) + 1),
         |   i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
         | FROM (SELECT doc_id, $ToksSql AS toks FROM corpus)
         |), pairs AS (
         | SELECT id_a, id_b FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |   CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 1.0
         |        ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END AS jaccard
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         | WHERE jaccard >= 0.7)
         |SELECT least(da.source, db.source) AS source_lo,
         |       greatest(da.source, db.source) AS source_hi,
         |       count(*) AS n_pairs
         |FROM pairs p
         |JOIN documents da
         |  ON p.id_a - (CASE WHEN p.id_a % 10000000 >= 1000000 THEN 1000000 ELSE 0 END) = da.doc_id
         |JOIN documents db
         |  ON p.id_b - (CASE WHEN p.id_b % 10000000 >= 1000000 THEN 1000000 ELSE 0 END) = db.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  private lazy val baseOracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-03-01'
        |  AND l_quantity >= 47
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_join_agg" ->
      """SELECT c_mktsegment,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q04_broadcast_join" ->
      """SELECT p_brand,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 10 GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q05_multi_join" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q06_selective_filter" ->
      """SELECT
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.02 AND l_discount <= 0.08 AND l_quantity < 24""".stripMargin,

    "q07_distinct_agg" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_custs, COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q08_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q09_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q10_union_all" ->
      """SELECT * FROM (
        | SELECT c_name AS name, 'customer' AS src FROM customer WHERE c_acctbal > 9000
        | UNION ALL
        | SELECT s_name AS name, 'supplier' AS src FROM supplier WHERE s_acctbal > 9000
        |) ORDER BY name, src""".stripMargin,

    "q27_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,

    "q26_lateral_topn" ->
      """SELECT n.n_name, top.c_name, top.c_acctbal
        |FROM nation n
        |JOIN LATERAL (
        |  SELECT c_name, c_acctbal FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2
        |) top ON TRUE
        |ORDER BY n.n_name, top.c_acctbal DESC, top.c_name""".stripMargin,

    "q25_set_ops" ->
      """WITH active AS (SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 5000),
        |indebted AS (SELECT c_nationkey AS nk FROM customer WHERE c_acctbal < 0)
        |SELECT * FROM (
        |  SELECT nk, 'both' AS which FROM (
        |    SELECT nk FROM active INTERSECT SELECT nk FROM indebted)
        |  UNION ALL
        |  SELECT nk, 'only_active' AS which FROM (
        |    SELECT nk FROM active EXCEPT SELECT nk FROM indebted)
        |) ORDER BY which, nk""".stripMargin,

    "q11_semi_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_custs FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q12_anti_join" ->
      """SELECT c_nationkey, COUNT(*) AS n_custs FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2001-01-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q13_group_having" ->
      """SELECT o_custkey, COUNT(*) AS n_orders FROM orders
        |GROUP BY o_custkey HAVING COUNT(*) >= 15 ORDER BY o_custkey""".stripMargin,

    "q14_case_agg" ->
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
        | CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
        | CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS returned_revenue,
        | COUNT(*) AS n_items
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q15_scalar_subquery" ->
      """SELECT p_brand, COUNT(*) AS n_parts FROM part
        |WHERE p_size > (SELECT CAST(SUM(p_size) AS DOUBLE) / COUNT(*) FROM part)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q21_min_cost_supplier" ->
      """WITH cost AS (
        |  SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS cost
        |  FROM lineitem GROUP BY 1, 2
        |), best AS (
        |  SELECT l_partkey, cost, l_suppkey,
        |    row_number() OVER (PARTITION BY l_partkey
        |      ORDER BY cost ASC, l_suppkey ASC) AS rn
        |  FROM cost
        |)
        |SELECT b.l_partkey AS p_partkey, p.p_brand, s.s_name, nt.n_name,
        |  b.cost AS best_cost
        |FROM best b
        |JOIN part p ON b.l_partkey = p.p_partkey AND p.p_size < 8
        |JOIN supplier s ON b.l_suppkey = s.s_suppkey
        |JOIN nation nt ON s.s_nationkey = nt.n_nationkey
        |WHERE b.rn = 1
        |ORDER BY p_partkey""".stripMargin,

    "q22_idle_customers" ->
      """WITH pos AS (
        |  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS tot,
        |         CAST(COUNT(*) AS BIGINT) AS n_pos
        |  FROM customer WHERE c_acctbal > 0
        |), sel AS (
        |  SELECT c.c_nationkey, c.c_acctbal FROM customer c CROSS JOIN pos
        |  WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * pos.n_pos > pos.tot
        |    AND NOT EXISTS (SELECT 1 FROM orders o
        |      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |)
        |SELECT CAST(c_nationkey AS INT) AS c_nationkey,
        |  CAST(COUNT(*) AS BIGINT) AS n_custs,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin,

    "q16_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q23_pivot" ->
      """SELECT l_returnflag,
        | CAST(SUM(CASE WHEN l_linestatus = 'F'
        |   THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
        | CAST(SUM(CASE WHEN l_linestatus = 'O'
        |   THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q24_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q17_events_daily" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n_events,
        | COUNT(DISTINCT user_id) AS n_users,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q18_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
        | m AS (SELECT user_id,
        |   CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |        THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q19_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS uname, substr(p_type, 1, 6) AS type6,
        | concat_ws('-', p_brand, p_type) AS brand_type,
        | CAST(length(p_name) AS BIGINT) AS name_len
        |FROM part WHERE p_partkey <= 200 ORDER BY p_partkey""".stripMargin,

    "q20_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "t21_truncate_long" ->
      """SELECT l_partkey - ((l_partkey % 100 + 100) % 100) AS pk_trunc, COUNT(*) AS n_items
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "t22_truncate_string" ->
      """SELECT substr(p_type, 1, 5) AS type_trunc, COUNT(*) AS n_parts
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin,

    "t23_date_transforms" ->
      """SELECT CAST(year(l_shipdate) - 1970 AS BIGINT) AS yr,
        | CAST((year(l_shipdate) - 1970) * 12 + month(l_shipdate) - 1 AS BIGINT) AS mo,
        | CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS dy,
        | COUNT(*) AS n_items
        |FROM lineitem GROUP BY 1, 2, 3 ORDER BY dy""".stripMargin,

    "t24_hour_transform" ->
      """SELECT epoch_us(ts) // 3600000000 AS hr, COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // Murmur3_x86_32 (seed 0) over the Iceberg single-value serialization
    // of a long (8 bytes little-endian = two 32-bit blocks, no tail),
    // written out as DuckDB integer arithmetic: multiplications go through
    // HUGEINT (they exceed 2^63) and back to BIGINT mod 2^32; rotates and
    // xors stay in BIGINT (operands < 2^32). Verified against the spec's
    // known-answer vector murmur3(34L) = 2017239379 → bucket[16] = 3.
    "t25_bucket_transform" ->
      """WITH s1 AS (SELECT l_orderkey & 4294967295 AS k1,
        |                   (l_orderkey >> 32) & 4294967295 AS k2 FROM lineitem),
        |s2 AS (SELECT CAST((CAST(k1 AS HUGEINT) * 3432918353) % 4294967296 AS BIGINT) AS k1, k2 FROM s1),
        |s3 AS (SELECT ((k1 << 15) | (k1 >> 17)) & 4294967295 AS k1, k2 FROM s2),
        |s4 AS (SELECT CAST((CAST(k1 AS HUGEINT) * 461845907) % 4294967296 AS BIGINT) AS k1, k2 FROM s3),
        |s6 AS (SELECT ((k1 << 13) | (k1 >> 19)) & 4294967295 AS h, k2 FROM s4),
        |s7 AS (SELECT CAST((CAST(h AS HUGEINT) * 5 + 3864292196) % 4294967296 AS BIGINT) AS h, k2 FROM s6),
        |t2 AS (SELECT h, CAST((CAST(k2 AS HUGEINT) * 3432918353) % 4294967296 AS BIGINT) AS k2 FROM s7),
        |t3 AS (SELECT h, ((k2 << 15) | (k2 >> 17)) & 4294967295 AS k2 FROM t2),
        |t4 AS (SELECT h, CAST((CAST(k2 AS HUGEINT) * 461845907) % 4294967296 AS BIGINT) AS k2 FROM t3),
        |t5 AS (SELECT xor(h, k2) AS h FROM t4),
        |t6 AS (SELECT ((h << 13) | (h >> 19)) & 4294967295 AS h FROM t5),
        |t7 AS (SELECT CAST((CAST(h AS HUGEINT) * 5 + 3864292196) % 4294967296 AS BIGINT) AS h FROM t6),
        |f1 AS (SELECT xor(xor(h, 8), xor(h, 8) >> 16) AS h FROM t7),
        |f3 AS (SELECT CAST((CAST(h AS HUGEINT) * 2246822507) % 4294967296 AS BIGINT) AS h FROM f1),
        |f4 AS (SELECT xor(h, h >> 13) AS h FROM f3),
        |f5 AS (SELECT CAST((CAST(h AS HUGEINT) * 3266489909) % 4294967296 AS BIGINT) AS h FROM f4),
        |f6 AS (SELECT xor(h, h >> 16) AS h FROM f5)
        |SELECT (h & 2147483647) % 16 AS bucket, COUNT(*) AS n_items
        |FROM f6 GROUP BY 1 ORDER BY 1""".stripMargin,

    "g26_append_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 7 = 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // compaction is row-preserving, so the compacted table must replay
    // the plain source aggregate
    "g54_compact_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 3 = 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // expire + orphan sweep must leave exactly the clean subset serving
    // after maintain() the live table is exactly the clean keep subset
    "g56_maintain_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 5 = 1
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "g55_expire_orphan_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 5 = 1
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "g27_partition_prune" ->
      """SELECT l_linestatus, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "g28_time_travel" ->
      """SELECT COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 10 = 1""".stripMargin,

    "g29_sql_surface" ->
      """SELECT a, b FROM (VALUES (1, 'one'), (2, 'two'), (3, 'three')) t(a, b)
        |WHERE a >= 2 ORDER BY a""".stripMargin,

    "g32_cow_delete" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 10 = 5 AND l_returnflag <> 'A'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "g33_cow_update" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        | CAST(SUM(CAST(CASE WHEN l_returnflag = 'N' THEN l_quantity + 100
        |                    ELSE l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 10 = 6
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "g52_merge_full_sync" ->
      """SELECT n_regionkey + 10 AS n_regionkey, count(*) AS n_nations,
        | min(n_name || '_SYNC') AS first_name
        |FROM nation WHERE n_regionkey <> 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "g51_dynamic_overwrite" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        | CAST(SUM(CAST(CASE WHEN l_returnflag IN ('A', 'N') THEN l_quantity + 500
        |                    ELSE l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 10 = 4
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "g50_insert_overwrite" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        | CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity + 1000
        |                    ELSE l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 10 = 3
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "g35_mor_delete" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 10 = 7 AND l_returnflag <> 'R'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "g36_mor_update_fold" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        | CAST(SUM(CAST(CASE WHEN l_returnflag = 'A' THEN l_quantity + 50
        |                    ELSE l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 10 = 8
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "g37_schema_evolution" ->
      """SELECT src, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM (
        |  SELECT l_quantity, 'old' AS src FROM lineitem WHERE l_orderkey % 10 = 9
        |  UNION ALL
        |  SELECT l_quantity, 'new' AS src FROM lineitem WHERE l_orderkey % 10 = 4
        |) GROUP BY src ORDER BY src""".stripMargin,

    "g38_partition_evolution" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey % 10 IN (2, 3) AND l_returnflag = 'A'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "g39_merge_upsert" ->
      """SELECT o_orderstatus, COUNT(*) AS n_items,
        | CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderkey % 20 = 1 THEN o_totalprice + 100
        |              ELSE o_totalprice END AS price
        |  FROM orders WHERE o_orderkey % 10 = 1
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 10 = 6
        |) GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "g40_rewrite_manifests" ->
      """SELECT o_orderstatus, COUNT(*) AS n_items,
        | CAST(SUM(CAST(CASE WHEN o_orderkey % 20 = 2 THEN o_totalprice + 50
        |                    ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 10 = 2
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "g45_zorder" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 10 = 9 AND l_quantity >= 25.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the committed Puffin-statistics NDVs must equal raw count distincts
    "g53_analyze_stats" ->
      """SELECT 'c_acctbal' AS column_name, CAST(count(DISTINCT c_acctbal) AS BIGINT) AS ndv FROM customer
        |UNION ALL
        |SELECT 'c_custkey', CAST(count(DISTINCT c_custkey) AS BIGINT) FROM customer
        |UNION ALL
        |SELECT 'c_mktsegment', CAST(count(DISTINCT c_mktsegment) AS BIGINT) FROM customer
        |UNION ALL
        |SELECT 'c_nationkey', CAST(count(DISTINCT c_nationkey) AS BIGINT) FROM customer
        |ORDER BY column_name""".stripMargin,

    "g46_v3_deletion_vectors" ->
      """SELECT l_returnflag, COUNT(*) AS n_items, COUNT(*) AS n_rowids,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey % 5 = 0 AND NOT (l_quantity < 10.0) AND l_returnflag <> 'R'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "g48_dsv2_sql" ->
      """WITH final AS (
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey <> 2
        |  UNION ALL
        |  SELECT * FROM (VALUES (990, 'ATLANTIS', 9), (991, 'LEMURIA', 9)))
        |SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_name
        |FROM final GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "g49_sql_merge" ->
      """WITH base AS (
        |  SELECT n_nationkey,
        |    CASE WHEN n_regionkey = 3 THEN n_name || '_EU' ELSE n_name END AS n_name,
        |    n_regionkey
        |  FROM nation),
        |merged AS (
        |  SELECT n_nationkey,
        |    CASE WHEN n_nationkey = 0 THEN 'SWAPPED_0' ELSE n_name END AS n_name,
        |    CASE WHEN n_nationkey = 0 THEN 9 ELSE n_regionkey END AS n_regionkey
        |  FROM base
        |  UNION ALL SELECT 995, 'NEWLAND', 9)
        |SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_name
        |FROM merged
        |WHERE NOT (n_name LIKE 'NATION_1%' OR n_regionkey = 4)
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "g47_wap_fix" ->
      """WITH src AS (SELECT l_quantity, l_returnflag FROM lineitem
        |             WHERE l_orderkey % 10 IN (1, 6)),
        |fixed AS (SELECT CASE WHEN l_returnflag = 'N' THEN l_quantity + 100
        |                 ELSE l_quantity END AS l_quantity, l_returnflag
        |          FROM src WHERE NOT (l_quantity < 5.0))
        |SELECT l_returnflag, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | (SELECT COUNT(*) FROM lineitem WHERE l_orderkey % 10 = 1) AS rows_before_publish
        |FROM fixed GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "g44_wap_publish" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | (SELECT COUNT(*) FROM lineitem WHERE l_orderkey % 10 = 1) AS rows_before_publish
        |FROM lineitem WHERE l_orderkey % 10 IN (1, 6, 7)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "g43_add_files" ->
      """SELECT o_orderstatus, COUNT(*) AS n_items,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 10 = 4
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "g42_changelog" ->
      """WITH base AS (SELECT o_orderkey, o_totalprice, o_orderstatus
        |             FROM orders WHERE o_orderkey % 10 = 3),
        | upd AS (SELECT o_orderkey, o_totalprice + 10 AS o_totalprice, o_orderstatus
        |         FROM base WHERE o_orderkey % 20 = 3),
        | cur AS (SELECT * FROM base WHERE o_orderkey % 20 <> 3
        |         UNION ALL SELECT * FROM upd),
        | changes AS (
        |   SELECT 'insert' AS _change_type, o_totalprice FROM base
        |   UNION ALL SELECT 'delete', o_totalprice FROM base WHERE o_orderkey % 20 = 3
        |   UNION ALL SELECT 'insert', o_totalprice FROM upd
        |   UNION ALL SELECT 'delete', o_totalprice FROM cur WHERE o_orderstatus = 'F'
        | )
        |SELECT _change_type, COUNT(*) AS n_rows,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM changes GROUP BY 1 ORDER BY 1""".stripMargin,

    "g41_time_travel_timestamp" ->
      """SELECT COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 10 = 5""".stripMargin,

    "g30_metadata_tables" ->
      """SELECT CAST(sequence_number AS BIGINT) AS sequence_number, operation
        |FROM (VALUES (1, 'append'), (2, 'append')) t(sequence_number, operation)
        |ORDER BY sequence_number""".stripMargin,

    "g31_incremental_stream" ->
      """SELECT COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 10 = 4""".stripMargin,

    "g34_sql_params_ordinal" ->
      """SELECT b, a FROM (VALUES (1, 'one'), (2, 'two'), (3, 'three')) t(a, b)
        |WHERE a <> 2 ORDER BY 2 DESC LIMIT 2""".stripMargin,

    "s42_stream_windowed" ->
      """WITH mx AS (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 10 MINUTE AS wm
        |            FROM events)
        |SELECT window_start, event_type, n_events FROM (
        | SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n_events
        | FROM events GROUP BY 1, 2) w, mx
        |WHERE window_start + INTERVAL 1 HOUR <= wm
        |ORDER BY 1, 2""".stripMargin,

    "s44_stream_table_source" ->
      "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",

    "s45_stream_roundtrip" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE n_chars >= 200 ORDER BY doc_id",

    "s48_stream_to_table" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE n_chars >= 300 ORDER BY doc_id",

    // compaction is row-preserving and streaming ingest is exactly-once,
    // so the stream-built-then-compacted table replays the batch source
    "s58_stream_compact" ->
      "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",

    "s49_stream_cdc_replicate" ->
      """WITH base AS (SELECT o_orderkey, o_totalprice, o_orderstatus
        |              FROM orders WHERE o_orderkey % 10 = 3)
        |SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 20 = 3 THEN o_totalprice + 10
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderstatus
        |FROM base WHERE o_orderstatus <> 'F'
        |ORDER BY o_orderkey""".stripMargin,

    "s51_stream_upsert" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'xx' ELSE lang END AS lang,
        |  CASE WHEN doc_id % 3 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "s50_stream_sessionize" ->
      """WITH mx AS (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 10 MINUTE AS wm
        |            FROM events),
        |e AS (SELECT user_id, ts, epoch_us(ts) AS us FROM events),
        |m AS (SELECT user_id, ts, us,
        |        CASE WHEN lag(us) OVER w IS NULL
        |             OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |sess AS (SELECT user_id, ts, SUM(ns) OVER (PARTITION BY user_id ORDER BY us
        |           ROWS UNBOUNDED PRECEDING) AS sid
        |         FROM m),
        |g AS (SELECT user_id, sid, min(ts) AS session_start,
        |        max(ts) + INTERVAL 30 MINUTE AS session_end,
        |        COUNT(*) AS n_events
        |      FROM sess GROUP BY 1, 2)
        |SELECT session_start, session_end, user_id, n_events
        |FROM g, mx WHERE session_end <= wm
        |ORDER BY user_id, session_start""".stripMargin,

    "d64_tfidf_keywords" ->
      s"""WITH occ AS (
         |  SELECT doc_id, unnest($ToksSql) AS token FROM documents
         |), tf AS (
         |  SELECT doc_id, token, COUNT(*) AS tf FROM occ GROUP BY doc_id, token
         |), dfreq AS (
         |  SELECT token, COUNT(*) AS doc_freq FROM tf GROUP BY token
         |), nd AS (
         |  SELECT COUNT(*) AS n_docs FROM documents
         |), ranked AS (
         |  SELECT tf.doc_id, tf.token, tf.tf, dfreq.doc_freq,
         |    ROUND(tf.tf * ln(CAST(nd.n_docs AS DOUBLE) / dfreq.doc_freq), 6) AS tfidf,
         |    CAST(row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY tf.tf DESC, dfreq.doc_freq ASC, tf.token ASC) AS INT) AS rank
         |  FROM tf JOIN dfreq USING (token) CROSS JOIN nd
         |)
         |SELECT doc_id, rank, token, tf, doc_freq, tfidf
         |FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    "d65_lm_quality" ->
      """WITH occ AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(length(text)-2,0)+1),
        |    i -> text[i:i+2])) AS tri
        |  FROM documents
        |), model AS (
        |  SELECT tri, COUNT(*) AS c FROM occ GROUP BY tri
        |), tot AS (
        |  SELECT COUNT(*) AS t FROM occ
        |), sc AS (
        |  SELECT o.doc_id, COUNT(*) AS n_trigrams,
        |    ROUND(AVG(ln(CAST(m.c AS DOUBLE) / tot.t)), 6) AS avg_logp
        |  FROM occ o JOIN model m USING (tri) CROSS JOIN tot
        |  GROUP BY o.doc_id
        |)
        |SELECT d.doc_id, CAST(COALESCE(sc.n_trigrams, 0) AS BIGINT) AS n_trigrams,
        |  sc.avg_logp
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "d62_dup_span_stats" -> (spanCtes(8) + D62Tail),

    "d63_dup_span_removal" -> (spanCtes(8) + D63Tail),

    // same islands/cut chain as d63, but hits = membership in the planted
    // test suite's gram set instead of keep-first duplication
    "d81_decontaminate_spans" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $ToksSql AS t FROM documents
         |), occ AS (
         |  SELECT doc_id, u.p AS p, u.h AS h FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t)-8+1,0)+1),
         |      i -> {'p': i, 'h': md5(array_to_string(t[i:i+7], ' '))})) AS u
         |    FROM toks) z
         |), tt AS (
         |  SELECT t[1:greatest(len(t)-1, 1)] AS tm FROM toks WHERE doc_id % 5 = 0
         |), tg AS (
         |  SELECT DISTINCT md5(array_to_string(tm[i:i+7], ' ')) AS h FROM (
         |    SELECT tm, unnest(range(1, greatest(len(tm)-8+1,0)+1)) AS i FROM tt) z
         |), hits AS (
         |  SELECT o.doc_id, o.p AS s, o.p + 7 AS e FROM occ o JOIN tg USING (h)
         |), isl AS (
         |  SELECT doc_id, s, e, CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1 THEN 1 ELSE 0 END AS ni
         |  FROM hits
         |), isl2 AS (
         |  SELECT doc_id, s, e, SUM(ni) OVER (PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS island
         |  FROM isl
         |), merged AS (
         |  SELECT doc_id, island, MIN(s) AS ms, MAX(e) AS me FROM isl2 GROUP BY doc_id, island
         |), spanlist AS (
         |  SELECT doc_id, list({'ms': ms, 'me': me}) AS spans FROM merged GROUP BY doc_id
         |), cut AS (
         |  SELECT t.doc_id,
         |    list_filter(t.t, (x, i) ->
         |      len(list_filter(COALESCE(s.spans, []), sp -> sp.ms <= i AND i <= sp.me)) = 0) AS kept
         |  FROM toks t LEFT JOIN spanlist s ON t.doc_id = s.doc_id
         |)
         |SELECT doc_id, COALESCE(array_to_string(kept, ' '), '') AS text,
         |  CAST(len(kept) AS BIGINT) AS n_tokens_kept
         |FROM cut ORDER BY doc_id""".stripMargin,

    "d60_shuffle_shards" ->
      """WITH h AS (
        |  SELECT doc_id, lang, md5('r9:' || CAST(doc_id AS VARCHAR)) AS hex
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, lang, hex,
        |    CAST(((((strpos('0123456789abcdef', substr(hex, 1, 1)) - 1) * 16
        |        + (strpos('0123456789abcdef', substr(hex, 2, 1)) - 1)) * 16
        |        + (strpos('0123456789abcdef', substr(hex, 3, 1)) - 1)) * 16
        |        + (strpos('0123456789abcdef', substr(hex, 4, 1)) - 1)) % 8 AS INT) AS shard
        |  FROM h
        |)
        |SELECT doc_id, lang, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hex, doc_id) AS BIGINT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,

    "d61_mix_resample" ->
      """WITH c AS (
        |  SELECT doc_id, source,
        |    CASE source
        |      WHEN 'src0' THEN 2 + CASE WHEN substr(md5('mix9:' || CAST(doc_id AS VARCHAR)), 9, 8) < '40000000' THEN 1 ELSE 0 END
        |      WHEN 'src1' THEN 0 + CASE WHEN substr(md5('mix9:' || CAST(doc_id AS VARCHAR)), 9, 8) < '80000000' THEN 1 ELSE 0 END
        |      WHEN 'src2' THEN 0
        |      ELSE 1
        |    END AS copies
        |  FROM documents
        |)
        |SELECT doc_id, source, CAST(unnest(range(copies)) AS BIGINT) AS copy
        |FROM c WHERE copies > 0
        |ORDER BY doc_id, copy""".stripMargin,

    "d59_line_dedup" ->
      """WITH prepared AS (
        |  SELECT doc_id, 'HEADER ' || CAST(doc_id % 10 AS VARCHAR) || chr(10) || text AS text
        |  FROM documents
        |), flat AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(len(string_split(text, chr(10)))),
        |      i -> {'idx': i + 1, 'line': string_split(text, chr(10))[i + 1]})) AS l
        |  FROM prepared
        |), f2 AS (
        |  SELECT doc_id, l.idx AS idx, l.line AS line FROM flat
        |), firsts AS (
        |  SELECT line, MIN({'i': doc_id, 'p': idx}) AS first_k
        |  FROM f2 WHERE len(line) > 0 GROUP BY line
        |), kept AS (
        |  SELECT f.doc_id, f.idx, f.line
        |  FROM f2 f JOIN firsts fi ON f.line = fi.line
        |  WHERE len(f.line) > 0 AND {'i': f.doc_id, 'p': f.idx} = fi.first_k
        |  UNION ALL
        |  SELECT doc_id, idx, line FROM f2 WHERE len(line) = 0
        |), totals AS (
        |  SELECT doc_id, COUNT(*) AS lines_total FROM f2 GROUP BY doc_id
        |), rebuilt AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text,
        |         COUNT(*) AS lines_kept
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT t.doc_id, COALESCE(r.text, '') AS text,
        |  COALESCE(r.lines_kept, 0) AS lines_kept,
        |  CAST(t.lines_total - COALESCE(r.lines_kept, 0) AS BIGINT) AS lines_dropped
        |FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // the audit-branch stream sees main's published prefix + the staged commit
    "s46_stream_branch" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 100 ORDER BY doc_id",

    "s43_stream_dedup" ->
      """SELECT content_hash, id, keep, first_id, dup_index FROM (
        | SELECT md5(props) AS content_hash, event_id AS id,
        |  (ROW_NUMBER() OVER w = 1) AS keep,
        |  FIRST_VALUE(event_id) OVER w AS first_id,
        |  CAST(ROW_NUMBER() OVER w - 1 AS BIGINT) AS dup_index
        | FROM events
        | WINDOW w AS (PARTITION BY props ORDER BY ts, event_id)
        |) ORDER BY content_hash, dup_index""".stripMargin,

    "d30_exact_dedup" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "d31_dedup_rows" ->
      """SELECT lang, COUNT(*) AS n_docs FROM documents
        |WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text))
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "d32_token_stats" ->
      s"""SELECT doc_id,
         | CAST(len($ToksSql) AS BIGINT) AS n_tokens,
         | CAST(CASE WHEN len($ToksSql) = 0 THEN 0
         |   ELSE list_sum(list_transform($ToksSql,
         |     t -> greatest(1, CAST(ceil(length(t) / 4) AS INT)))) END AS BIGINT) AS n_subwords,
         | CAST(length(text) AS BIGINT) AS n_chars,
         | CAST(length(text) - length(regexp_replace(text, '[!?.,;:]', '', 'g')) AS BIGINT) AS n_punct,
         | CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits
         |FROM documents ORDER BY doc_id""".stripMargin,

    "d33_lang_quality" ->
      s"""WITH h AS (SELECT
         |  len(list_filter($ToksSql, t -> lower(t) IN (${inList(TextOps.EnStop)}))) AS en,
         |  len(list_filter($ToksSql, t -> lower(t) IN (${inList(TextOps.FrStop)}))) AS fr,
         |  len(list_filter($ToksSql, t -> lower(t) IN (${inList(TextOps.DeStop)}))) AS de,
         |  len(list_filter($ToksSql, t -> lower(t) IN (${inList(TextOps.EsStop)}))) AS es,
         |  len($ToksSql) AS ntok,
         |  length(text) AS nchar,
         |  length(text) - length(regexp_replace(text, '[!?.,;:]', '', 'g')) AS npunct,
         |  length(regexp_replace(text, '\\s', '', 'g')) AS nletter
         | FROM documents)
         |SELECT lang_pred, quality, COUNT(*) AS n_docs FROM (
         | SELECT CASE WHEN en >= fr AND en >= de AND en >= es AND en > 0 THEN 'en'
         |             WHEN fr >= de AND fr >= es AND fr > 0 THEN 'fr'
         |             WHEN de >= es AND de > 0 THEN 'de'
         |             WHEN es > 0 THEN 'es' ELSE 'und' END AS lang_pred,
         |  CAST(CASE WHEN ntok BETWEEN 10 AND 10000 THEN 1 ELSE 0 END
         |     + CASE WHEN npunct * 1000 <= nchar * 80 THEN 1 ELSE 0 END
         |     + CASE WHEN en * 1000 >= ntok * 10 THEN 1 ELSE 0 END
         |     + CASE WHEN nletter >= ntok * 3 AND nletter <= ntok * 12 THEN 1 ELSE 0 END
         |    AS BIGINT) AS quality
         | FROM h)
         |GROUP BY lang_pred, quality ORDER BY lang_pred, quality""".stripMargin,

    // d33's prediction CASE keyed against the declared label
    "d98_lang_confusion" ->
      s"""WITH h AS (SELECT lang,
         |  len(list_filter($ToksSql, t -> lower(t) IN (${inList(TextOps.EnStop)}))) AS en,
         |  len(list_filter($ToksSql, t -> lower(t) IN (${inList(TextOps.FrStop)}))) AS fr,
         |  len(list_filter($ToksSql, t -> lower(t) IN (${inList(TextOps.DeStop)}))) AS de,
         |  len(list_filter($ToksSql, t -> lower(t) IN (${inList(TextOps.EsStop)}))) AS es
         | FROM documents)
         |SELECT lang, lang_pred, COUNT(*) AS n_docs FROM (
         | SELECT lang,
         |  CASE WHEN en >= fr AND en >= de AND en >= es AND en > 0 THEN 'en'
         |       WHEN fr >= de AND fr >= es AND fr > 0 THEN 'fr'
         |       WHEN de >= es AND de > 0 THEN 'de'
         |       WHEN es > 0 THEN 'es' ELSE 'und' END AS lang_pred
         | FROM h)
         |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin,

    "d43_deterministic_sample" ->
      """SELECT lang, COUNT(*) AS n_docs,
        | CAST(SUM(CAST(length(text) AS DECIMAL(18,2))) AS DOUBLE) AS sum_chars
        |FROM documents WHERE substring(md5(text), 1, 1) IN ('0', '1', '2')
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "d44_quality_topk" ->
      s"""WITH h AS (SELECT doc_id,
         |  len(list_filter($ToksSql, t -> lower(t) IN (${inList(TextOps.EnStop)}))) AS en,
         |  len(list_filter($ToksSql, t -> lower(t) IN (${inList(TextOps.FrStop)}))) AS fr,
         |  len(list_filter($ToksSql, t -> lower(t) IN (${inList(TextOps.DeStop)}))) AS de,
         |  len(list_filter($ToksSql, t -> lower(t) IN (${inList(TextOps.EsStop)}))) AS es,
         |  len($ToksSql) AS ntok,
         |  length(text) AS nchar,
         |  length(text) - length(regexp_replace(text, '[!?.,;:]', '', 'g')) AS npunct,
         |  length(regexp_replace(text, '\\s', '', 'g')) AS nletter
         | FROM documents),
         |q AS (
         | SELECT doc_id,
         |  CASE WHEN en >= fr AND en >= de AND en >= es AND en > 0 THEN 'en'
         |       WHEN fr >= de AND fr >= es AND fr > 0 THEN 'fr'
         |       WHEN de >= es AND de > 0 THEN 'de'
         |       WHEN es > 0 THEN 'es' ELSE 'und' END AS lang_pred,
         |  CAST(CASE WHEN ntok BETWEEN 10 AND 10000 THEN 1 ELSE 0 END
         |     + CASE WHEN npunct * 1000 <= nchar * 80 THEN 1 ELSE 0 END
         |     + CASE WHEN en * 1000 >= ntok * 10 THEN 1 ELSE 0 END
         |     + CASE WHEN nletter >= ntok * 3 AND nletter <= ntok * 12 THEN 1 ELSE 0 END
         |    AS BIGINT) AS quality
         | FROM h)
         |SELECT lang_pred, rk, doc_id, quality FROM (
         | SELECT lang_pred, doc_id, quality,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY lang_pred
         |   ORDER BY quality DESC, doc_id) AS BIGINT) AS rk
         | FROM q) WHERE rk <= 10 ORDER BY lang_pred, rk""".stripMargin,

    "d36_ngram_jaccard" ->
      s"""WITH sh AS (
         | SELECT doc_id, list_distinct(list_transform(
         |   range(0, greatest(len(toks) - 3, 0) + 1),
         |   i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
         | FROM (SELECT doc_id, $ToksSql AS toks FROM documents)
         |)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         | CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 1.0
         |      ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END AS jaccard
         |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
         |WHERE a.doc_id % 5 = 0 ORDER BY id_a, id_b""".stripMargin,

    "e37_knn_bruteforce" -> KnnOracleSql,
    // full-radius multi-probe LSH == brute force (see the query's doc)
    "e38_knn_lsh" -> KnnOracleSql,
    // full-probe IVF == brute force (see the query's doc)
    "e40_knn_ivf" -> KnnOracleSql,

    // the persisted-index probe is exact at full probe, so the same
    // brute-force oracle grades the index round trip
    "e47_knn_ivf_index" -> KnnOracleSql,

    // same brute-force shape as KnnOracleSql with the allow-list
    // predicate applied to the corpus side — full probe + semi-join is
    // provably exact over the filtered corpus
    "e58_filtered_knn" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
        | s AS (SELECT q.query_id, e.vec_id, list_cosine_similarity(e.embedding, q.qe) AS c
        |        FROM embeddings e CROSS JOIN q WHERE e.label % 3 = 0)
        |SELECT query_id, vec_id,
        | CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "e53_knn_ivf_index_incremental" -> KnnOracleSql,

    // same planted-defect routing: modulo priority mirrors Spark's
    // when-chain (97 before 101 before 103 before 107); the counters are
    // micro-batch-associative, so the streamed form (s62) grades against
    // the identical SQL
    "e61_embedding_health" -> EmbeddingHealthOracleSql,
    "s62_stream_embedding_health" -> EmbeddingHealthOracleSql,

    // recall@5 of the e55 approximate config vs exact: both result sets,
    // the pair-keyed hit join, and the per-query normalization replayed
    // e67: the flags are invariant-valued on a correct implementation
    // (monotone by nested candidates, exact at full probe, floor met),
    // so the oracle replays the row SHAPE from the base table (the
    // query-batch count) and pins every flag at 1 — any engine-side
    // violation flips a flag and hash-fails (the e44 pattern)
    "e67_ivf_recall_curve" ->
      """SELECT CAST(np AS BIGINT) AS nprobe,
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id < 64)
        |    AS n_queries,
        |  CAST(1 AS BIGINT) AS floor_met,
        |  CAST(1 AS BIGINT) AS monotone_ok,
        |  CAST(1 AS BIGINT) AS full_probe_exact
        |FROM (VALUES (1), (2), (4), (8), (16)) AS t(np)
        |ORDER BY nprobe""".stripMargin,

    "e60_ann_recall" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
        | s AS (SELECT q.query_id, e.vec_id,
        |   list_cosine_similarity(e.embedding[1:16], q.qe[1:16]) AS tc,
        |   list_cosine_similarity(e.embedding, q.qe) AS fc
        |  FROM embeddings e CROSS JOIN q),
        | cand AS (SELECT query_id, vec_id, fc,
        |   row_number() OVER (PARTITION BY query_id ORDER BY tc DESC, vec_id) AS cr
        |  FROM s),
        | ap AS (SELECT query_id, vec_id,
        |   row_number() OVER (PARTITION BY query_id ORDER BY fc DESC, vec_id) AS rk
        |  FROM cand WHERE cr <= 32 QUALIFY rk <= 5),
        | ex AS (SELECT query_id, vec_id,
        |   row_number() OVER (PARTITION BY query_id ORDER BY fc DESC, vec_id) AS rk
        |  FROM s QUALIFY rk <= 5),
        | tr AS (SELECT query_id, count(*) AS nt FROM ex GROUP BY 1),
        | hits AS (SELECT a.query_id, count(*) AS nh
        |   FROM ap a JOIN ex x ON x.query_id = a.query_id AND x.vec_id = a.vec_id
        |   GROUP BY 1)
        |SELECT t.query_id, CAST(COALESCE(nh, 0) AS BIGINT) AS n_hits,
        |  COALESCE(nh, 0) / CAST(nt AS DOUBLE) AS recall
        |FROM tr t LEFT JOIN hits h ON h.query_id = t.query_id
        |ORDER BY t.query_id""".stripMargin,

    // negative mining: positives are the top-2 retrieval results per
    // anchor (rank 1 = the anchor itself); negatives the next-nearest 5
    // after excluding self + positives BEFORE the top-k cut
    "e59_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
        | s AS (SELECT q.query_id, e.vec_id, list_cosine_similarity(e.embedding, q.qe) AS c
        |        FROM embeddings e CROSS JOIN q),
        | r AS (SELECT query_id, vec_id, c,
        |         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
        |       FROM s),
        | pos AS (SELECT query_id, vec_id FROM r WHERE rk <= 2)
        |SELECT query_id, vec_id,
        | CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rank
        |FROM r
        |WHERE vec_id <> query_id
        |  AND NOT EXISTS (SELECT 1 FROM pos p
        |                  WHERE p.query_id = r.query_id AND p.vec_id = r.vec_id)
        |QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "e54_range_search" ->
      """SELECT q.vec_id AS query_id, c.vec_id,
        |  ROUND(list_cosine_similarity(c.embedding, q.embedding), 6) AS cosine
        |FROM embeddings c
        |CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) q
        |WHERE list_cosine_similarity(c.embedding, q.embedding) >= 0.9
        |ORDER BY 1, 2""".stripMargin,

    // full replay of the REAL two-stage approximate configuration:
    // prefix-cosine shortlist (tc desc, id) of 32, full-cosine re-rank
    "e55_knn_matryoshka" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
        | s AS (SELECT q.query_id, e.vec_id,
        |   list_cosine_similarity(e.embedding[1:16], q.qe[1:16]) AS tc,
        |   list_cosine_similarity(e.embedding, q.qe) AS fc
        |  FROM embeddings e CROSS JOIN q),
        | cand AS (SELECT query_id, vec_id, fc,
        |   row_number() OVER (PARTITION BY query_id ORDER BY tc DESC, vec_id) AS cr
        |  FROM s)
        |SELECT query_id, vec_id,
        | CAST(row_number() OVER (PARTITION BY query_id ORDER BY fc DESC, vec_id) AS BIGINT) AS rank
        |FROM cand WHERE cr <= 32 QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // per-row threshold semantics are micro-batch-invariant, so the
    // streamed alerts grade against the batch range-search oracle
    "s56_stream_range_alert" ->
      """SELECT q.vec_id AS query_id, c.vec_id,
        |  ROUND(list_cosine_similarity(c.embedding, q.embedding), 6) AS cosine
        |FROM embeddings c
        |CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) q
        |WHERE list_cosine_similarity(c.embedding, q.embedding) >= 0.9
        |ORDER BY 1, 2""".stripMargin,

    // MMR at lambda = 1 == exact top-k (zero-weight similarity penalty)
    "e51_mmr_rerank" -> KnnOracleSql,

    // full binary-quantization replay: sign words -> integer Hamming
    // candidates (id tie-breaks) -> exact-cosine rerank
    "e52_knn_binary" ->
      """WITH enc AS (
        |  SELECT vec_id, embedding,
        |    CASE WHEN len(embedding) > 0 THEN
        |    list_transform(range(0, (len(embedding)+31)//32), j ->
        |      CAST(COALESCE(list_sum(list_transform(
        |        range(j*32, least(j*32+32, len(embedding))),
        |        i -> CASE WHEN embedding[CAST(i AS INT)+1] > 0
        |          THEN CAST(2.0 ** (i - j*32) AS BIGINT) ELSE 0 END)), 0) AS BIGINT))
        |    ELSE NULL END AS w
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id AS query_id, embedding AS qv, w AS qw FROM enc WHERE vec_id < 8
        |), ham AS (
        |  SELECT q.query_id, e.vec_id, e.embedding, q.qv,
        |    CAST(COALESCE(list_sum(list_transform(range(len(e.w)),
        |      i -> bit_count(xor(e.w[CAST(i AS INT)+1], q.qw[CAST(i AS INT)+1])))), 0) AS BIGINT) AS ham
        |  FROM enc e CROSS JOIN q
        |  WHERE e.w IS NOT NULL AND q.qw IS NOT NULL
        |), cand AS (
        |  SELECT query_id, vec_id, embedding, qv,
        |    row_number() OVER (PARTITION BY query_id ORDER BY ham ASC, vec_id ASC) AS hr
        |  FROM ham
        |), rr AS (
        |  SELECT query_id, vec_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY list_cosine_similarity(embedding, qv) DESC, vec_id ASC) AS BIGINT) AS rank
        |  FROM cand WHERE hr <= 32
        |)
        |SELECT query_id, vec_id, rank FROM rr WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "e44_knn_graph" ->
      """WITH s AS (SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
        |   list_cosine_similarity(b.embedding, a.embedding) AS c
        | FROM embeddings a CROSS JOIN embeddings b
        | WHERE a.vec_id <> b.vec_id)
        |SELECT src_id, nbr_id,
        | CAST(row_number() OVER (PARTITION BY src_id ORDER BY c DESC, nbr_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 3 ORDER BY src_id, rank""".stripMargin,

    // THRESHOLD entry through the hash gate: the Spark side computes
    // recall@3 vs exact brute force over a fixed 64-probe batch and
    // emits flags/structure the oracle replays from the base table —
    // recall below the 0.25 floor (or a self-loop, or a missing edge)
    // flips a column and reds the hash. The approx edges themselves
    // depend on kmeans geometry, which SQL cannot replay.
    "e44_knn_graph_approx" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_src,
        |  CAST(3 * count(*) AS BIGINT) AS n_edges,
        |  CAST(0 AS BIGINT) AS n_self_loops,
        |  CAST(count(CASE WHEN vec_id < 64 THEN 1 END) AS BIGINT) AS n_probed,
        |  CAST(1 AS BIGINT) AS recall_floor_met
        |FROM embeddings""".stripMargin,

    // exact integer gram counts; the one division per doc replays after
    // the same coalesce/zero-guard the engine applies
    "d103_ngram_novelty" ->
      s"""WITH corpus AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL
         | SELECT doc_id + 1000000 AS doc_id,
         |        array_to_string(toks[1:greatest(len(toks)-1, 1)], ' ') AS text
         | FROM (SELECT doc_id, $ToksSql AS toks FROM documents)
         | WHERE doc_id % 5 = 0
         |), toks AS (SELECT doc_id, $ToksSql AS t FROM corpus),
         |grams AS (
         | SELECT doc_id, unnest(list_distinct(
         |   CASE WHEN len(t) >= 8 THEN list_transform(range(1, len(t) - 6),
         |     i -> md5(array_to_string(t[i:i+7], ' ')))
         |   ELSE CAST([] AS VARCHAR[]) END)) AS gram
         | FROM toks),
         |dfq AS (SELECT gram, count(*) AS df FROM grams GROUP BY 1),
         |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |          CAST(count(CASE WHEN df >= 2 THEN 1 END) AS BIGINT) AS n_shared
         |        FROM grams JOIN dfq USING (gram) GROUP BY 1)
         |SELECT c.doc_id, coalesce(n_grams, 0) AS n_grams,
         |  coalesce(n_shared, 0) AS n_shared,
         |  CASE WHEN coalesce(n_grams, 0) = 0 THEN NULL
         |       ELSE ROUND(1.0 - CAST(coalesce(n_shared, 0) AS DOUBLE)
         |                        / coalesce(n_grams, 0), 6) END AS novelty
         |FROM corpus c LEFT JOIN per USING (doc_id) ORDER BY c.doc_id""".stripMargin,

    "d34_minhash_pairs" ->
      s"""WITH corpus AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL
         | SELECT doc_id + 1000000 AS doc_id,
         |        array_to_string(toks[1:greatest(len(toks)-1, 1)], ' ') AS text
         | FROM (SELECT doc_id, $ToksSql AS toks FROM documents)
         | WHERE doc_id % 5 = 0
         |), sh AS (
         | SELECT doc_id, list_distinct(list_transform(
         |   range(0, greatest(len(toks) - 3, 0) + 1),
         |   i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
         | FROM (SELECT doc_id, $ToksSql AS toks FROM corpus)
         |)
         |SELECT id_a, id_b, jaccard FROM (
         | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 1.0
         |       ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END AS jaccard
         | FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.7 ORDER BY id_a, id_b""".stripMargin,

    "d90_boilerplate" ->
      """WITH corpus AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN text || '. All rights reserved.'
        |       WHEN doc_id % 3 = 0 THEN text || '. Subscribe to our newsletter.'
        |       ELSE text END AS text FROM documents),
        |base AS (SELECT doc_id, list_filter(list_transform(
        |    regexp_extract_all(text, '[^.!?]+[.!?]*'), s -> trim(s)),
        |    s -> length(s) > 0) AS l FROM corpus),
        |sents AS (SELECT doc_id, unnest(l) AS s,
        |  CAST(unnest(range(1, len(l) + 1)) AS BIGINT) AS pos FROM base),
        |freq AS (SELECT s, count(DISTINCT doc_id) AS nd FROM sents GROUP BY s),
        |kept AS (SELECT doc_id, pos, sents.s FROM sents
        |         JOIN freq USING (s) WHERE nd <= 50),
        |rebuilt AS (SELECT doc_id, string_agg(s, ' ' ORDER BY pos) AS text_clean,
        |            count(*) AS n_kept FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, coalesce(r.text_clean, '') AS text_clean,
        | CAST(len(b.l) - coalesce(r.n_kept, 0) AS BIGINT) AS n_dropped
        |FROM base b LEFT JOIN rebuilt r USING (doc_id) ORDER BY doc_id""".stripMargin,

    // exact-integer count ratios, fixed per-term operation order, final
    // KL sum rounded to 6 (the d65/d77 precedent)
    "d107_source_drift" ->
      s"""WITH sc AS (
        |  SELECT source AS s, w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(t) AS w
        |        FROM (SELECT source, $ToksSql AS t FROM documents))
        |  GROUP BY 1, 2),
        |stot AS (SELECT s, CAST(sum(c) AS BIGINT) AS n,
        |           CAST(count(*) AS BIGINT) AS types FROM sc GROUP BY 1),
        |wtot AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM sc GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS grand FROM sc)
        |SELECT sc.s AS source, stot.n AS n_tokens, stot.types AS n_types,
        |  ROUND(SUM((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    ln((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) /
        |        (CAST(cw AS DOUBLE) / CAST(grand AS DOUBLE)))), 6) AS kl
        |FROM sc JOIN stot USING (s) JOIN wtot USING (w) CROSS JOIN tot
        |GROUP BY 1, 2, 3 ORDER BY source""".stripMargin,

    // d105's bucket rule applied to the near-dup corpus, then d47's gram
    // join restricted to the train/test split sides — the whole composed
    // audit replays (mutants hash into different splits than their
    // originals, so the leakage rows are provably nonzero)
    "d106_split_leakage" ->
      s"""WITH corpus AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 1000000 AS doc_id,
        |        array_to_string(t[1:greatest(len(t) - 1, 1)], ' ') AS text
        | FROM (SELECT doc_id, $ToksSql AS t FROM documents)
        | WHERE doc_id % 5 = 0
        |),
        |sp AS (SELECT doc_id, text,
        |  (strpos('0123456789abcdef', substr(md5(text),1,1))-1)*4096 +
        |  (strpos('0123456789abcdef', substr(md5(text),2,1))-1)*256 +
        |  (strpos('0123456789abcdef', substr(md5(text),3,1))-1)*16 +
        |  (strpos('0123456789abcdef', substr(md5(text),4,1))-1) AS bk
        | FROM corpus),
        |toks AS (SELECT doc_id, bk, $ToksSql AS t FROM sp),
        |grams AS (
        | SELECT doc_id, unnest(list_distinct(
        |   CASE WHEN len(t) >= 8 THEN list_transform(range(1, len(t) - 6),
        |     i -> md5(array_to_string(t[i:i+7], ' ')))
        |   ELSE CAST([] AS VARCHAR[]) END)) AS gram
        | FROM toks WHERE bk*10 < 65536*8),
        |testg AS (
        | SELECT DISTINCT unnest(list_distinct(
        |   CASE WHEN len(t) >= 8 THEN list_transform(range(1, len(t) - 6),
        |     i -> md5(array_to_string(t[i:i+7], ' ')))
        |   ELSE CAST([] AS VARCHAR[]) END)) AS gram
        | FROM toks WHERE bk*10 >= 65536*9)
        |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM grams g JOIN testg USING (gram)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    // threshold entries (the e44 pattern): exact columns replay in SQL,
    // the sketch estimates live only in the within-bound flags
    "d110_cardinality_audit" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_distinct,
        |  CAST(1 AS BIGINT) AS hll_within_3rsd
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "d111_quantile_audit" ->
      s"""WITH t AS (SELECT lang, CAST(len($ToksSql) AS BIGINT) AS ntok
         |           FROM documents),
         |h AS (SELECT lang, ntok, count(*) AS cnt FROM t GROUP BY 1, 2),
         |c AS (SELECT lang, ntok,
         |        sum(cnt) OVER (PARTITION BY lang ORDER BY ntok) AS cum,
         |        sum(cnt) OVER (PARTITION BY lang) AS total
         |      FROM h)
         |SELECT lang, CAST(max(total) AS BIGINT) AS n_docs,
         |  CAST(min(CASE WHEN cum*100 >= total*50 THEN ntok END) AS BIGINT) AS p50,
         |  CAST(min(CASE WHEN cum*100 >= total*90 THEN ntok END) AS BIGINT) AS p90,
         |  CAST(1 AS BIGINT) AS gk_p50_ok, CAST(1 AS BIGINT) AS gk_p90_ok
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    // ES keys replay float-for-float: u is bit-identical integer-nibble
    // arithmetic, ln/divide on identical doubles, id tie-break (the e37
    // computed-double-ordering precedent)
    "d109_weighted_sample" -> WeightedSampleOracleSql,
    "d112_dsir_select" -> DsirOracleSql,
    "d113_bpe_merges" -> BpeOracleSql,
    "d118_bpe_batched" -> BpeBatchedOracleSql,
    "d115_dsir_incremental" -> DsirIncrementalOracleSql,
    "s72_stream_dsir_model" -> DsirIncrementalOracleSql,
    "d114_tokenizer_fertility" -> BpeFertilityOracleSql,
    "s71_stream_tokenizer_fertility" -> BpeFertilityOracleSql,
    "s70_stream_dsir_select" -> DsirOracleSql,
    "e65_margin_mining" -> MarginMiningOracleSql,
    "e66_margin_mining_ivf" -> MarginMiningOracleSql,

    // the ES reservoir is a combinable aggregate, so the complete-mode
    // drain equals the batch draw — d109's oracle verbatim
    "s69_stream_weighted_sample" -> WeightedSampleOracleSql,

    // d45's exact-Jaccard components + d105's bucket arithmetic: the
    // whole repair replays — assignment, clusters, representative, move
    "d108_split_repair" ->
      s"""WITH RECURSIVE corpus AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL
         | SELECT doc_id + 1000000 AS doc_id,
         |        array_to_string(toks[1:greatest(len(toks)-1, 1)], ' ') AS text
         | FROM (SELECT doc_id, $ToksSql AS toks FROM documents)
         | WHERE doc_id % 5 = 0
         |), sp AS (
         | SELECT doc_id, text,
         |  CASE WHEN bk*10 < 65536*8 THEN 'train'
         |       WHEN bk*10 < 65536*9 THEN 'val'
         |       ELSE 'test' END AS split_before
         | FROM (SELECT doc_id, text,
         |  (strpos('0123456789abcdef', substr(md5(text),1,1))-1)*4096 +
         |  (strpos('0123456789abcdef', substr(md5(text),2,1))-1)*256 +
         |  (strpos('0123456789abcdef', substr(md5(text),3,1))-1)*16 +
         |  (strpos('0123456789abcdef', substr(md5(text),4,1))-1) AS bk
         |  FROM corpus)
         |), sh AS (
         | SELECT doc_id, list_distinct(list_transform(
         |   range(0, greatest(len(toks) - 3, 0) + 1),
         |   i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
         | FROM (SELECT doc_id, $ToksSql AS toks FROM corpus)
         |), pairs AS MATERIALIZED (
         | SELECT id_a, id_b FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |   CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 1.0
         |        ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END AS jaccard
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         | WHERE jaccard >= 0.7
         |), edges AS MATERIALIZED (
         | SELECT id_a AS src, id_b AS dst FROM pairs
         | UNION SELECT id_b, id_a FROM pairs
         |), reach(id, comp) AS (
         | SELECT src, src FROM edges
         | UNION
         | SELECT e.dst, r.comp FROM edges e JOIN reach r ON e.src = r.id
         |), cmp AS (
         | SELECT id, MIN(comp) AS component FROM reach GROUP BY id
         |), rep AS (
         | SELECT c.component, s.split_before AS rep_split
         | FROM cmp c JOIN sp s ON s.doc_id = c.component WHERE c.id = c.component
         |)
         |SELECT p.doc_id, p.split_before,
         |  COALESCE(r.rep_split, p.split_before) AS split,
         |  CAST(CASE WHEN COALESCE(r.rep_split, p.split_before) <> p.split_before
         |       THEN 1 ELSE 0 END AS BIGINT) AS moved
         |FROM sp p
         |LEFT JOIN cmp c ON c.id = p.doc_id
         |LEFT JOIN rep r ON r.component = c.component
         |ORDER BY p.doc_id""".stripMargin,

    // bucket = first four md5 nibbles (integer arithmetic over 65536
    // buckets), thresholds 8/10 and 9/10 — the assignment replays per row
    "d105_stratified_split" -> StratifiedSplitOracleSql,

    // splitAssign is map-only and stateless, so the streamed assignment
    // drains to exactly the batch result — d105's oracle verbatim
    "s68_stream_split_assign" -> StratifiedSplitOracleSql,

    // integer sqrt-weights + integer budget split + (md5, id) rank —
    // the entire temperature mix replays, selection included
    "d96_temperature_mix" ->
      """WITH docs AS (SELECT doc_id, lang, text FROM documents
        |              WHERE text IS NOT NULL),
        |n AS (SELECT lang, count(*) AS n FROM docs GROUP BY 1),
        |w AS (SELECT lang, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w FROM n),
        |t AS (SELECT sum(w) AS tw FROM w),
        |b AS (SELECT lang, (1200 * w) // tw AS budget FROM w CROSS JOIN t),
        |r AS (SELECT doc_id, lang,
        |        row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
        |      FROM docs)
        |SELECT r.doc_id, r.lang FROM r JOIN b ON b.lang = r.lang
        |WHERE rk <= budget ORDER BY r.lang, r.doc_id""".stripMargin,

    // the d88 histogram machinery plus Σ v·cnt totals and a distinct-md5
    // duplicate count, over the corpus with planted doc_id % 9 dupes
    "d95_corpus_card" ->
      s"""WITH docs AS (SELECT lang, text FROM
         |    (SELECT lang, text FROM documents
         |     UNION ALL SELECT lang, text FROM documents WHERE doc_id % 9 = 0)
         |  WHERE text IS NOT NULL),
         |h AS (SELECT lang, CAST(len($ToksSql) AS BIGINT) AS v,
         |  count(*) AS cnt FROM docs GROUP BY 1, 2),
         |c AS (SELECT lang, v, cnt,
         |  sum(cnt) OVER (PARTITION BY lang ORDER BY v) AS cum,
         |  sum(cnt) OVER (PARTITION BY lang) AS total FROM h),
         |q AS (SELECT lang, CAST(max(total) AS BIGINT) AS n_docs,
         |  min(CASE WHEN cum*100 >= total*50 THEN v END) AS p50,
         |  min(CASE WHEN cum*100 >= total*95 THEN v END) AS p95,
         |  CAST(sum(v*cnt) AS BIGINT) AS n_tokens
         | FROM c GROUP BY lang),
         |d AS (SELECT lang,
         |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dup_docs
         | FROM docs GROUP BY 1)
         |SELECT q.lang, n_docs, p50, p95, n_tokens, n_dup_docs
         |FROM q JOIN d ON d.lang = q.lang ORDER BY q.lang""".stripMargin,

    "d88_length_quantiles" ->
      s"""WITH h AS (SELECT lang, CAST(len($ToksSql) AS BIGINT) AS v,
         |  count(*) AS cnt FROM documents GROUP BY 1, 2),
         |c AS (SELECT lang, v,
         |  sum(cnt) OVER (PARTITION BY lang ORDER BY v) AS cum,
         |  sum(cnt) OVER (PARTITION BY lang) AS total FROM h)
         |SELECT lang, CAST(max(total) AS BIGINT) AS n_docs,
         | min(CASE WHEN cum*100 >= total*50 THEN v END) AS p50,
         | min(CASE WHEN cum*100 >= total*90 THEN v END) AS p90,
         | min(CASE WHEN cum*100 >= total*99 THEN v END) AS p99
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    // the streamed histogram is count-associative, so it grades against
    // d88's batch quantile oracle verbatim
    "s57_stream_quantiles" ->
      s"""WITH h AS (SELECT lang, CAST(len($ToksSql) AS BIGINT) AS v,
         |  count(*) AS cnt FROM documents GROUP BY 1, 2),
         |c AS (SELECT lang, v,
         |  sum(cnt) OVER (PARTITION BY lang ORDER BY v) AS cum,
         |  sum(cnt) OVER (PARTITION BY lang) AS total FROM h)
         |SELECT lang, CAST(max(total) AS BIGINT) AS n_docs,
         | min(CASE WHEN cum*100 >= total*50 THEN v END) AS p50,
         | min(CASE WHEN cum*100 >= total*90 THEN v END) AS p90,
         | min(CASE WHEN cum*100 >= total*99 THEN v END) AS p99
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    // d34's exact all-pairs oracle, folded to source x source counts via
    // the synthetic-id -> original-source rule (doc_id % 1000000)
    "d89_dup_source_matrix" ->
      s"""WITH corpus AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL
         | SELECT doc_id + 1000000 AS doc_id,
         |        array_to_string(toks[1:greatest(len(toks)-1, 1)], ' ') AS text
         | FROM (SELECT doc_id, $ToksSql AS toks FROM documents)
         | WHERE doc_id % 5 = 0
         |), sh AS (
         | SELECT doc_id, list_distinct(list_transform(
         |   range(0, greatest(len(toks) - 3, 0) + 1),
         |   i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
         | FROM (SELECT doc_id, $ToksSql AS toks FROM corpus)
         |), pairs AS (
         | SELECT id_a, id_b FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |   CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 1.0
         |        ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END AS jaccard
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         | WHERE jaccard >= 0.7)
         |SELECT least(da.source, db.source) AS source_lo,
         |       greatest(da.source, db.source) AS source_hi,
         |       count(*) AS n_pairs
         |FROM pairs p
         |JOIN documents da
         |  ON p.id_a - (CASE WHEN p.id_a % 10000000 >= 1000000 THEN 1000000 ELSE 0 END) = da.doc_id
         |JOIN documents db
         |  ON p.id_b - (CASE WHEN p.id_b % 10000000 >= 1000000 THEN 1000000 ELSE 0 END) = db.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "d46_pack_sequences" ->
      s"""WITH tc AS (SELECT doc_id, source,
         |  CAST(len($ToksSql) AS BIGINT) AS n_tokens FROM documents),
         |acc AS (SELECT doc_id, source, n_tokens,
         |  CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
         |    AS BIGINT) AS start_offset
         |  FROM tc)
         |SELECT doc_id, source, n_tokens, start_offset,
         |  CAST(FLOOR(start_offset / 512.0) AS BIGINT) AS chunk_id
         |FROM acc ORDER BY doc_id""".stripMargin,

    "d47_decontaminate" -> DecontaminateOracleSql,

    // the streaming MG sketch preserves the no-false-negative guarantee
    // under micro-batch folding, so the exact recount equals the batch
    // counting query (d79's oracle)
    "s55_stream_heavy_hitters" ->
      s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
        |occ AS (SELECT unnest(t) AS term FROM toks),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM occ),
        |g AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM occ GROUP BY 1)
        |SELECT term, cnt FROM g CROSS JOIN n WHERE cnt * 64 >= n.n
        |ORDER BY term""".stripMargin,

    // map-only LM scoring is batch-invariant: the stream grades against
    // the batch cross-corpus oracle verbatim (see d77)
    "s54_stream_lm_score" ->
      """WITH occ AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(length(text)-2,0)+1),
        |    i -> text[i:i+2])) AS tri
        |  FROM documents
        |), m AS (
        |  SELECT tri, CAST(count(*) AS BIGINT) AS c FROM occ
        |  WHERE doc_id % 3 = 0 GROUP BY 1
        |), st AS (
        |  SELECT CAST((SELECT sum(c) FROM m) AS BIGINT) AS t,
        |         CAST((SELECT count(*) FROM m) AS BIGINT) AS v
        |), sc AS (
        |  SELECT o.doc_id, COUNT(*) AS n_trigrams,
        |    ROUND(AVG(ln((CAST(COALESCE(m.c, 0) AS DOUBLE) + 1.0) /
        |      CAST(st.t + st.v AS DOUBLE))), 6) AS avg_logp
        |  FROM occ o LEFT JOIN m USING (tri) CROSS JOIN st
        |  GROUP BY o.doc_id
        |)
        |SELECT d.doc_id, CAST(COALESCE(sc.n_trigrams, 0) AS BIGINT) AS n_trigrams,
        |  sc.avg_logp
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // the streaming probe must agree with the batch gram-join verdict
    "s52_stream_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |grams AS (
         | SELECT doc_id, unnest(list_distinct(
         |   CASE WHEN len(t) >= 8 THEN list_transform(range(1, len(t) - 6),
         |     i -> md5(array_to_string(t[i:i+7], ' ')))
         |   ELSE CAST([] AS VARCHAR[]) END)) AS gram
         | FROM toks),
         |testg AS (
         | SELECT DISTINCT unnest(list_distinct(
         |   CASE WHEN len(tm) >= 8 THEN list_transform(range(1, len(tm) - 6),
         |     i -> md5(array_to_string(tm[i:i+7], ' ')))
         |   ELSE CAST([] AS VARCHAR[]) END)) AS gram
         | FROM (SELECT t[1:greatest(len(t) - 1, 1)] AS tm
         |       FROM toks WHERE doc_id % 5 = 0)),
         |cont AS (SELECT DISTINCT g.doc_id FROM grams g JOIN testg USING (gram))
         |SELECT d.doc_id, (c.doc_id IS NOT NULL) AS contaminated
         |FROM documents d LEFT JOIN cont c ON d.doc_id = c.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "d116_contamination_report" -> ContaminationReportOracleSql,
    "s74_stream_contamination_report" -> ContaminationReportOracleSql,

    "d117_packing_efficiency" -> PackingEfficiencyOracleSql,
    "s73_stream_packing_efficiency" -> PackingEfficiencyOracleSql,

    "q28_window_stats" ->
      """SELECT c_custkey, c_mktsegment,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  ROUND(percent_rank() OVER w, 6) AS pct_rank,
        |  ROUND(cume_dist() OVER w, 6) AS cum_dist
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "d66_contamination_score" ->
      s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |gs AS (
         | SELECT doc_id, list_distinct(
         |   CASE WHEN len(t) >= 8 THEN list_transform(range(1, len(t) - 6),
         |     i -> md5(array_to_string(t[i:i+7], ' ')))
         |   ELSE CAST([] AS VARCHAR[]) END) AS g
         | FROM toks),
         |grams AS (SELECT doc_id, unnest(g) AS gram FROM gs),
         |testg AS (
         | SELECT DISTINCT unnest(list_distinct(
         |   CASE WHEN len(tm) >= 8 THEN list_transform(range(1, len(tm) - 6),
         |     i -> md5(array_to_string(tm[i:i+7], ' ')))
         |   ELSE CAST([] AS VARCHAR[]) END)) AS gram
         | FROM (SELECT t[1:greatest(len(t) - 1, 1)] AS tm
         |       FROM toks WHERE doc_id % 5 = 0)),
         |hits AS (
         | SELECT g.doc_id, COUNT(*) AS n_shared
         | FROM grams g JOIN testg USING (gram) GROUP BY g.doc_id)
         |SELECT gs.doc_id, CAST(len(gs.g) AS BIGINT) AS n_grams,
         | CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
         | CASE WHEN len(gs.g) = 0 THEN CAST(0 AS DOUBLE)
         |   ELSE CAST(COALESCE(h.n_shared, 0) AS DOUBLE) / len(gs.g) END AS frac
         |FROM gs LEFT JOIN hits h USING (doc_id) ORDER BY gs.doc_id""".stripMargin,

    "d58_budget_select" ->
      s"""WITH tc AS (SELECT doc_id, lang, n_chars,
         |  CAST(len($ToksSql) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |  SUM(n_tokens) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM tc)
         |SELECT doc_id, lang, n_tokens FROM c
         |WHERE cum - n_tokens < 2000 ORDER BY doc_id""".stripMargin,

    // \p{Script} classes agree between Java regex and RE2, so the
    // planted multilingual text counts replay as exact integers
    "d94_script_profile" ->
      """WITH m AS (SELECT doc_id,
        |    text || ' ' || repeat(chr(20013), CAST(doc_id % 4 AS INT)) ||
        |    repeat(chr(1103), CAST(doc_id % 3 AS INT)) AS text FROM documents)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(regexp_replace(text, '[^\p{Latin}]', '', 'g')) AS BIGINT) AS n_latin,
        |  CAST(length(regexp_replace(text, '[^\p{Han}]', '', 'g')) AS BIGINT) AS n_han,
        |  CAST(length(regexp_replace(text, '[^\p{Cyrillic}]', '', 'g')) AS BIGINT) AS n_cyrillic
        |FROM m ORDER BY doc_id""".stripMargin,

    // blocked candidates + plain levenshtein replay; the engine's
    // threshold kernel only changes HOW the distance is computed, never
    // which pairs survive or their distances
    "d93_fuzzy_match" ->
      """WITH cat AS (SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS blk
        |            FROM part WHERE p_partkey % 20 = 3),
        |d AS (SELECT p_partkey + 5000000 AS dirty_id, p_name || ' x' AS name,
        |             split_part(p_name || ' x', ' ', 1) AS blk
        |      FROM part WHERE p_partkey % 20 = 3),
        |cand AS (SELECT d.dirty_id, cat.p_partkey AS match_id,
        |                levenshtein(d.name, cat.p_name) AS lev
        |         FROM d JOIN cat USING (blk)
        |         WHERE levenshtein(d.name, cat.p_name) <= 2),
        |best AS (SELECT dirty_id, match_id, lev FROM (
        |           SELECT dirty_id, match_id, lev, row_number() OVER
        |             (PARTITION BY dirty_id ORDER BY lev, match_id) AS rn
        |           FROM cand) WHERE rn = 1)
        |SELECT d.dirty_id, best.match_id, CAST(best.lev AS BIGINT) AS lev
        |FROM d LEFT JOIN best USING (dirty_id)
        |ORDER BY d.dirty_id""".stripMargin,

    // the composed chain replayed stage for stage: gate on the same
    // top-gram dominance the engine computes natively, keep-first dedup
    // as a row_number over the content key, then the d58 budget window
    "d92_curation_pipeline" ->
      s"""WITH u AS (SELECT doc_id, lang, text, n_chars FROM documents
         |     UNION ALL
         |     SELECT doc_id + 1000000, lang, text, n_chars
         |     FROM documents WHERE doc_id % 7 = 0),
         |gx AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2 THEN
         |         list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
         |         ELSE CAST([] AS VARCHAR[]) END) AS gram
         |       FROM (SELECT doc_id, $ToksSql AS t FROM u)),
         |pg AS (SELECT doc_id, gram, count(*) AS cnt FROM gx GROUP BY 1, 2),
         |gs AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
         |         CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS f
         |       FROM pg GROUP BY 1),
         |gated AS (SELECT u.* FROM u JOIN gs USING (doc_id)
         |          WHERE gs.n_grams >= 20 AND gs.f <= 0.06),
         |ded AS (SELECT * FROM (SELECT g.*, row_number() OVER
         |          (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM gated g)
         |        WHERE rn = 1),
         |tc AS (SELECT doc_id, lang, n_chars,
         |         CAST(len($ToksSql) AS BIGINT) AS n_tokens FROM ded),
         |c AS (SELECT doc_id, lang, n_tokens,
         |  SUM(n_tokens) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM tc)
         |SELECT doc_id, lang, n_tokens FROM c
         |WHERE cum - n_tokens < 1500 ORDER BY doc_id""".stripMargin,

    // the two-step incremental run: step 1 accepts the whole corpus
    // (state was empty); step 2 accepts a mutant iff NO accepted doc
    // (= any original) reaches Jaccard 0.7 — brute-forced here. s47 is
    // the same semantics driven through streaming commit consumption.
    "d57_incremental_neardup" -> incrementalNearDupOracle(),
    "s47_stream_ingest_dedup" -> incrementalNearDupOracle(),

    // ground truth for the banded-MinHash candidate stage: brute-force
    // 3-shingle Jaccard corpus x test (the LSH must lose no pair >= 0.7
    // for the cleaned corpus to hash-match — same recall property d34
    // certifies for the self-join form)
    "d56_fuzzy_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |   range(0, greatest(len(t) - 3, 0) + 1),
         |   i -> array_to_string(t[i+1:i+3], ' '))) AS sh
         | FROM toks),
         |tsh AS (SELECT list_distinct(list_transform(
         |   range(0, greatest(len(tm) - 3, 0) + 1),
         |   i -> array_to_string(tm[i+1:i+3], ' '))) AS sh
         | FROM (SELECT t[1:greatest(len(t) - 1, 1)] AS tm
         |       FROM toks WHERE doc_id % 5 = 0)),
         |bad AS (SELECT DISTINCT a.doc_id FROM sh a, tsh b
         | WHERE (CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 1.0
         |        ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END) >= 0.7)
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM bad) ORDER BY d.doc_id""".stripMargin,

    // d53 computes the SAME result as d47 (the Bloom stage has no false
    // negatives and the exact join removes false positives) — same oracle
    "d53_bloom_decontaminate" -> DecontaminateOracleSql,

    "d54_cluster_best" ->
      s"""WITH RECURSIVE corpus AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL
         | SELECT doc_id + 1000000 AS doc_id,
         |        array_to_string(toks[1:greatest(len(toks)-1, 1)], ' ') AS text
         | FROM (SELECT doc_id, $ToksSql AS toks FROM documents)
         | WHERE doc_id % 5 = 0
         |), sh AS (
         | SELECT doc_id, list_distinct(list_transform(
         |   range(0, greatest(len(toks) - 3, 0) + 1),
         |   i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
         | FROM (SELECT doc_id, $ToksSql AS toks FROM corpus)
         |), pairs AS MATERIALIZED (
         | SELECT id_a, id_b FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |   CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 1.0
         |        ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END AS jaccard
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         | WHERE jaccard >= 0.7
         |), edges AS MATERIALIZED (
         | SELECT id_a AS src, id_b AS dst FROM pairs
         | UNION SELECT id_b, id_a FROM pairs
         |), reach(id, comp) AS (
         | SELECT src, src FROM edges
         | UNION
         | SELECT e.dst, r.comp FROM edges e JOIN reach r ON e.src = r.id
         |), comps AS (
         | SELECT id, MIN(comp) AS component FROM reach GROUP BY id
         |), h AS (SELECT doc_id,
         |  len(list_filter($ToksSql, t -> lower(t) IN (${inList(TextOps.EnStop)}))) AS en,
         |  len($ToksSql) AS ntok,
         |  length(text) AS nchar,
         |  length(text) - length(regexp_replace(text, '[!?.,;:]', '', 'g')) AS npunct,
         |  length(regexp_replace(text, '\\s', '', 'g')) AS nletter
         | FROM corpus),
         |q AS (
         | SELECT doc_id,
         |  CAST(CASE WHEN ntok BETWEEN 10 AND 10000 THEN 1 ELSE 0 END
         |     + CASE WHEN npunct * 1000 <= nchar * 80 THEN 1 ELSE 0 END
         |     + CASE WHEN en * 1000 >= ntok * 10 THEN 1 ELSE 0 END
         |     + CASE WHEN nletter >= ntok * 3 AND nletter <= ntok * 12 THEN 1 ELSE 0 END
         |    AS BIGINT) AS quality
         | FROM h)
         |SELECT component, rep_id, rep_quality, n_members FROM (
         | SELECT c.component, c.id AS rep_id, q.quality AS rep_quality,
         |  CAST(COUNT(*) OVER (PARTITION BY c.component) AS BIGINT) AS n_members,
         |  ROW_NUMBER() OVER (PARTITION BY c.component
         |   ORDER BY q.quality DESC, c.id) AS rk
         | FROM comps c JOIN q ON q.doc_id = c.id)
         |WHERE rk = 1 ORDER BY component""".stripMargin,

    "d55_quality_filter" ->
      s"""WITH h AS (SELECT doc_id,
         |  len(list_filter($ToksSql, t -> lower(t) IN (${inList(TextOps.EnStop)}))) AS en,
         |  len($ToksSql) AS ntok,
         |  length(text) AS nchar,
         |  length(text) - length(regexp_replace(text, '[!?.,;:]', '', 'g')) AS npunct,
         |  length(regexp_replace(text, '\\s', '', 'g')) AS nletter
         | FROM documents)
         |SELECT doc_id, reasons, (reasons = '') AS keep FROM (
         | -- COALESCE: DuckDB's array_to_string([]) is NULL, Spark's
         | -- array_join([]) is '' — normalize to the Spark form
         | SELECT doc_id, COALESCE(array_to_string(list_filter([
         |   CASE WHEN ntok < 10 OR ntok > 10000 THEN 'length' ELSE NULL END,
         |   CASE WHEN npunct * 1000 > nchar * 80 THEN 'punctuation' ELSE NULL END,
         |   CASE WHEN en * 1000 < ntok * 10 THEN 'stopwords' ELSE NULL END,
         |   CASE WHEN nletter < ntok * 3 OR nletter > ntok * 12 THEN 'word_shape' ELSE NULL END
         |  ], x -> x IS NOT NULL), ','), '') AS reasons
         | FROM h) ORDER BY doc_id""".stripMargin,

    "d48_redact_pii" ->
      s"""WITH pii AS (SELECT doc_id,
         |  concat(text, ' contact user', CAST(doc_id AS VARCHAR),
         |    '@example.com call +1-555-',
         |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS text
         | FROM documents)
         |SELECT doc_id,
         | md5(regexp_replace(regexp_replace(text,
         |   '${TextOps.EmailRe}', '<EMAIL>', 'g'),
         |   '${TextOps.PhoneRe}', '<PHONE>', 'g')) AS red_hash,
         | CAST(len(regexp_extract_all(text, '${TextOps.EmailRe}')) AS BIGINT) AS n_emails,
         | CAST(len(regexp_extract_all(text, '${TextOps.PhoneRe}')) AS BIGINT) AS n_phones
         |FROM pii ORDER BY doc_id""".stripMargin,

    "d73_canonical_urls" ->
      """WITH d AS (SELECT doc_id,
        |  (['HTTP://Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag',
        |    'https://News.site.org:443/path/',
        |    'https://news.site.org/path',
        |    'http://example.com/a/b?a=1&b=2&utm_campaign=z&gclid=123',
        |    'https://shop.io//',
        |    'ftp://files.host:21/x',
        |    'https://example.com/?fbclid=abc&x=1',
        |    'not a url at all'])[(doc_id % 8 + 1)::INT] AS url
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id, url, regexp_replace(url, '#.*', '') AS nf FROM d
        |), p AS (
        |  SELECT doc_id, url,
        |    coalesce(lower(regexp_extract(nf,
        |      '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)), '') AS scheme,
        |    coalesce(lower(regexp_extract(nf,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)), '') AS auth0,
        |    regexp_replace(coalesce(regexp_extract(nf,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), ''), '/+$', '') AS path0,
        |    coalesce(regexp_extract(nf, '\?([^#]*)', 1), '') AS query
        |  FROM s1
        |), c AS (
        |  SELECT doc_id, url, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
        |         ELSE auth0 END AS auth,
        |    CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
        |    coalesce(array_to_string(list_sort(list_filter(
        |      string_split(query, '&'),
        |      x -> x <> '' AND NOT regexp_matches(x,
        |        '^(utm_[^=]*|gclid|fbclid)(=.*)?$'))), '&'), '') AS q
        |  FROM p
        |)
        |SELECT doc_id, url,
        |  CASE WHEN scheme = '' THEN url
        |       ELSE scheme || '://' || auth || path ||
        |            CASE WHEN q = '' THEN '' ELSE '?' || q END END AS canonical_url
        |FROM c ORDER BY doc_id""".stripMargin,

    "j01_asof_join" -> AsofOracleSql,

    "j04_asof_nearest" ->
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events),
        |r AS (SELECT user_id, ts, max(value) AS quote FROM events
        |      WHERE event_id % 7 = 0 GROUP BY 1, 2),
        |b AS (SELECT l.event_id, l.ts, r.ts AS bts, r.quote AS bq
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts),
        |f AS (SELECT l.event_id, r.ts AS fts, r.quote AS fq
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts)
        |SELECT b.event_id,
        |  CASE WHEN fq IS NULL THEN bq WHEN bq IS NULL THEN fq
        |       WHEN (epoch_us(b.ts) - epoch_us(b.bts))
        |            <= (epoch_us(f.fts) - epoch_us(b.ts))
        |       THEN bq ELSE fq END AS quote,
        |  CAST(epoch_us(b.ts) - (CASE WHEN fq IS NULL THEN epoch_us(b.bts)
        |       WHEN bq IS NULL THEN epoch_us(f.fts)
        |       WHEN (epoch_us(b.ts) - epoch_us(b.bts))
        |            <= (epoch_us(f.fts) - epoch_us(b.ts))
        |       THEN epoch_us(b.bts) ELSE epoch_us(f.fts) END) AS BIGINT) AS lag_us
        |FROM b JOIN f USING (event_id) ORDER BY event_id""".stripMargin,

    // the streaming drain is batch-invariant against a static right side,
    // so it grades against the identical as-of oracle
    "s53_stream_asof_enrich" -> AsofOracleSql,

    "d75_corpus_diff" ->
      """WITH old AS (SELECT doc_id, text FROM documents),
        |base AS (SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 17 != 0),
        |added AS (SELECT doc_id + 2000000 AS doc_id, text
        |  FROM documents WHERE doc_id % 11 = 0),
        |neww AS (SELECT * FROM base UNION ALL SELECT * FROM added),
        |j AS (SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN o.text <> n.text THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM old o FULL OUTER JOIN neww n ON o.doc_id = n.doc_id)
        |SELECT doc_id, status FROM j WHERE status <> 'unchanged'
        |ORDER BY doc_id""".stripMargin,

    // dyadic k1 = 1.25 / b = 0.75: every constant is an exact double, so
    // both engines evaluate identical operands; scores round to 6 BEFORE
    // ranking, ties break on doc_id
    "d76_bm25_topk" -> Bm25OracleSql,

    // the persisted-index path (term-bucketed graft tables + pushed
    // vocabulary filter) must return EXACTLY what the recompute form
    // does — same oracle
    "d82_bm25_index" -> Bm25OracleSql,
    "d82_bm25_search_only" -> Bm25OracleSql,
    "d104_bm25_incremental" -> Bm25OracleSql,
    "s67_stream_bm25_index" -> Bm25OracleSql,

    // model trains on the doc_id % 3 = 0 third; Laplace floor for unseen
    "d77_lm_cross_score" ->
      """WITH occ AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(length(text)-2,0)+1),
        |    i -> text[i:i+2])) AS tri
        |  FROM documents
        |), m AS (
        |  SELECT tri, CAST(count(*) AS BIGINT) AS c FROM occ
        |  WHERE doc_id % 3 = 0 GROUP BY 1
        |), st AS (
        |  SELECT CAST((SELECT sum(c) FROM m) AS BIGINT) AS t,
        |         CAST((SELECT count(*) FROM m) AS BIGINT) AS v
        |), sc AS (
        |  SELECT o.doc_id, COUNT(*) AS n_trigrams,
        |    ROUND(AVG(ln((CAST(COALESCE(m.c, 0) AS DOUBLE) + 1.0) /
        |      CAST(st.t + st.v AS DOUBLE))), 6) AS avg_logp
        |  FROM occ o LEFT JOIN m USING (tri) CROSS JOIN st
        |  GROUP BY o.doc_id
        |)
        |SELECT d.doc_id, CAST(COALESCE(sc.n_trigrams, 0) AS BIGINT) AS n_trigrams,
        |  sc.avg_logp
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // the sketch is exactness-preserving at the threshold, so the oracle
    // is the plain counting query
    "d79_heavy_hitters" ->
      s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
        |occ AS (SELECT unnest(t) AS term FROM toks),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM occ),
        |g AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM occ GROUP BY 1)
        |SELECT term, cnt FROM g CROSS JOIN n WHERE cnt * 64 >= n.n
        |ORDER BY term""".stripMargin,

    // BPE inference is not SQL-expressible, but the SQL-expressible part
    // of the output IS hash-graded: the whitespace token count, plus the
    // encoder invariants the Spark side computes through the REAL encoder
    // and the oracle pins to TRUE (roundtrip + count bounds) — an encoder
    // defect flips a TRUE and fails the hash; null text stays NULL on
    // both sides
    "d80_bpe_tokens" ->
      s"""SELECT doc_id,
        |  CAST(len($ToksSql) AS BIGINT) AS n_ws_tokens,
        |  CASE WHEN text IS NULL THEN NULL ELSE TRUE END AS bpe_roundtrip_ok,
        |  CASE WHEN text IS NULL THEN NULL ELSE TRUE END AS n_bpe_in_bounds
        |FROM documents ORDER BY doc_id""".stripMargin,

    // winner per md5(text): max priority, ties min id — replayed as a
    // struct-free argmin over (-priority, doc_id)
    "d87_dedup_keep_best" ->
      """WITH corpus AS (
        |  SELECT doc_id, text, doc_id % 7 AS priority FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text,
        |    (doc_id + 1000000) % 7 AS priority
        |  FROM documents WHERE doc_id % 3 = 0
        |), ranked AS (
        |  SELECT doc_id, text, priority,
        |    row_number() OVER (PARTITION BY md5(text)
        |      ORDER BY priority DESC, doc_id ASC) AS rn
        |  FROM corpus
        |)
        |SELECT doc_id, text, priority FROM ranked WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    // same sentence rule; chunk assignment is exact integer floor
    // division over the per-doc prefix sum
    "d86_sentence_chunks" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(
        |      regexp_extract_all(text, '[^.!?]+[.!?]*'), s -> trim(s)),
        |      s -> length(s) > 0) AS l
        |  FROM documents
        |), sents AS (
        |  SELECT doc_id, unnest(l) AS sentence,
        |    CAST(unnest(range(1, len(l) + 1)) AS BIGINT) AS sent_idx
        |  FROM base
        |), tok AS (
        |  SELECT doc_id, sent_idx, sentence,
        |    CAST(len(CASE WHEN length(trim(sentence))=0 THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(trim(sentence), '\s+') END) AS BIGINT)
        |      AS n_toks
        |  FROM sents
        |), asg AS (
        |  SELECT doc_id, sent_idx, sentence, n_toks,
        |    CAST(COALESCE(SUM(n_toks) OVER (PARTITION BY doc_id ORDER BY sent_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 64 AS BIGINT)
        |      AS chunk_idx
        |  FROM tok
        |)
        |SELECT doc_id, chunk_idx,
        |  string_agg(sentence, ' ' ORDER BY sent_idx) AS text,
        |  CAST(count(*) AS BIGINT) AS n_sentences,
        |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens
        |FROM asg GROUP BY doc_id, chunk_idx
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // same greedy lookbehind-free sentence rule; n_tokens reuses ToksSql
    // over the sentence
    "d85_sentences" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(
        |      regexp_extract_all(text, '[^.!?]+[.!?]*'), s -> trim(s)),
        |      s -> length(s) > 0) AS l
        |  FROM documents
        |), sents AS (
        |  SELECT doc_id, unnest(l) AS sentence,
        |    CAST(unnest(range(1, len(l) + 1)) AS BIGINT) AS sent_idx
        |  FROM base
        |)
        |SELECT doc_id, sent_idx, sentence,
        |  CAST(len(CASE WHEN length(trim(sentence))=0 THEN CAST([] AS VARCHAR[])
        |    ELSE regexp_split_to_array(trim(sentence), '\s+') END) AS BIGINT)
        |    AS n_tokens
        |FROM sents ORDER BY doc_id, sent_idx""".stripMargin,

    // 2 unrolled HITS rounds, unnormalized integer iteration; the final
    // L1 division is the only inexact step
    "d83_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id AS src, (doc_id * 7 + 13) % 101 AS dst FROM documents
        |    UNION ALL
        |    SELECT doc_id AS src, doc_id % 97 AS dst FROM documents)
        |), nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |h0 AS (SELECT id, 1.0 AS h FROM nodes),
        |a1 AS (SELECT n.id, COALESCE(x.s, 0) AS a FROM nodes n LEFT JOIN
        |       (SELECT e.dst AS id, SUM(h0.h) AS s FROM e
        |        JOIN h0 ON e.src = h0.id GROUP BY 1) x ON n.id = x.id),
        |h1 AS (SELECT n.id, COALESCE(x.s, 0) AS h FROM nodes n LEFT JOIN
        |       (SELECT e.src AS id, SUM(a1.a) AS s FROM e
        |        JOIN a1 ON e.dst = a1.id GROUP BY 1) x ON n.id = x.id),
        |a2 AS (SELECT n.id, COALESCE(x.s, 0) AS a FROM nodes n LEFT JOIN
        |       (SELECT e.dst AS id, SUM(h1.h) AS s FROM e
        |        JOIN h1 ON e.src = h1.id GROUP BY 1) x ON n.id = x.id),
        |h2 AS (SELECT n.id, COALESCE(x.s, 0) AS h FROM nodes n LEFT JOIN
        |       (SELECT e.src AS id, SUM(a2.a) AS s FROM e
        |        JOIN a2 ON e.dst = a2.id GROUP BY 1) x ON n.id = x.id),
        |sums AS (SELECT (SELECT SUM(h) FROM h2) AS sh,
        |                (SELECT SUM(a) FROM a2) AS sa)
        |SELECT h2.id AS doc_id, ROUND(h2.h / sums.sh, 6) AS hub,
        |  ROUND(a2.a / sums.sa, 6) AS auth
        |FROM h2 JOIN a2 ON h2.id = a2.id CROSS JOIN sums
        |ORDER BY doc_id""".stripMargin,

    // personalized teleport t = 1/4 on the seed core (dyadic); dangling
    // mass re-enters through the seeds; 3 unrolled iterations; 2^-24
    // dyadic-floored contribution/dangling sums (order-invariant, as d78)
    "d84_personalized_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id AS src, (doc_id * 7 + 13) % 101 AS dst FROM documents
        |    UNION ALL
        |    SELECT doc_id AS src, doc_id % 97 AS dst FROM documents)
        |), outd AS (SELECT src, CAST(count(*) AS DOUBLE) AS o FROM e GROUP BY 1),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |tp AS (SELECT id, CASE WHEN id IN (3, 5, 7, 11) THEN 0.25 ELSE 0.0 END AS t
        |       FROM nodes),
        |r0 AS (SELECT id, t AS r FROM tp),
        |d1 AS (SELECT COALESCE(SUM(floor(r * 16777216.0) / 16777216.0), 0) AS dm FROM r0
        |       WHERE id NOT IN (SELECT src FROM e)),
        |c1 AS (SELECT e.dst AS id, SUM(floor(p.r / outd.o * 16777216.0) / 16777216.0) AS c FROM e
        |       JOIN r0 p ON e.src = p.id JOIN outd ON e.src = outd.src GROUP BY 1),
        |r1 AS (SELECT tp.id, 0.125 * tp.t + 0.875 * (COALESCE(c1.c, 0) + d1.dm * tp.t) AS r
        |       FROM tp LEFT JOIN c1 ON tp.id = c1.id CROSS JOIN d1),
        |d2 AS (SELECT COALESCE(SUM(floor(r * 16777216.0) / 16777216.0), 0) AS dm FROM r1
        |       WHERE id NOT IN (SELECT src FROM e)),
        |c2 AS (SELECT e.dst AS id, SUM(floor(p.r / outd.o * 16777216.0) / 16777216.0) AS c FROM e
        |       JOIN r1 p ON e.src = p.id JOIN outd ON e.src = outd.src GROUP BY 1),
        |r2 AS (SELECT tp.id, 0.125 * tp.t + 0.875 * (COALESCE(c2.c, 0) + d2.dm * tp.t) AS r
        |       FROM tp LEFT JOIN c2 ON tp.id = c2.id CROSS JOIN d2),
        |d3 AS (SELECT COALESCE(SUM(floor(r * 16777216.0) / 16777216.0), 0) AS dm FROM r2
        |       WHERE id NOT IN (SELECT src FROM e)),
        |c3 AS (SELECT e.dst AS id, SUM(floor(p.r / outd.o * 16777216.0) / 16777216.0) AS c FROM e
        |       JOIN r2 p ON e.src = p.id JOIN outd ON e.src = outd.src GROUP BY 1),
        |r3 AS (SELECT tp.id, 0.125 * tp.t + 0.875 * (COALESCE(c3.c, 0) + d3.dm * tp.t) AS r
        |       FROM tp LEFT JOIN c3 ON tp.id = c3.id CROSS JOIN d3)
        |SELECT id AS doc_id, ROUND(r, 6) AS rank FROM r3
        |ORDER BY doc_id""".stripMargin,

    // 3 unrolled power iterations; damping 7/8 keeps 1-d exact in doubles;
    // contribution and dangling sums floor each addend to 2^-24 (the
    // e48/d120 dyadic grid) so both engines' sums are order-invariant —
    // raw-double sums flipped 3/5000 rows on a ROUND(6) boundary at sf0.1
    "d78_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id AS src, (doc_id * 7 + 13) % 101 AS dst FROM documents
        |    UNION ALL
        |    SELECT doc_id AS src, doc_id % 97 AS dst FROM documents)
        |), outd AS (SELECT src, CAST(count(*) AS DOUBLE) AS o FROM e GROUP BY 1),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |r0 AS (SELECT id, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
        |d1 AS (SELECT COALESCE(SUM(floor(r * 16777216.0) / 16777216.0), 0) AS dm FROM r0
        |       WHERE id NOT IN (SELECT src FROM e)),
        |c1 AS (SELECT e.dst AS id, SUM(floor(p.r / outd.o * 16777216.0) / 16777216.0) AS c FROM e
        |       JOIN r0 p ON e.src = p.id JOIN outd ON e.src = outd.src GROUP BY 1),
        |r1 AS (SELECT nodes.id, 0.125 / nn.n + 0.875 * (COALESCE(c1.c, 0) + d1.dm / nn.n) AS r
        |       FROM nodes LEFT JOIN c1 ON nodes.id = c1.id CROSS JOIN nn CROSS JOIN d1),
        |d2 AS (SELECT COALESCE(SUM(floor(r * 16777216.0) / 16777216.0), 0) AS dm FROM r1
        |       WHERE id NOT IN (SELECT src FROM e)),
        |c2 AS (SELECT e.dst AS id, SUM(floor(p.r / outd.o * 16777216.0) / 16777216.0) AS c FROM e
        |       JOIN r1 p ON e.src = p.id JOIN outd ON e.src = outd.src GROUP BY 1),
        |r2 AS (SELECT nodes.id, 0.125 / nn.n + 0.875 * (COALESCE(c2.c, 0) + d2.dm / nn.n) AS r
        |       FROM nodes LEFT JOIN c2 ON nodes.id = c2.id CROSS JOIN nn CROSS JOIN d2),
        |d3 AS (SELECT COALESCE(SUM(floor(r * 16777216.0) / 16777216.0), 0) AS dm FROM r2
        |       WHERE id NOT IN (SELECT src FROM e)),
        |c3 AS (SELECT e.dst AS id, SUM(floor(p.r / outd.o * 16777216.0) / 16777216.0) AS c FROM e
        |       JOIN r2 p ON e.src = p.id JOIN outd ON e.src = outd.src GROUP BY 1),
        |r3 AS (SELECT nodes.id, 0.125 / nn.n + 0.875 * (COALESCE(c3.c, 0) + d3.dm / nn.n) AS r
        |       FROM nodes LEFT JOIN c3 ON nodes.id = c3.id CROSS JOIN nn CROSS JOIN d3)
        |SELECT id AS doc_id, ROUND(r, 6) AS rank FROM r3
        |ORDER BY doc_id""".stripMargin,

    // deterministic LPA: 3 unrolled neighbor-majority rounds (count DESC,
    // label ASC row_number replays the struct-min argmax)
    "d101_label_propagation" ->
      """WITH e0 AS (
        |  SELECT doc_id AS a, (doc_id * 7 + 13) % 101 AS b FROM documents
        |  UNION ALL
        |  SELECT doc_id AS a, doc_id % 97 AS b FROM documents
        |), e AS (SELECT DISTINCT a, b FROM (
        |  SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0)
        |  WHERE a <> b),
        |l0 AS (SELECT DISTINCT a AS id, a AS lbl FROM e),
        |v1 AS (SELECT e.a AS id, l.lbl, count(*) AS c FROM e
        |       JOIN l0 l ON e.b = l.id GROUP BY 1, 2),
        |l1 AS (SELECT id, lbl FROM (SELECT id, lbl,
        |         row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
        |       FROM v1) WHERE rn = 1),
        |v2 AS (SELECT e.a AS id, l.lbl, count(*) AS c FROM e
        |       JOIN l1 l ON e.b = l.id GROUP BY 1, 2),
        |l2 AS (SELECT id, lbl FROM (SELECT id, lbl,
        |         row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
        |       FROM v2) WHERE rn = 1),
        |v3 AS (SELECT e.a AS id, l.lbl, count(*) AS c FROM e
        |       JOIN l2 l ON e.b = l.id GROUP BY 1, 2),
        |l3 AS (SELECT id, lbl FROM (SELECT id, lbl,
        |         row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
        |       FROM v3) WHERE rn = 1),
        |nodes AS (SELECT DISTINCT a AS id FROM e0
        |          UNION SELECT b FROM e0)
        |SELECT n.id AS doc_id,
        |  CAST(coalesce(l3.lbl, n.id) AS BIGINT) AS community
        |FROM nodes n LEFT JOIN l3 ON n.id = l3.id
        |ORDER BY doc_id""".stripMargin,

    // inputs quantize to 16 fractional bits so the 64-term ±sum is exact
    // dyadic arithmetic in ANY summation order — both engines produce the
    // bitwise-identical double before the shared ROUND; the sign hash is
    // two minstd LCG steps in exact BIGINT arithmetic (seed 7 -> +8)
    "e50_random_projection" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> floor(CAST(x AS DOUBLE) * 65536.0) / 65536.0) AS v
        |  FROM embeddings
        |), dims AS (
        |  SELECT vec_id, v, unnest(range(0, 16)) AS j FROM q
        |), cells AS (
        |  SELECT vec_id, j, unnest(range(0, len(v))) AS i, v FROM dims
        |), terms AS (
        |  SELECT vec_id, j,
        |    v[CAST(i AS INT) + 1] *
        |    (CASE WHEN (16807 * ((16807 * ((i * 4099 + j * 8191 + 8)
        |        % 2147483647)) % 2147483647)) % 2147483647 < 1073741823
        |      THEN -1.0 ELSE 1.0 END) AS s
        |  FROM cells
        |)
        |SELECT vec_id, CAST(j AS BIGINT) AS dim,
        |  ROUND(SUM(s) / 4.0, 6) + 0 AS val
        |FROM terms GROUP BY vec_id, j
        |ORDER BY vec_id, dim""".stripMargin,

    "e48_kmeans" ->
      """WITH c0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl,
        |         embedding AS ce
        |  FROM embeddings QUALIFY row_number() OVER (ORDER BY vec_id) <= 8),
        |a0 AS (
        |  SELECT vec_id, embedding, cl FROM (
        |    SELECT e.vec_id, e.embedding, c.cl,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding, c.ce) DESC, c.cl) AS rn
        |    FROM embeddings e CROSS JOIN c0 c) WHERE rn = 1),
        |dims AS (
        |  SELECT cl, unnest(range(1, len(embedding)+1)) AS dim,
        |         unnest(embedding) AS x
        |  FROM a0),
        |sums AS (
        |  SELECT cl, dim,
        |         sum(CAST(floor(CAST(x AS DOUBLE) * 16777216.0) AS BIGINT)) AS s,
        |         count(*) AS cnt
        |  FROM dims GROUP BY 1, 2),
        |c1 AS (
        |  SELECT cl,
        |    list(CAST(CAST(s AS DOUBLE) / 16777216.0 / cnt AS FLOAT) ORDER BY dim) AS ce
        |  FROM sums GROUP BY cl)
        |SELECT vec_id, CAST(cl AS BIGINT) AS cluster FROM (
        |  SELECT e.vec_id, c.cl,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.embedding, c.ce) DESC, c.cl) AS rn
        |  FROM embeddings e CROSS JOIN c1 c) WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,

    // e48's full k-means replay (init -> assign -> fixed-point update ->
    // reassign), then d109's md5-nibble E-S keys at uniform weight and
    // the per-cluster budgeted pick — trainer, keys, and selection all
    // replayed end to end
    "e68_cluster_balanced_sample" ->
      """WITH c0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl,
        |         embedding AS ce
        |  FROM embeddings QUALIFY row_number() OVER (ORDER BY vec_id) <= 8),
        |a0 AS (
        |  SELECT vec_id, embedding, cl FROM (
        |    SELECT e.vec_id, e.embedding, c.cl,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding, c.ce) DESC, c.cl) AS rn
        |    FROM embeddings e CROSS JOIN c0 c) WHERE rn = 1),
        |dims AS (
        |  SELECT cl, unnest(range(1, len(embedding)+1)) AS dim,
        |         unnest(embedding) AS x
        |  FROM a0),
        |sums AS (
        |  SELECT cl, dim,
        |         sum(CAST(floor(CAST(x AS DOUBLE) * 16777216.0) AS BIGINT)) AS s,
        |         count(*) AS cnt
        |  FROM dims GROUP BY 1, 2),
        |c1 AS (
        |  SELECT cl,
        |    list(CAST(CAST(s AS DOUBLE) / 16777216.0 / cnt AS FLOAT) ORDER BY dim) AS ce
        |  FROM sums GROUP BY cl),
        |asg AS (SELECT vec_id, CAST(cl AS BIGINT) AS cluster FROM (
        |  SELECT e.vec_id, c.cl,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.embedding, c.ce) DESC, c.cl) AS rn
        |  FROM embeddings e CROSS JOIN c1 c) WHERE rn = 1),
        |k AS (SELECT cluster, vec_id,
        |  ln(((
        |   (strpos('0123456789abcdef', substr(md5('cb1:' || CAST(vec_id AS VARCHAR)),1,1))-1)*4096 +
        |   (strpos('0123456789abcdef', substr(md5('cb1:' || CAST(vec_id AS VARCHAR)),2,1))-1)*256 +
        |   (strpos('0123456789abcdef', substr(md5('cb1:' || CAST(vec_id AS VARCHAR)),3,1))-1)*16 +
        |   (strpos('0123456789abcdef', substr(md5('cb1:' || CAST(vec_id AS VARCHAR)),4,1))-1)
        |  ) + 0.5) / 65536.0) / 1.0 AS key
        | FROM asg),
        |r AS (SELECT cluster, vec_id,
        |  row_number() OVER (PARTITION BY cluster ORDER BY key DESC, vec_id) AS rank
        | FROM k)
        |SELECT cluster, vec_id, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 40 ORDER BY cluster, rank""".stripMargin,

    "d74_inverted_index" ->
      s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
        |pos AS (SELECT doc_id, unnest(t) AS term,
        |               CAST(unnest(range(1, len(t)+1)) AS INT) AS pos FROM toks),
        |g AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
        |             array_to_string(list(pos ORDER BY pos), ',') AS positions_csv
        |      FROM pos GROUP BY 1, 2),
        |f AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1
        |      HAVING count(*) >= 3 AND count(*) <= 450)
        |SELECT g.term, f.df, g.doc_id, g.tf, g.positions_csv
        |FROM g JOIN f ON g.term = f.term
        |ORDER BY g.term, g.doc_id""".stripMargin,

    "j05_interval_join" ->
      """WITH a AS (SELECT event_id AS a_id, ts AS a_lo,
        |             ts + INTERVAL 4 HOUR AS a_hi
        |           FROM events WHERE event_id % 53 = 0),
        |b AS (SELECT event_id AS b_id, ts AS b_lo,
        |        ts + INTERVAL 1 HOUR AS b_hi
        |      FROM events WHERE event_id % 13 = 0)
        |SELECT a.a_id, b.b_id FROM a JOIN b
        |  ON a.a_lo <= b.b_hi AND b.b_lo <= a.a_hi
        |ORDER BY a.a_id, b.b_id""".stripMargin,

    "j07_asof_tolerance" ->
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events),
        |r AS (SELECT user_id, ts, max(value) AS quote FROM events
        |      WHERE event_id % 7 = 0 GROUP BY 1, 2),
        |j AS (SELECT l.event_id, l.ts, r.ts AS rts, r.quote
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts)
        |SELECT event_id,
        |  CASE WHEN rts IS NULL OR epoch_us(ts) - epoch_us(rts) > 600000000
        |       THEN NULL ELSE quote END AS quote,
        |  CASE WHEN rts IS NULL OR epoch_us(ts) - epoch_us(rts) > 600000000
        |       THEN NULL
        |       ELSE CAST(epoch_us(ts) - epoch_us(rts) AS BIGINT) END AS lag_us
        |FROM j ORDER BY event_id""".stripMargin,

    // open/close replayed as rank-1 rows under (ts, v) / (ts desc, v
    // desc) — the same total order Spark's struct-min/max induces
    "j09_ohlc_downsample" -> OhlcOracleSql,

    // the OHLC aggregate is micro-batch-associative, so the drained
    // stream grades against j09's batch oracle verbatim
    "s60_stream_ohlc" -> OhlcOracleSql,
    "s66_stream_ohlc_append" -> OhlcAppendOracleSql,

    // stream-stream inner interval join drains to exactly the batch join
    "s61_stream_interval_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id
        |FROM events c JOIN events p ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin,

    "j10_gap_detection" -> GapOracleSql,

    // RANGE frame on epoch-µs: duplicate timestamps are frame peers in
    // both engines, so tie order can't change any stat; decimal sum,
    // avg = ONE double division of exact inputs
    "j11_rolling_stats" -> RollingOracleSql,

    // the single drain's per-key window-deque carry replays the batch
    // RANGE frame event for event (train/serve parity)
    "s64_stream_rolling" -> RollingOracleSql,

    // exact decimal frame sums + an operation-order-pinned double chain
    // (two divisions, multiply, subtract, IEEE-exact sqrt, divide);
    // the anomaly flag tests the UNROUNDED z, like the engine
    "j12_rolling_zscore" -> ZscoreOracleSql,
    "s65_stream_zscore_alert" -> ZscoreOracleSql,

    // the single drain's per-key last-ts carry replays the batch lag
    "s63_stream_gap_alert" -> GapOracleSql,

    "j06_locf_resample" ->
      """WITH e AS (SELECT user_id, ts, max(value) AS value
        |           FROM events GROUP BY 1, 2),
        |b AS (SELECT date_trunc('hour', min(ts)) AS t0, max(ts) AS t1 FROM e),
        |g AS (SELECT k.user_id,
        |        unnest(generate_series(b.t0, b.t1, INTERVAL 1 HOUR)) AS ts
        |      FROM (SELECT DISTINCT user_id FROM e) k CROSS JOIN b)
        |SELECT g.user_id, g.ts, e.value
        |FROM g ASOF LEFT JOIN e ON g.user_id = e.user_id AND g.ts >= e.ts
        |ORDER BY 1, 2""".stripMargin,

    // linear interpolation replays bitwise: epoch-µs deltas are exact
    // integers below 2^53, and both engines evaluate
    // bv + (fv-bv) * (dt/den) on doubles in the same order
    "j08_interp_resample" ->
      """WITH e AS (SELECT user_id, ts, max(value) AS value
        |           FROM events GROUP BY 1, 2),
        |b AS (SELECT date_trunc('hour', min(ts)) AS t0, max(ts) AS t1 FROM e),
        |g AS (SELECT k.user_id,
        |        unnest(generate_series(b.t0, b.t1, INTERVAL 1 HOUR)) AS ts
        |      FROM (SELECT DISTINCT user_id FROM e) k CROSS JOIN b),
        |bw AS (SELECT g.user_id, g.ts, e.ts AS bt, e.value AS bv
        |       FROM g ASOF LEFT JOIN e ON g.user_id = e.user_id AND g.ts >= e.ts),
        |fw AS (SELECT g.user_id, g.ts, e.ts AS ft, e.value AS fv
        |       FROM g ASOF LEFT JOIN e ON g.user_id = e.user_id AND g.ts <= e.ts)
        |SELECT bw.user_id, bw.ts,
        |  CASE WHEN bt IS NULL OR ft IS NULL THEN NULL
        |       WHEN bt = bw.ts THEN bv
        |       ELSE bv + (fv - bv) * (CAST(epoch_us(bw.ts) - epoch_us(bt) AS DOUBLE)
        |                              / CAST(epoch_us(ft) - epoch_us(bt) AS DOUBLE))
        |  END AS value
        |FROM bw JOIN fw ON bw.user_id = fw.user_id AND bw.ts = fw.ts
        |ORDER BY 1, 2""".stripMargin,

    "j03_skew_join" ->
      """SELECT c.c_mktsegment AS mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "e49_mean_pool" ->
      """WITH dims AS (SELECT label, unnest(range(1, len(embedding)+1)) AS dim,
        |                     unnest(embedding) AS x FROM embeddings),
        |sums AS (SELECT label, dim,
        |           sum(CAST(floor(CAST(x AS DOUBLE) * 16777216.0) AS BIGINT)) AS s,
        |           count(*) AS cnt
        |         FROM dims GROUP BY 1, 2),
        |p AS (SELECT label, dim,
        |        CAST(CAST(s AS DOUBLE) / 16777216.0 / cnt AS FLOAT) AS px, cnt
        |      FROM sums)
        |SELECT CAST(label AS BIGINT) AS label, CAST(max(cnt) AS BIGINT) AS n,
        |  array_to_string(list(CAST(CAST(floor(CAST(px AS DOUBLE) * 16777216.0)
        |    AS BIGINT) AS VARCHAR) ORDER BY dim), ',') AS pooled_fp_csv
        |FROM p GROUP BY label ORDER BY label""".stripMargin,

    "j02_range_join" ->
      """WITH iv AS (SELECT event_id AS marker_id, user_id, ts AS lo,
        |              ts + INTERVAL 2 HOUR AS hi
        |            FROM events WHERE event_id % 53 = 0)
        |SELECT p.event_id, iv.marker_id, p.user_id
        |FROM events p JOIN iv
        |  ON p.user_id = iv.user_id AND p.ts BETWEEN iv.lo AND iv.hi
        |ORDER BY p.event_id, iv.marker_id""".stripMargin,

    "d67_domain_blocklist" ->
      """WITH d AS (SELECT doc_id,
        |  'https://' || (['ads.tracker.net', 'example.com', 'sub.spam.bad',
        |                  'goodsite.org', 'www.example.com'])[(doc_id % 5 + 1)::INT]
        |    || '/p/' || CAST(doc_id AS VARCHAR) AS url
        | FROM documents),
        |h AS (SELECT doc_id,
        |  lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)) AS host
        | FROM d),
        |s AS (SELECT doc_id, unnest(list_transform(
        |         generate_series(1, len(string_split(host, '.'))),
        |         i -> array_to_string(string_split(host, '.')[i:], '.'))) AS suf
        |      FROM h),
        |m AS (SELECT doc_id,
        |        array_to_string(list_sort(list(suf)), ',') AS blocked_domains
        |      FROM s WHERE suf IN ('tracker.net', 'spam.bad') GROUP BY doc_id)
        |SELECT h.doc_id, h.host, m.blocked_domains
        |FROM h LEFT JOIN m ON h.doc_id = m.doc_id
        |ORDER BY h.doc_id""".stripMargin,

    "d69_quality_classifier" ->
      s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |tw AS (SELECT doc_id, lower(unnest(t)) AS tok FROM toks),
         |w(tok, wt) AS (VALUES ('the', 0.25), ('and', 0.25), ('of', 0.125),
         |  ('to', 0.125), ('a', 0.0625), ('in', 0.0625), ('is', 0.25),
         |  ('it', 0.125), ('for', 0.125), ('with', 0.0625)),
         |sc AS (SELECT tw.doc_id, SUM(COALESCE(w.wt, 0)) AS sw
         |       FROM tw LEFT JOIN w USING (tok) GROUP BY tw.doc_id)
         |SELECT d.doc_id, CAST(-1.0 + COALESCE(sc.sw, 0) AS DOUBLE) AS score,
         |  (-1.0 + COALESCE(sc.sw, 0)) > 0 AS keep
         |FROM documents d LEFT JOIN sc USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // same injected noise built with chr() (DuckDB string literals don't
    // process escapes): U+200B zero-width space, combining acute U+0301,
    // a tab; NFC via DuckDB's own nfc_normalize. The control-char class
    // is spelled as RE2-portable explicit ranges, mirroring the Spark op.
    "d68_normalize_text" ->
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(
        |    nfc_normalize(
        |      regexp_replace(
        |        regexp_replace(
        |          text || ' <b>bold</b>' || chr(8203) || 'joined  cafe'
        |               || chr(769) || ' ' || chr(9) || ' x',
        |          '<[^>]*>', ' ', 'g'),
        |        '[\p{Cf}\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]', ' ', 'g')),
        |    '\s+', ' ', 'g')) AS norm_text
        | FROM documents WHERE doc_id < 200)
        |SELECT doc_id, norm_text, CAST(length(norm_text) AS BIGINT) AS n_chars
        |FROM n ORDER BY doc_id""".stripMargin,

    "d70_winnow_fingerprints" ->
      s"""WITH ${winnowCtes(5, 4, "documents")}
         |SELECT doc_id,
         |  CAST(999999999 - CAST(substr(kk, 33, 9) AS BIGINT) AS BIGINT) AS fp_pos,
         |  substr(kk, 1, 32) AS fp_hash
         |FROM dist ORDER BY doc_id, fp_pos""".stripMargin,

    "d71_winnow_overlap" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 3000000 AS doc_id,
         |    'copied prefix: ' || array_to_string(t[1:12], ' ') AS text
         |  FROM (SELECT doc_id, $ToksSql AS t FROM documents) pl
         |  WHERE doc_id % 7 = 0
         |), ${winnowCtes(5, 4, "corpus")},
         |fp AS (SELECT DISTINCT doc_id, substr(kk, 1, 32) AS fp_hash FROM dist)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |ORDER BY id_a, id_b""".stripMargin,

    "d72_strip_html" ->
      """WITH page AS (SELECT doc_id,
        |  '<html><head><style>p{color:red}</style><script type="text/javascript">var x=1; if(x<2){x++;}</script></head><body><p class="c">'
        |  || text ||
        |  '</p><!-- trailing comment --><div>A &amp;amp; B &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div></body></html>' AS h
        | FROM documents WHERE doc_id < 300),
        |c AS (SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(h, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |            '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '(?s)<!--.*?-->', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean_text
        | FROM page)
        |SELECT doc_id, clean_text, CAST(length(clean_text) AS BIGINT) AS n_chars
        |FROM c ORDER BY doc_id""".stripMargin,

    "d49_stratified_sample" ->
      """SELECT lang, COUNT(*) AS n_docs,
        | CAST(SUM(CAST(length(text) AS DECIMAL(18,2))) AS DOUBLE) AS sum_chars
        |FROM documents
        |WHERE CASE WHEN lang = 'en' THEN substring(md5(text), 1, 1) IN ('0', '1')
        |      ELSE substring(md5(text), 1, 1) IN ('0', '1', '2', '3') END
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "d50_vocab_topk" ->
      s"""SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
         |FROM (SELECT unnest($ToksSql) AS token FROM documents)
         |GROUP BY token ORDER BY n_occurrences DESC, token LIMIT 20""".stripMargin,

    // selection + ranking on the exact integer ratio c_xy*W/(cx*cy)
    // (single correctly-rounded division — bitwise in any IEEE engine);
    // engine-specific ln() touches only the rounded output column
    "d100_pmi_collocations" ->
      s"""WITH docs AS (SELECT $ToksSql AS t FROM documents),
         |big AS (SELECT t[i] AS w1, t[i+1] AS w2, CAST(count(*) AS BIGINT) AS c_xy
         |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM docs)
         |  GROUP BY 1, 2 HAVING count(*) >= 5),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(t) AS w FROM docs) GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS w_total FROM uni),
         |ranked AS (SELECT w1, w2, c_xy,
         |    CAST(c_xy * w_total AS DOUBLE) / CAST(ux.c * uy.c AS DOUBLE) AS ratio
         |  FROM big JOIN uni ux ON big.w1 = ux.w JOIN uni uy ON big.w2 = uy.w
         |  CROSS JOIN tot
         |  ORDER BY ratio DESC, w1, w2 LIMIT 30)
         |SELECT w1, w2, c_xy, ROUND(LN(ratio), 6) AS pmi
         |FROM ranked ORDER BY pmi DESC, w1, w2""".stripMargin,

    "d99_frequency_spectrum" ->
      s"""WITH c AS (SELECT lang, tok, count(*) AS c FROM
         |    (SELECT lang, unnest($ToksSql) AS tok FROM documents)
         |  GROUP BY 1, 2)
         |SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(count(CASE WHEN c = 1 THEN 1 END) AS BIGINT) AS n_hapax,
         |  CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS type_token_ratio
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    // the compiled per-row loop replayed relationally: unnest -> per-
    // (doc, token) counts -> ln(N) - sum(c*ln c)/N, met at a 6-decimal
    // round; empty docs fall out of the unnest so they COALESCE back to
    // (0, 0, 0.0); NULL text stays NULL on both sides
    "d119_unigram_entropy" -> UnigramEntropyOracleSql,
    // map-only scoring is batch-invariant, so the stream twin grades
    // against the identical replay (the s59/d91 pattern)
    "s75_stream_unigram_entropy" -> UnigramEntropyOracleSql,
    "d120_quality_classifier_train" -> LogRegOracleSql,
    // map-only scoring under a table-trained model is batch-invariant,
    // so the serving twin grades against the identical replay
    "s76_stream_classifier_score" -> LogRegOracleSql,
    "d121_classifier_calibration" -> LogRegCalibrationOracleSql,
    "d122_classifier_eval" -> LogRegEvalOracleSql,
    "d123_active_learning" -> LogRegActiveOracleSql,
    "e69_pca_power" -> PcaPowerOracleSql,

    // per-lang top-500 ranks (count DESC, token tie-break), every OLS
    // term floored to 2^-24 before its integer sum, closed-form slope/
    // intercept written exactly as the Spark side computes them
    "d124_zipf_slope" ->
      s"""WITH toks AS (SELECT lang, unnest($ToksSql) AS tok FROM documents),
         |c AS (SELECT lang, tok, CAST(count(*) AS DOUBLE) AS c
         |  FROM toks GROUP BY 1, 2),
         |rk AS (SELECT lang, c,
         |    row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS r
         |  FROM c),
         |t AS (SELECT lang, CAST(r AS DOUBLE) AS r, c FROM rk WHERE r <= 500),
         |f AS (SELECT lang,
         |   CAST(floor(ln(r) * 16777216.0) AS BIGINT) AS fx,
         |   CAST(floor(ln(c) * 16777216.0) AS BIGINT) AS fy,
         |   CAST(floor((ln(r) * ln(c)) * 16777216.0) AS BIGINT) AS fxy,
         |   CAST(floor((ln(r) * ln(r)) * 16777216.0) AS BIGINT) AS fxx
         |  FROM t),
         |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
         |   CAST(SUM(fx) AS DOUBLE) / 16777216.0 AS sx,
         |   CAST(SUM(fy) AS DOUBLE) / 16777216.0 AS sy,
         |   CAST(SUM(fxy) AS DOUBLE) / 16777216.0 AS sxy,
         |   CAST(SUM(fxx) AS DOUBLE) / 16777216.0 AS sxx
         |  FROM f GROUP BY lang HAVING count(*) >= 2),
         |b AS (SELECT lang, n_terms, sx, sy,
         |   (CAST(n_terms AS DOUBLE) * sxy - sx * sy) /
         |   (CAST(n_terms AS DOUBLE) * sxx - sx * sx) AS slope
         |  FROM a)
         |SELECT lang, n_terms, ROUND(slope, 6) AS slope,
         |  ROUND((sy - slope * sx) / CAST(n_terms AS DOUBLE), 6) AS intercept
         |FROM b ORDER BY lang""".stripMargin,
    "e70_abtt_residual" -> AbttOracleSql,
    "e71_pca_second" -> PcaSecondOracleSql,

    // trainer (top-500 by count, token tiebreak) + coverage both replayed
    "d97_vocab_coverage" ->
      s"""WITH toks AS (SELECT lang, unnest($ToksSql) AS tok FROM documents),
         |v AS (SELECT tok FROM (
         |    SELECT tok, count(*) AS c FROM toks GROUP BY 1
         |    ORDER BY c DESC, tok LIMIT 500)),
         |agg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(count(CASE WHEN v.tok IS NULL THEN 1 END) AS BIGINT) AS n_oov
         |  FROM toks LEFT JOIN v ON v.tok = toks.tok GROUP BY lang)
         |SELECT lang, n_tokens, n_oov,
         |  CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate
         |FROM agg ORDER BY lang""".stripMargin,

    "d51_repetition" ->
      s"""SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
         | CASE WHEN len(g) = 0 THEN 0.0
         |      ELSE 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g) END AS dup_fraction
         |FROM (SELECT doc_id,
         |  CASE WHEN len(t) >= 2 THEN list_transform(range(1, len(t)),
         |    i -> array_to_string(t[i:i+1], ' '))
         |  ELSE CAST([] AS VARCHAR[]) END AS g
         | FROM (SELECT doc_id, $ToksSql AS t FROM documents))
         |ORDER BY doc_id""".stripMargin,

    // derived line view matches the entry: [text, blank, 60-char prefix,
    // same prefix]; the engine counts by exact line/gram text in one
    // native pass, so the SQL replay is literal
    "d91_repetition_signals" -> RepetitionOracleSql,

    // map-only scoring is batch-invariant: the stream grades against the
    // batch oracle verbatim
    "s59_stream_repetition_gate" -> RepetitionOracleSql,

    "d52_chunking" ->
      s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |st AS (SELECT doc_id, t, unnest(range(1, len(t) + 1, 48)) AS s
         |       FROM toks WHERE len(t) > 0)
         |SELECT doc_id,
         | CAST(FLOOR((s - 1) / 48.0) AS BIGINT) AS chunk_idx,
         | CAST(least(64, len(t) - s + 1) AS BIGINT) AS n_chunk_tokens,
         | md5(array_to_string(t[s:s+63], ' ')) AS chunk_hash
         |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,

    "d45_neardup_clusters" ->
      s"""WITH RECURSIVE corpus AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL
         | SELECT doc_id + 1000000 AS doc_id,
         |        array_to_string(toks[1:greatest(len(toks)-1, 1)], ' ') AS text
         | FROM (SELECT doc_id, $ToksSql AS toks FROM documents)
         | WHERE doc_id % 5 = 0
         |), sh AS (
         | SELECT doc_id, list_distinct(list_transform(
         |   range(0, greatest(len(toks) - 3, 0) + 1),
         |   i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
         | FROM (SELECT doc_id, $ToksSql AS toks FROM corpus)
         |), pairs AS MATERIALIZED (
         | -- MATERIALIZED: referenced twice by edges, which the recursive
         | -- CTE re-evaluates per iteration — without it the O(n^2)
         | -- cross-join re-runs every round
         | SELECT id_a, id_b FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |   CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 1.0
         |        ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END AS jaccard
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         | WHERE jaccard >= 0.7
         |), edges AS MATERIALIZED (
         | SELECT id_a AS src, id_b AS dst FROM pairs
         | UNION SELECT id_b, id_a FROM pairs
         |), reach(id, comp) AS (
         | SELECT src, src FROM edges
         | UNION
         | SELECT e.dst, r.comp FROM edges e JOIN reach r ON e.src = r.id
         |)
         |SELECT id, MIN(comp) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin,

    "d35_simhash_pairs" ->
      s"""WITH corpus AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL
         | SELECT doc_id + 1000000 AS doc_id,
         |        array_to_string(list_reverse(toks), ' ') AS text
         | FROM (SELECT doc_id, $ToksSql AS toks FROM documents)
         | WHERE doc_id % 5 = 0
         |), ms AS (
         | SELECT doc_id, array_to_string(list_sort($ToksSql), ' ') AS ms FROM corpus
         |)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM ms a JOIN ms b ON a.doc_id < b.doc_id AND a.ms = b.ms
         |ORDER BY id_a, id_b""".stripMargin,

    // the batch vectors accepted by the incremental step = those whose
    // brute-force max cosine against the accepted corpus stays below 0.95
    // brute-force global dedup: provably equals the clustered SemDeDup
    // output (planted dups share their source's cluster — see the query)
    "e43_semantic_dedup" ->
      """WITH corpus AS (
        | SELECT vec_id, embedding FROM embeddings
        | UNION ALL
        | SELECT vec_id + 1000000 AS vec_id,
        |        list_transform(embedding, x -> CAST(x * 2 AS FLOAT)) AS embedding
        | FROM embeddings WHERE vec_id % 10 = 0)
        |SELECT e.vec_id,
        | CAST((SELECT COUNT(*) FROM corpus o WHERE o.vec_id <> e.vec_id
        |   AND list_cosine_similarity(o.embedding, e.embedding) >= 0.99)
        |   AS BIGINT) AS n_dups
        |FROM corpus e
        |WHERE NOT EXISTS (SELECT 1 FROM corpus o2 WHERE o2.vec_id < e.vec_id
        |  AND list_cosine_similarity(o2.embedding, e.embedding) >= 0.99)
        |ORDER BY e.vec_id""".stripMargin,

    "e42_incremental_embedding_neardup" ->
      """WITH b AS (
        | SELECT vec_id + 1000000 AS vec_id,
        |        list_transform(embedding, x -> CAST(x * 2 AS FLOAT)) AS e
        | FROM embeddings WHERE vec_id % 10 = 0
        | UNION ALL
        | SELECT vec_id + 2000000 AS vec_id,
        |        list_transform(embedding, x -> CAST(-x AS FLOAT)) AS e
        | FROM embeddings WHERE vec_id % 10 = 5
        |),
        |bad AS (SELECT DISTINCT b.vec_id FROM b, embeddings a
        |        WHERE list_cosine_similarity(a.embedding, b.e) >= 0.95)
        |SELECT vec_id FROM b WHERE vec_id NOT IN (SELECT vec_id FROM bad)
        |ORDER BY vec_id""".stripMargin,

    "e41_knn_sq8" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
        | s AS (SELECT q.query_id, e.vec_id, list_dot_product(e.embedding, q.qe) AS d
        |        FROM embeddings e CROSS JOIN q)
        |SELECT query_id, vec_id,
        | CAST(row_number() OVER (PARTITION BY query_id ORDER BY d DESC, vec_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // IVFPQ at nprobe=nlist probes every cell and the PQ bound never
    // drops a probed candidate → the brute-force MIPS top-5 oracle.
    "e46_knn_ivfpq" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
        | s AS (SELECT q.query_id, e.vec_id, list_dot_product(e.embedding, q.qe) AS d
        |        FROM embeddings e CROSS JOIN q)
        |SELECT query_id, vec_id,
        | CAST(row_number() OVER (PARTITION BY query_id ORDER BY d DESC, vec_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // PQ is provably exact (per-vector residual bound), so its oracle is
    // the same brute-force MIPS top-5 as e41.
    "e45_knn_pq" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
        | s AS (SELECT q.query_id, e.vec_id, list_dot_product(e.embedding, q.qe) AS d
        |        FROM embeddings e CROSS JOIN q)
        |SELECT query_id, vec_id,
        | CAST(row_number() OVER (PARTITION BY query_id ORDER BY d DESC, vec_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // the persisted-index search is exact under the same unconditional
    // residual bound, so the identical MIPS oracle grades the round trip
    "e56_knn_pq_index" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
        | s AS (SELECT q.query_id, e.vec_id, list_dot_product(e.embedding, q.qe) AS d
        |        FROM embeddings e CROSS JOIN q)
        |SELECT query_id, vec_id,
        | CAST(row_number() OVER (PARTITION BY query_id ORDER BY d DESC, vec_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // no trained state + unconditional residual bound ⇒ the two-commit
    // SQ8 index grades against the brute-force MIPS oracle
    "e63_knn_sq8_index" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
        | s AS (SELECT q.query_id, e.vec_id, list_dot_product(e.embedding, q.qe) AS d
        |        FROM embeddings e CROSS JOIN q)
        |SELECT query_id, vec_id,
        | CAST(row_number() OVER (PARTITION BY query_id ORDER BY d DESC, vec_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // full probe + unconditional residual bound ⇒ the persisted IVF+PQ
    // three-table round trip grades against the brute-force MIPS oracle
    "e62_knn_ivfpq_index" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
        | s AS (SELECT q.query_id, e.vec_id, list_dot_product(e.embedding, q.qe) AS d
        |        FROM embeddings e CROSS JOIN q)
        |SELECT query_id, vec_id,
        | CAST(row_number() OVER (PARTITION BY query_id ORDER BY d DESC, vec_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // threshold entry: structure replays from the base table, health
    // lives in the flags (bounds sit between measured-sane and broken)
    "e64_ivf_index_health" ->
      """SELECT CAST(16 AS BIGINT) AS n_cells,
        |  CAST(count(*) AS BIGINT) AS n_entries,
        |  CAST(1 AS BIGINT) AS no_empty_cells,
        |  CAST(1 AS BIGINT) AS fill_skew_le_2,
        |  CAST(1 AS BIGINT) AS mean_resid_le_09
        |FROM embeddings""".stripMargin,

    // same full-probe exactness against the memoized standing index
    "e62_knn_ivfpq_search_only" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
        | s AS (SELECT q.query_id, e.vec_id, list_dot_product(e.embedding, q.qe) AS d
        |        FROM embeddings e CROSS JOIN q)
        |SELECT query_id, vec_id,
        | CAST(row_number() OVER (PARTITION BY query_id ORDER BY d DESC, vec_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // the bound is codebook-unconditional, so the incrementally-grown
    // index still grades against the brute-force MIPS oracle
    "e57_knn_pq_index_incremental" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
        | s AS (SELECT q.query_id, e.vec_id, list_dot_product(e.embedding, q.qe) AS d
        |        FROM embeddings e CROSS JOIN q)
        |SELECT query_id, vec_id,
        | CAST(row_number() OVER (PARTITION BY query_id ORDER BY d DESC, vec_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "e39_embedding_neardup" ->
      """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
        | CAST(round(list_cosine_similarity(embedding,
        |   list_transform(embedding, x -> x * 2)), 3) AS DOUBLE) AS cosine
        |FROM embeddings WHERE vec_id % 10 = 0 ORDER BY id_a, id_b""".stripMargin,

    // the decoder oracle: recompute the BMP fixtures' per-channel pixel
    // sums from the generating formula (MediaFixtures.channelValue) as
    // pure integer SQL — no codec on the oracle side, so a decode bug
    // (channel order, row flip, padding) breaks the hash match
    "m40_media_features" ->
      """WITH d AS (SELECT doc_id, doc_id % 6 + 3 AS w, doc_id % 4 + 2 AS h
        |           FROM documents),
        |px AS (SELECT d.doc_id, d.w, d.h, g.idx,
        |         (d.doc_id*31 + g.idx*7) % 256 AS v
        |       FROM d CROSS JOIN generate_series(0, 119) AS g(idx)
        |       WHERE g.idx < d.w*d.h*3)
        |SELECT doc_id AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        | CAST(SUM(CASE WHEN idx % 3 = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
        | CAST(SUM(CASE WHEN idx % 3 = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
        | CAST(SUM(CASE WHEN idx % 3 = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b
        |FROM px GROUP BY 1, 2, 3 ORDER BY media_id""".stripMargin,

    "m41_frame_sample" ->
      """WITH f AS (SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS kind,
        |  greatest(CAST(floor((strlen(text) - 1) / 64.0) AS INT), 0) + 1 AS n_total
        | FROM documents)
        |SELECT media_id, kind, CAST((n_total + 1) // 2 AS BIGINT) AS n_frames
        |FROM f ORDER BY media_id""".stripMargin,

    // each image's 64 average-hash bits recomputed from the pixel formula
    // as integer SQL (grid sample in the UPSCALED space floored back to
    // source coords; bit i = 64·gray_i > Σ gray); hash groups keyed by
    // the bit STRING, so the partition — not a particular hash encoding —
    // is what must match the codec-side result
    "m42_image_neardup" ->
      """WITH imgs AS (
        |  SELECT doc_id AS media_id, doc_id AS src, doc_id % 6 + 3 AS w0,
        |         doc_id % 4 + 2 AS h0, 1 AS sc FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, doc_id % 6 + 3, doc_id % 4 + 2, 2
        |  FROM documents WHERE doc_id % 7 = 0
        |), cells AS (
        |  SELECT media_id, src, w0, g.i AS i,
        |    ((g.i % 8) * (w0 * sc) // 8) // sc AS sx,
        |    ((g.i // 8) * (h0 * sc) // 8) // sc AS sy
        |  FROM imgs CROSS JOIN generate_series(0, 63) AS g(i)
        |), grays AS (
        |  SELECT media_id, i,
        |      299 * ((src*31 + ((sy*w0 + sx)*3 + 0)*7) % 256)
        |    + 587 * ((src*31 + ((sy*w0 + sx)*3 + 1)*7) % 256)
        |    + 114 * ((src*31 + ((sy*w0 + sx)*3 + 2)*7) % 256) AS g1000
        |  FROM cells
        |), sums AS (
        |  SELECT media_id, SUM(g1000) AS s FROM grays GROUP BY 1
        |), hashes AS (
        |  SELECT g.media_id,
        |    string_agg(CASE WHEN 64 * g.g1000 > s.s THEN '1' ELSE '0' END,
        |               '' ORDER BY g.i) AS hs
        |  FROM grays g JOIN sums s USING (media_id) GROUP BY g.media_id
        |), firsts AS (
        |  SELECT hs, min(media_id) AS keep_id, COUNT(*) AS n
        |  FROM hashes GROUP BY hs
        |)
        |SELECT f.keep_id, h.media_id AS dup_id
        |FROM hashes h JOIN firsts f USING (hs)
        |WHERE f.n > 1 AND h.media_id <> f.keep_id
        |ORDER BY f.keep_id, dup_id""".stripMargin,

    "m43_image_neardup_hamming" ->
      s"""WITH ${imageHashCtes()}
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  CAST(hamming(a.hs, b.hs) AS BIGINT) AS hamming
        |FROM hashes a JOIN hashes b ON a.media_id < b.media_id
        |WHERE hamming(a.hs, b.hs) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // same independent hash recomputation, then the clusters the pairs
    // imply — min-id components via a recursive reach
    "m47_image_dup_clusters" ->
      (s"WITH RECURSIVE ${imageHashCtes()}," + M47Tail),

    // every frame hash rebuilt from the pixel formula (frame f's image id
    // = media_id + (f // 4) * 12), then consecutive-frame bitstring diffs
    "m44_video_scene_cuts" ->
      """WITH vids AS (
        |  SELECT doc_id AS media_id, doc_id % 6 + 3 AS w0, doc_id % 4 + 2 AS h0
        |  FROM documents WHERE doc_id < 300
        |), frames AS (
        |  SELECT media_id, w0, h0, fr.f AS f, media_id + (fr.f // 4) * 12 AS src
        |  FROM vids CROSS JOIN generate_series(0, 11) AS fr(f)
        |), cells AS (
        |  SELECT media_id, f, src, w0, g.i AS i,
        |    ((g.i % 8) * w0) // 8 AS sx, ((g.i // 8) * h0) // 8 AS sy
        |  FROM frames CROSS JOIN generate_series(0, 63) AS g(i)
        |), grays AS (
        |  SELECT media_id, f, i,
        |      299 * ((src*31 + ((sy*w0 + sx)*3 + 0)*7) % 256)
        |    + 587 * ((src*31 + ((sy*w0 + sx)*3 + 1)*7) % 256)
        |    + 114 * ((src*31 + ((sy*w0 + sx)*3 + 2)*7) % 256) AS g1000
        |  FROM cells
        |), sums AS (
        |  SELECT media_id, f, SUM(g1000) AS s FROM grays GROUP BY 1, 2
        |), hashes AS (
        |  SELECT g.media_id, g.f,
        |    string_agg(CASE WHEN 64 * g.g1000 > s.s THEN '1' ELSE '0' END,
        |               '' ORDER BY g.i) AS hs
        |  FROM grays g JOIN sums s ON g.media_id = s.media_id AND g.f = s.f
        |  GROUP BY g.media_id, g.f
        |), ham AS (
        |  SELECT media_id, f AS frame_no,
        |    hamming(lag(hs) OVER (PARTITION BY media_id ORDER BY f), hs) AS hd
        |  FROM hashes
        |)
        |SELECT media_id, CAST(frame_no AS BIGINT) AS frame_no,
        |  CAST(hd AS BIGINT) AS hamming
        |FROM ham WHERE hd >= 1 ORDER BY media_id, frame_no""".stripMargin,

    // same per-frame hash recomputation as m44, then the distinct-set
    // overlap join with the maxFrameDf cut (no hash exceeds it here)
    "m49_video_neardup" ->
      """WITH vids AS (
        |  SELECT doc_id AS media_id, doc_id % 6 + 3 AS w0, doc_id % 4 + 2 AS h0
        |  FROM documents WHERE doc_id < 300
        |), frames AS (
        |  SELECT media_id, w0, h0, fr.f AS f, media_id + (fr.f // 4) * 12 AS src
        |  FROM vids CROSS JOIN generate_series(0, 11) AS fr(f)
        |), cells AS (
        |  SELECT media_id, f, src, w0, g.i AS i,
        |    ((g.i % 8) * w0) // 8 AS sx, ((g.i // 8) * h0) // 8 AS sy
        |  FROM frames CROSS JOIN generate_series(0, 63) AS g(i)
        |), grays AS (
        |  SELECT media_id, f, i,
        |      299 * ((src*31 + ((sy*w0 + sx)*3 + 0)*7) % 256)
        |    + 587 * ((src*31 + ((sy*w0 + sx)*3 + 1)*7) % 256)
        |    + 114 * ((src*31 + ((sy*w0 + sx)*3 + 2)*7) % 256) AS g1000
        |  FROM cells
        |), sums AS (
        |  SELECT media_id, f, SUM(g1000) AS s FROM grays GROUP BY 1, 2
        |), hashes AS (
        |  SELECT g.media_id, g.f,
        |    string_agg(CASE WHEN 64 * g.g1000 > s.s THEN '1' ELSE '0' END,
        |               '' ORDER BY g.i) AS hs
        |  FROM grays g JOIN sums s ON g.media_id = s.media_id AND g.f = s.f
        |  GROUP BY g.media_id, g.f
        |), fh AS (
        |  SELECT DISTINCT media_id, hs FROM hashes
        |), rare AS (
        |  SELECT hs FROM fh GROUP BY hs HAVING count(*) <= 1000
        |), pf AS (
        |  SELECT fh.media_id, fh.hs FROM fh JOIN rare USING (hs)
        |), ol AS (
        |  SELECT a.media_id AS id_a, b.media_id AS id_b, count(*) AS n_shared
        |  FROM pf a JOIN pf b ON a.hs = b.hs AND a.media_id < b.media_id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
        |FROM ol WHERE n_shared >= 2 ORDER BY id_a, id_b""".stripMargin,

    // every PCM sample rebuilt from the fixture formula; frame energies,
    // silence flags, and the gaps-and-islands merge all recomputed in SQL
    // PCM rebuilt from the fixture formula; truncating pair-average
    // replayed with DuckDB's truncating //
    // pixel formula: v(x,y,c) = (id*31 + ((y*w0+x)*3 + c)*7) % 256;
    // output (x,y) averages the 2x2 block at (2x,2y), truncating //
    "m50_image_downsample" ->
      """WITH imgs AS (
        |  SELECT doc_id AS media_id, doc_id % 6 + 3 AS w0, doc_id % 4 + 2 AS h0
        |  FROM documents WHERE doc_id < 200
        |), px AS (
        |  SELECT media_id, w0, x.x AS x, y.y AS y, c.c AS c
        |  FROM imgs
        |  CROSS JOIN generate_series(0, 3) AS x(x)
        |  CROSS JOIN generate_series(0, 1) AS y(y)
        |  CROSS JOIN generate_series(0, 2) AS c(c)
        |  WHERE x.x < w0 // 2 AND y.y < h0 // 2
        |), o AS (
        |  SELECT media_id, ((y * (w0 // 2)) + x) * 3 + c AS pos,
        |    (  (media_id*31 + (((2*y)*w0 + 2*x)*3 + c)*7) % 256
        |     + (media_id*31 + (((2*y)*w0 + 2*x + 1)*3 + c)*7) % 256
        |     + (media_id*31 + (((2*y + 1)*w0 + 2*x)*3 + c)*7) % 256
        |     + (media_id*31 + (((2*y + 1)*w0 + 2*x + 1)*3 + c)*7) % 256) // 4 AS v
        |  FROM px
        |)
        |SELECT media_id, CAST(count(*) AS BIGINT) AS n_vals,
        |  CAST(sum(v) AS BIGINT) AS vsum,
        |  CAST(sum(v * ((pos % 97) + 1)) AS BIGINT) AS wsum
        |FROM o GROUP BY media_id ORDER BY media_id""".stripMargin,

    "m48_audio_downsample" ->
      """WITH clips AS (
        |  SELECT doc_id AS media_id FROM documents WHERE doc_id < 200
        |), s AS (
        |  SELECT media_id, i.i AS i,
        |    CASE WHEN ((i.i // 100) + media_id) % 3 = 0 THEN 0
        |         ELSE (media_id*31 + i.i*7) % 2000 - 1000 END AS v
        |  FROM clips CROSS JOIN generate_series(0, 1599) AS i(i)
        |), d AS (
        |  SELECT media_id, i // 2 AS j, SUM(v) // 2 AS o
        |  FROM s GROUP BY media_id, i // 2
        |)
        |SELECT media_id, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(abs(o)) AS BIGINT) AS sum_abs,
        |  CAST(sum(o * ((j % 97) + 1)) AS BIGINT) AS wsum
        |FROM d GROUP BY media_id ORDER BY media_id""".stripMargin,

    "m45_audio_silence" ->
      """WITH clips AS (
        |  SELECT doc_id AS media_id FROM documents WHERE doc_id < 200
        |), samples AS (
        |  SELECT media_id, i.i // 100 AS f,
        |    ABS((media_id*31 + i.i*7) % 2000 - 1000) AS a
        |  FROM clips CROSS JOIN generate_series(0, 1599) AS i(i)
        |), en AS (
        |  SELECT media_id, f, ((f + media_id) % 3 = 0) AS silent,
        |    CASE WHEN (f + media_id) % 3 = 0 THEN 0 ELSE SUM(a) END AS energy
        |  FROM samples GROUP BY media_id, f
        |), chgs AS (
        |  SELECT media_id, f, silent, energy,
        |    CASE WHEN lag(silent) OVER w IS NULL
        |           OR lag(silent) OVER w <> silent THEN 1 ELSE 0 END AS chg
        |  FROM en WINDOW w AS (PARTITION BY media_id ORDER BY f)
        |), segs AS (
        |  SELECT media_id, f, silent, energy,
        |    SUM(chg) OVER (PARTITION BY media_id ORDER BY f) - 1 AS seg_no
        |  FROM chgs
        |)
        |SELECT media_id, CAST(seg_no AS BIGINT) AS seg_no, silent,
        |  CAST(MIN(f) AS BIGINT) AS start_frame,
        |  CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(SUM(energy) AS BIGINT) AS energy
        |FROM segs GROUP BY media_id, seg_no, silent
        |ORDER BY media_id, seg_no""".stripMargin,

    // every PCM sample, frame energy, and sign-of-delta fingerprint bit
    // rebuilt in integer SQL; ALL pairs cross-checked (the band join is
    // exact at Hamming <= 3 by pigeonhole, so full enumeration agrees)
    "m46_audio_neardup" ->
      """WITH clips AS (
        |  SELECT doc_id AS media_id, doc_id AS src, 1 AS gain
        |  FROM documents WHERE doc_id < 200
        |  UNION ALL
        |  SELECT doc_id + 4000000 AS media_id, doc_id AS src, 2 AS gain
        |  FROM documents WHERE doc_id < 200 AND doc_id % 9 = 0
        |), en AS (
        |  SELECT media_id, i.i // 25 AS f,
        |    SUM(CASE WHEN (i.i // 100 + src) % 3 = 0 THEN 0
        |             ELSE gain * ABS((src*31 + i.i*7) % 2000 - 1000) END) AS e
        |  FROM clips CROSS JOIN generate_series(0, 1599) AS i(i)
        |  GROUP BY media_id, f
        |), fp AS (
        |  SELECT media_id,
        |    SUM(CASE WHEN nxt > e THEN 1::BIGINT << f ELSE 0::BIGINT END) AS fp
        |  FROM (SELECT media_id, f, e,
        |          lead(e) OVER (PARTITION BY media_id ORDER BY f) AS nxt
        |        FROM en)
        |  WHERE nxt IS NOT NULL
        |  GROUP BY media_id
        |)
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        |FROM fp a JOIN fp b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 3
        |ORDER BY id_a, id_b""".stripMargin
  )
}
