package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Link-graph operators for web-corpus curation. PageRank is the classic
 * page-authority signal (OPIC/harmonic-centrality variants rank Common
 * Crawl's frontier; a rank floor is a standard crawl-corpus quality
 * filter) — [[DedupOps.connectedComponents]]'s iterative machinery,
 * applied to a directed graph with per-round mass redistribution.
 */
object GraphOps {

  /** Dyadic fixed-point grid for the cross-partition float sums (the
    * e48/d120/e69 discipline): every per-edge contribution `rank/outdeg`
    * and every per-node dangling-mass addend is floored to a multiple of
    * 2^-24 BEFORE summing, so each partial sum is exact in a double and
    * the aggregate is bitwise identical under ANY partitioning /
    * aggregation order — raw-double sums flipped 3/5000 d78 rows across
    * a ROUND(…,6) boundary at sf0.1 (the r16 sweep finding) because
    * Spark's partial-agg order differs from a single-threaded oracle by
    * an ulp. Capacity: terms ≤ 1, so sums stay exact up to 2^29 addends
    * per key — far past any real in-degree or dangling-node count.
    *
    * The grid is ABSOLUTE (r17 advice): a contribution `rank/outdeg`
    * below 2^-24 floors to exactly 0, so the signal needs uniform-init
    * ranks (1/N for pageRank) to sit well above the grid step. The
    * [[NodeCeiling]] require in pageRank enforces N ≤ 2^20 — 4 guard
    * bits between 1/N and the grid, so sub-grid truncation stays a
    * bounded tail correction (per-round mass leak < (|E|+|dangling|)·
    * 2^-24, asserted ≤ 3e-5 on the OpsSpec fixture) instead of the
    * whole signal. Graphs beyond the ceiling need a grid scaled to the
    * graph (e.g. floor to multiples of 1/(N·2^24)) WITH the d78/d84
    * oracles updated identically — fail loudly here rather than
    * degenerate silently to pure teleport. personalizedPageRank is not
    * ceiling-bound the same way: its init mass is 1/|seeds| (seeds are
    * a tiny literal list), and far-from-seed ranks decaying below the
    * grid to exact 0 is the designed tail cutoff, not signal loss. */
  private val Q = 16777216.0 // 2^24
  private[graft] val NodeCeiling = 1L << 20
  private def dyadic(c: org.apache.spark.sql.Column) = floor(c * lit(Q)) / lit(Q)

  /**
   * PageRank over a directed edge list: `iters` power iterations of
   * `rank' = (1-d)/N + d·(Σ_in ⌊rank/outdeg⌋₂₄ + danglingMass/N)` with
   * uniform teleport and uniform dangling-mass redistribution (the
   * standard treatment — a node with no out-links donates its rank to
   * everyone, else total mass leaks); `⌊·⌋₂₄` is the 2^-24 dyadic floor
   * above, applied to each summed contribution (and to each dangling
   * rank addend) so both sums are order-invariant and the whole
   * recursion replays bitwise in any engine. Parallel edges collapse
   * first; nodes are everything appearing as src OR dst.
   *
   * 100 TB design: the edge table (joined once with out-degrees) is
   * PERSISTED and reused across iterations; each iteration is EXACTLY
   * ONE driver action (asserted by a listener spec): a join-free
   * aggregate that doubles as both the cache materialization of the
   * next-ranks leaf AND the next round's dangling-mass computation (the
   * internal-row plan-truncating leaf itself is lazy — no separate
   * conversion execution). The rank state carries
   * a `has_out` flag stamped ONCE at setup, so the dangling mass is a
   * map-side-combinable `sum(when(!has_out, rank))` over the fresh
   * leaf — one O(nodes) scan that populates the cache as a side
   * effect; the separate per-iteration `count()`, the dangling
   * anti-join, and the broadcast-build of the old one-row dm frame are
   * all gone. The dangling mass enters the update as a LITERAL (one
   * bounded double off a one-row aggregate — the same boundedness as a
   * one-row broadcast, same addends, so ranks are numerically
   * unchanged). Every round truncates the Catalyst plan with the same
   * persisted-RDD-leaf trick as [[DedupOps.connectedComponents]] (each
   * round references the previous ranks twice — contributions +
   * dangling — so the analyzed plan would otherwise double per round);
   * materialization stays eager (via the dm aggregate) so the previous
   * round's cache can be dropped deterministically.
   *
   * Graph size limit: at most 2^20 (1,048,576) distinct nodes
   * ([[NodeCeiling]]); a larger graph fails with an
   * `IllegalArgumentException` rather than losing its ranks below the
   * 2^-24 grid.
   *
   * Returns `(id, rank)` with ranks summing to 1 (up to float wobble).
   */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0, 1), got $damping")
    def persistedLeaf(df: DataFrame, eager: Boolean = true): DataFrame =
      IterPlan.persistedLeaf(df, eager)
    val eDist = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val outDeg = eDist.groupBy("src").agg(count(lit(1)).as("outdeg"))
      // out-degree rides the edge row, so iterations never re-join it
      val ew = persistedLeaf(eDist.join(outDeg, "src")
        .select(col("src"), col("dst"), col("outdeg")))
      // node state carries a has_out flag stamped ONCE: the per-round
      // dangling-mass read is then a join-free scan of the rank leaf
      // (dangling = nodes appearing only as dst)
      val nodes = persistedLeaf(
        eDist.select(col("src").as("id"))
          .unionAll(eDist.select(col("dst").as("id"))).distinct()
          .join(ew.select(col("src").as("id"), lit(true).as("__has_out"))
            .distinct(), Seq("id"), "left")
          .select(col("id"), coalesce(col("__has_out"), lit(false)).as("has_out")))
      // nodes was just force-counted by persistedLeaf; this count reads
      // the fresh cache entry
      val n = nodes.count().toDouble
      // 2^-24 grid ceiling (see the dyadic doc above): beyond ~2^20 nodes
      // the uniform init rank 1/N approaches the grid step and per-edge
      // contributions floor to 0 — fail loudly instead of degenerating
      // to pure teleport
      require(n <= NodeCeiling,
        s"pageRank's 2^-24 dyadic sum grid supports at most $NodeCeiling " +
          s"nodes (got ${n.toLong}); scale the grid (and the replaying " +
          "oracles) before running larger graphs")
      // Materialize a new ranks leaf AND read off its dangling mass in
      // ONE action: the aggregate's scan of the fresh (lazily persisted)
      // leaf populates the cache exactly like persistedLeaf's eager
      // count did, and its one-row result is the NEXT round's dm — so
      // an iteration costs two driver actions total (leaf conversion +
      // this aggregate), with no separate count, no join, and no
      // broadcast build. The previous leaf is still cached while this
      // runs, so the lazy leaf never re-chains through released rounds.
      def materializeWithDm(df: DataFrame): (DataFrame, Double) = {
        val leaf = persistedLeaf(df, eager = false)
        val dm = leaf
          .agg(coalesce(sum(when(!col("has_out"), dyadic(col("rank")))), lit(0.0)))
          .head().getDouble(0)
        (leaf, dm)
      }
      var (ranks, dm) = materializeWithDm(
        nodes.select(col("id"), (lit(1.0) / lit(n)).as("rank"), col("has_out")))
      try {
        var i = 0
        while (i < iters) {
          // one combinable contribution shuffle of 2^-24-floored terms
          // (order-invariant exact sum); dm enters as a literal (same
          // addends and sum as the former one-row broadcast)
          val contribs = ew.join(ranks, ew("src") === ranks("id"))
            .select(col("dst").as("id"),
              dyadic(col("rank") / col("outdeg").cast("double")).as("c"))
            .groupBy("id").agg(sum("c").as("c"))
          val (next, dmNext) = materializeWithDm(
            nodes.join(contribs, Seq("id"), "left")
              .select(col("id"),
                (lit((1.0 - damping)) / lit(n) + lit(damping) *
                  (coalesce(col("c"), lit(0.0)) + lit(dm) / lit(n)))
                  .as("rank"),
                col("has_out")))
          ranks.unpersist()
          ranks = next
          dm = dmNext
          i += 1
        }
        // re-materialize off the cache so the entry can be dropped
        val result = ranks.select(col("id"), col("rank")).localCheckpoint(true)
        result
      } finally {
        // also covers mid-iteration failures: the CURRENT ranks leaf is
        // always the one persisted entry not yet released
        ranks.unpersist()
        ew.unpersist(); nodes.unpersist()
      }
    } finally eDist.unpersist()
  }

  /**
   * Personalized (topic-sensitive) PageRank: teleport lands on a SEED
   * SET instead of every node — `rank' = (1-d)·t(v) + d·(Σ_in
   * ⌊rank/outdeg⌋₂₄ + danglingMass·t(v))` (2^-24-floored order-invariant
   * sums, as [[pageRank]]) with `t(v) = 1/|seeds|` for seed
   * nodes and 0 elsewhere (dangling mass re-enters through the seeds,
   * the standard choice that keeps total mass 1). The crawl-curation
   * use: authority relative to a trusted topic core (seed hosts),
   * rather than global popularity.
   *
   * Seeds are a driver-side literal list BY DESIGN — a topic core is
   * tiny next to the graph (the classifier-vocabulary argument), and
   * an `isin` literal keeps the teleport column a map-only expression
   * on the rank state: the iteration machinery (persisted edges,
   * plan-truncating leaves, the join-free piggybacked dangling-mass
   * aggregate, 2 driver actions per round) is EXACTLY [[pageRank]]'s.
   * Seeds absent from the graph contribute teleport mass nowhere and
   * total mass shrinks accordingly — callers get what they asked for;
   * pass graph nodes.
   *
   * Returns `(id, rank)`; ranks sum to 1 when every seed is a graph
   * node.
   */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: Seq[Any], iters: Int = 10,
                           damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(seeds.nonEmpty, "seeds must be non-empty")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0, 1), got $damping")
    def persistedLeaf(df: DataFrame, eager: Boolean = true): DataFrame =
      IterPlan.persistedLeaf(df, eager)
    val nSeeds = seeds.distinct.length.toDouble
    val eDist = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val outDeg = eDist.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val ew = persistedLeaf(eDist.join(outDeg, "src")
        .select(col("src"), col("dst"), col("outdeg")))
      // node state: teleport weight t (1/|seeds| on seeds, else 0) and
      // the has_out dangling flag, both stamped once
      val nodes = persistedLeaf(
        eDist.select(col("src").as("id"))
          .unionAll(eDist.select(col("dst").as("id"))).distinct()
          .join(ew.select(col("src").as("id"), lit(true).as("__has_out"))
            .distinct(), Seq("id"), "left")
          .select(col("id"),
            when(col("id").isin(seeds.distinct: _*), lit(1.0) / lit(nSeeds))
              .otherwise(lit(0.0)).as("t"),
            coalesce(col("__has_out"), lit(false)).as("has_out")))
      def materializeWithDm(df: DataFrame): (DataFrame, Double) = {
        val leaf = persistedLeaf(df, eager = false)
        val dm = leaf
          .agg(coalesce(sum(when(!col("has_out"), dyadic(col("rank")))), lit(0.0)))
          .head().getDouble(0)
        (leaf, dm)
      }
      // rank0 = the teleport vector itself (the standard PPR start)
      var (ranks, dm) = materializeWithDm(
        nodes.select(col("id"), col("t").as("rank"), col("t"), col("has_out")))
      try {
        var i = 0
        while (i < iters) {
          // same 2^-24-floored order-invariant sums as [[pageRank]]
          val contribs = ew.join(ranks, ew("src") === ranks("id"))
            .select(col("dst").as("id"),
              dyadic(col("rank") / col("outdeg").cast("double")).as("c"))
            .groupBy("id").agg(sum("c").as("c"))
          val (next, dmNext) = materializeWithDm(
            nodes.join(contribs, Seq("id"), "left")
              .select(col("id"),
                (lit(1.0 - damping) * col("t") + lit(damping) *
                  (coalesce(col("c"), lit(0.0)) + lit(dm) * col("t")))
                  .as("rank"),
                col("t"), col("has_out")))
          ranks.unpersist()
          ranks = next
          dm = dmNext
          i += 1
        }
        ranks.select(col("id"), col("rank")).localCheckpoint(true)
      } finally {
        ranks.unpersist()
        ew.unpersist(); nodes.unpersist()
      }
    } finally eDist.unpersist()
  }

  /**
   * HITS hubs and authorities (Kleinberg): `auth(v) = Σ_{u→v} hub(u)`,
   * then `hub(u) = Σ_{u→v} auth(v)` per iteration, UNNORMALIZED during
   * iteration and L1-normalized once at output. Running unnormalized is
   * what makes the op engine-reproducible: starting from hub = 1 every
   * intermediate value is an INTEGER represented exactly in doubles (no
   * per-round norm divisions whose rounding could diverge between
   * engines), so the one final division is the only inexact step.
   * Values grow like (max degree)^iters — with the default small
   * iteration count (HITS converges in spirit after a few rounds) they
   * stay far under 2^53; the require bounds it loudly.
   *
   * 100 TB design: [[pageRank]]'s machinery — persisted degree-stamped
   * edges reused across rounds, one plan-truncating leaf per round, and
   * per round TWO combinable aggregate shuffles (the auth pass and the
   * hub pass — HITS is inherently two-sided; the auth subtree feeding
   * both the hub pass and the output dedupes via exchange reuse inside
   * the single materializing action).
   *
   * Returns `(id, hub, auth)`, each column summing to 1.
   */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 8,
      s"iters must be in [1, 8] (unnormalized integer growth), got $iters")
    def persistedLeaf(df: DataFrame): DataFrame = IterPlan.persistedLeaf(df)
    val eDist = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val ew = persistedLeaf(eDist)
      val nodes = persistedLeaf(
        eDist.select(col("src").as("id"))
          .unionAll(eDist.select(col("dst").as("id"))).distinct())
      var state = persistedLeaf(
        nodes.select(col("id"), lit(1.0).as("hub"), lit(1.0).as("auth")))
      try {
        var i = 0
        while (i < iters) {
          val auth = nodes.join(
              ew.join(state, ew("src") === state("id"))
                .select(col("dst").as("id"), col("hub").as("v"))
                .groupBy("id").agg(sum("v").as("va")),
              Seq("id"), "left")
            .select(col("id"), coalesce(col("va"), lit(0.0)).as("auth"))
          val next = persistedLeaf(
            auth.join(
                ew.join(auth, ew("dst") === auth("id"))
                  .select(col("src").as("id"), col("auth").as("v"))
                  .groupBy("id").agg(sum("v").as("vh")),
                Seq("id"), "left")
              .select(col("id"), coalesce(col("vh"), lit(0.0)).as("hub"),
                col("auth")))
          state.unpersist()
          state = next
          i += 1
        }
        val sums = state.agg(sum("hub").as("sh"), sum("auth").as("sa")).head()
        val (sh, sa) = (sums.getDouble(0), sums.getDouble(1))
        // a graph can lack hubs or authorities entirely (no edges after
        // dedup is impossible here — nodes come from edges — but a
        // bipartite degenerate side can zero one sum); keep 0/0 as 0
        state.select(col("id"),
            (if (sh == 0.0) lit(0.0) else col("hub") / lit(sh)).as("hub"),
            (if (sa == 0.0) lit(0.0) else col("auth") / lit(sa)).as("auth"))
          .localCheckpoint(true)
      } finally {
        state.unpersist()
        ew.unpersist(); nodes.unpersist()
      }
    } finally eDist.unpersist()
  }

  /**
   * Synchronous label-propagation community detection (Raghavan-style,
   * made DETERMINISTIC): every node starts labeled with its own id; each
   * round, every node adopts the label with the most votes among its
   * NEIGHBORS (undirected, self-loops dropped), ties broken to the
   * smallest label; fixed `iters` rounds. The usual LPA randomizes tie
   * order — this variant is RNG-free, so any engine replays it
   * bit-for-bit, and a fixed round count sidesteps the oscillation that
   * makes convergence-based LPA nondeterministic on bipartite motifs.
   * The domain/topic clustering pass a link-graph corpus runs next to
   * [[pageRank]] — where [[graft.ops.DedupOps.connectedComponents]]
   * answers "reachable at all?", this answers "densely knit together?".
   *
   * Per round: ONE edge⋈labels hash join shuffled into a
   * `(node, label)` count — the exchange carries label VOTES (bounded
   * by the edge count), never adjacency lists — then a combinable
   * struct-min argmax per node. Each round's labels become a persisted
   * plan-truncated leaf ([[IterPlan]]: O(nodes) state, no 2^rounds plan
   * blowup), previous leaves released eagerly. The undirected edge set
   * is symmetric, so every node WITH a non-self neighbor appears as a
   * source and votes cover all of them each round; a node whose only
   * edges are self-loops has no one to vote for it and surfaces as a
   * SINGLETON community (its own id) via one final outer re-attach —
   * dropped silently it would vanish from the report.
   */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 32, s"iters must be in [1, 32], got $iters")
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val ew = IterPlan.persistedLeaf(
        e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
          .where(col("a") =!= col("b"))
          .distinct())
      val nodes = IterPlan.persistedLeaf(
        e.select(col("a").as("id"))
          .unionAll(e.select(col("b").as("id"))).distinct())
      var labels = IterPlan.persistedLeaf(
        ew.select(col("a").as("id")).distinct()
          .select(col("id"), col("id").as("lbl")))
      try {
        var i = 0
        while (i < iters) {
          val votes = ew.join(labels, ew("b") === labels("id"))
            .groupBy(col("a"), col("lbl")).agg(count(lit(1)).as("c"))
          val next = IterPlan.persistedLeaf(
            votes.groupBy(col("a"))
              .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l")))
                .as("m"))
              .select(col("a").as("id"), col("m.l").as("lbl")))
          labels.unpersist()
          labels = next
          i += 1
        }
        nodes.join(labels, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("lbl"), col("id")).as("community"))
          .localCheckpoint(true)
      } finally {
        labels.unpersist(); ew.unpersist(); nodes.unpersist()
      }
    } finally e.unpersist()
  }
}
