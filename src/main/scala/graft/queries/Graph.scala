package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph analytics over the co-purchase graph (parts are nodes; an
  * undirected edge connects two parts that appear together in at least
  * one order) — the relational-to-graph bridge a catalog/recommendation
  * pipeline runs on the same fact table the TPC-H queries scan.
  *
  * Both operators consume ONE shared, memoized edge table
  * ([[cachedGraph]], the `graph_edges` bench artifact): the edge build
  * pays the basket aggregation + pair-distinct shuffles once, and
  * PageRank / triangle counting are marginal costs over the
  * checkpointed adjacency — the same shared-artifact discipline the
  * dedup pair family uses (SURVEY §4).
  *
  * Scale design:
  *   - Edges expand MAP-SIDE from per-order sorted baskets
  *     ([[graft.dedup.Dedup.postingPairs]]) — never a lineitem
  *     self-join; the expansion is bounded by lines-per-order² inside
  *     the map task, and the only edge-volume shuffles are the basket
  *     groupBy and the pair distinct.
  *   - PageRank's per-iteration rank table is |V| rows — broadcast to
  *     the adjacency for a map-side contribution join, then ONE
  *     dst-keyed aggregation with map-side partials (each task reduces
  *     to ≤|V| rows before the exchange). Lineage is truncated with an
  *     eager localCheckpoint per iteration, the standard guard against
  *     the exponential-plan-growth failure mode of iterative DataFrame
  *     jobs. For a graph whose |V| outgrows broadcast (billions of
  *     nodes), the [[gatedBuild]] budget flips the SAME loop onto a
  *     co-partitioned shuffled hash join against the src-partitioned
  *     cached adjacency — certified row-identical by GraphGateSpec.
  *   - Triangles use degree-ordered orientation (each edge directed
  *     from its lower-(degree, id) endpoint), which provably bounds
  *     out-degrees near O(√|E|) and minimizes the wedge mass Σ outdeg²;
  *     wedges expand map-side from sorted out-neighbor arrays and are
  *     NEVER shuffled — the closing-edge check is a broadcast-hash semi
  *     join against the packed oriented edge set (|E| longs), and the
  *     only post-expansion shuffle carries 3 rows per found triangle
  *     into a map-side-partial node count. At 100 TB the edge set
  *     outgrows broadcast; the [[gatedBuild]] budget flips the same
  *     probes to co-partitioned shuffled hash joins on the packed keys
  *     — the design keeps the 83M-row wedge expansion (sf0.1 figure)
  *     out of every exchange either way.
  */
object Graph {

  /** Node ids must fit 32 bits so an oriented edge packs into one long
    * for the triangle semi join ((b << 32) | c) and the orientation key
    * packs as (deg << 32) | node. Part keys are ~2·10⁵ per SF-0.1 and
    * scale linearly with SF — a 100 TB catalog is still far under 2³¹.
    */
  private val NodeBits = 32
  private val NodeMask = (1L << NodeBits) - 1

  /** Broadcast budget (rows) for the iterative family's node/edge-scale
    * build sides — the [[graft.dedup.Dedup.MaxExactBroadcastRows]]
    * pattern applied to graph state. While a rank/label/adjacency table
    * fits, broadcasting it is the cheapest plan (one exchange per
    * round); past the budget the SAME loop runs as a co-partitioned
    * shuffled hash join via [[gatedBuild]]. Default 2·10⁷ rows (~320 MB
    * of packed rank state — the practical per-executor broadcast
    * ceiling); a 100 TB deployment tunes the runtime conf
    * `graft.graph.maxBroadcastRows` to its executor budget, and
    * GraphGateSpec forces 0 to certify the shuffle face row-identical
    * against the broadcast face.
    */
  val DefaultMaxBroadcastRows = 20000000L

  private[graft] def maxBroadcastRows(spark: SparkSession): Long =
    spark.conf.getOption("graft.graph.maxBroadcastRows")
      .map(_.toLong).getOrElse(DefaultMaxBroadcastRows)

  /** Broadcast `df` while `rows` fits the budget; otherwise pin it as
    * the build side of a co-partitioned SHUFFLED hash join — the hint
    * (not a bare un-hinted join) so AQE can never re-broadcast a side
    * the budget rejected. Both sides then exchange on the join key; the
    * iterative loops keep their streamed adjacency pre-partitioned so
    * only the state side moves per round.
    */
  private[graft] def gatedBuild(spark: SparkSession, df: DataFrame, rows: Long): DataFrame =
    if (rows <= maxBroadcastRows(spark)) broadcast(df) else df.hint("shuffle_hash")

  /** Canonical (src < dst) co-purchase pairs with their co-occurrence
    * weight `w` = number of distinct orders carrying both parts —
    * memoized (`graph_wpairs` bench artifact). This is the ROOT of the
    * graph family: the unweighted edge set is its projection (the
    * grouping key IS the distinct pair set, so deriving `src, dst` from
    * it costs nothing extra over the old `distinct()`), and the
    * weight-thresholded graph the components/link-prediction entries
    * consume is a filter over it. The basket pass itself lives in
    * [[cachedEpochPairs]] (pairs expand map-side from per-order sorted
    * baskets, once, epoch-tagged); this is its epoch-sum projection.
    */
  def cachedWeightedPairs(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("graph_wpairs", dir)) {
      // every order belongs to exactly one epoch, so summing the
      // epoch-tagged counts equals counting over the whole fact table —
      // one pair-table-sized re-agg instead of a second basket pass
      cachedEpochPairs(spark, dir)
        .groupBy("src", "dst")
        .agg(sum(col("dw")).as("w"))
        .localCheckpoint(true)
    }

  /** Noise-thresholded graph: only edges whose endpoints co-occur in at
    * least `minW` distinct orders. One co-occurrence in a basket is
    * coincidence; repeated co-occurrence is signal — thresholding is
    * what fragments the (otherwise single-component) co-purchase giant
    * into meaningful clusters, the standard first step of a
    * recommendation / substitutes pipeline.
    */
  def thresholdedEdges(spark: SparkSession, dir: String, minW: Int = MinCoOrders): DataFrame =
    cachedWeightedPairs(spark, dir).filter(col("w") >= minW).select("src", "dst")

  /** Edges must repeat in this many distinct orders to survive the
    * threshold — 2 keeps the signal graph non-degenerate at every SF
    * (sf0.01: one 1860-part core + satellites; sf0.1: 2350 components).
    */
  val MinCoOrders = 2

  /** Undirected view of the thresholded signal graph plus its degree
    * table, memoized and checkpointed per (session, dir): six entries
    * (jaccard/bfs/closeness/kcore/assortativity/modularity) read the
    * same materialized adjacency instead of each re-unioning and
    * re-checkpointing it. (LPA keeps its own copy — it needs the edge
    * table pre-partitioned and CACHED on src for its exchange-free
    * rounds, which a checkpoint would forget under AQE.)
    */
  def cachedThresholdedBoth(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    graft.SessionCache.getOrElseUpdate(spark, ("graphThreshBoth", dir)) {
      val e = thresholdedEdges(spark, dir)
      val both = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint(true)
      (both, both.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .localCheckpoint(true))
    }

  /** (directed edge table `src, dst, sdeg`, degree table `node, deg`,
    * |V|) — memoized per (session, dir) and checkpointed: every
    * consumer reads the same materialized adjacency, and the builders
    * below are marginal costs over it. Both directions of each
    * undirected edge are materialized (PageRank pushes mass along both;
    * orientation for triangles filters half back out).
    */
  def cachedGraph(spark: SparkSession, dir: String): (DataFrame, DataFrame, Long) =
    graft.SessionCache.getOrElseUpdate(spark, ("graph", dir)) {
      val u = cachedWeightedPairs(spark, dir).select("src", "dst")
      val both = u.union(u.select(col("dst").as("src"), col("src").as("dst")))
      val deg = both.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
        .localCheckpoint(true)
      val n = deg.count()
      // deg is |V| rows — broadcast onto the edge list while it fits
      // the budget, co-partitioned shuffle join past it
      val edges = both
        .join(gatedBuild(spark, deg, n), col("src") === col("node"))
        .select(col("src"), col("dst"), col("deg").as("sdeg"))
        .localCheckpoint(true)
      (edges, deg, n)
    }

  /** PageRank over the co-purchase graph: `iters` synchronous power
    * iterations at damping 0.85 from a uniform start. Every node has
    * degree ≥ 1 by construction (it appears in some pair), so there is
    * no dangling mass and each iteration is exactly
    * r'(v) = (1-d)/N + d·Σ_{u→v} r(u)/deg(u).
    *
    * Output is the top `k` parts by `rank_ratio` = rank·N (1.0 = the
    * uniform-rank baseline — scale-free, so the 6-dp rounding keeps the
    * same precision at every corpus size). The (rank_ratio DESC,
    * part_id) order is total, making the LIMIT slice deterministic on
    * both engines; the oracle unrolls the same iterations as chained
    * CTEs.
    */
  def pageRank(spark: SparkSession, dir: String, iters: Int = 8, k: Int = 50): DataFrame =
    pageRankRanks(spark, dir, iters)
      .select(col("node").as("part_id"),
        round(col("rank") * col("n_nodes"), 6).as("rank_ratio"))
      .orderBy(col("rank_ratio").desc, col("part_id"))
      .limit(k)

  /** Full unrounded rank vector (node, rank, n_nodes) — the spec face
    * (mass conservation, the (1-d)/N floor) and the substrate of the
    * presentation slice above.
    */
  def pageRankRanks(spark: SparkSession, dir: String, iters: Int = 8): DataFrame = {
    val (edges0, deg, n) = cachedGraph(spark, dir)
    val bc = n <= maxBroadcastRows(spark)
    // past the broadcast budget the adjacency pre-partitions on src
    // ONCE (cached — an InMemoryRelation advertises its partitioning,
    // the LPA lesson), so each shuffle-face iteration exchanges only
    // the rank vector + the dst agg, never the edges
    val edges = if (bc) edges0 else cachedSrcEdges(spark, dir)
    var ranks = deg.select(col("node"), lit(1.0 / n.toDouble).as("rank"))
    // r17: checkpoint every SECOND iteration — each intermediate rank
    // vector has exactly ONE consumer (the next round's broadcast/SHJ
    // build), so skipping alternate materializations re-executes
    // nothing; it halves the checkpoint jobs while still truncating
    // lineage fast enough that the plan never exceeds two rounds.
    for (i <- 1 to iters) {
      val next = pageRankIter(edges, ranks, n, bc)
      ranks = if (i % 2 == 0 || i == iters) next.localCheckpoint(true) else next
    }
    ranks.withColumn("n_nodes", lit(n.toDouble))
  }

  /** The adjacency pre-partitioned on src and cached — built only when
    * the broadcast gate rejects the rank vector; shared by the pagerank
    * and ppr shuffle-face loops.
    */
  private def cachedSrcEdges(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("graphSrcEdges", dir)) {
      val e = cachedGraph(spark, dir)._1.repartition(col("src")).cache()
      e.count()
      e
    }

  /** One synchronous power iteration — contribution join + a single
    * dst-keyed aggregation (the plan shape PlanSpec locks). The rank
    * vector broadcasts on the default face; past the gate it arrives as
    * the build side of a co-partitioned shuffled hash join on src.
    */
  private[graft] def pageRankIter(edges: DataFrame, ranks: DataFrame, n: Long,
      broadcastRanks: Boolean = true): DataFrame =
    edges
      .join(if (broadcastRanks) broadcast(ranks) else ranks.hint("shuffle_hash"),
        col("src") === col("node"))
      .select(col("dst"), (col("rank") / col("sdeg").cast("double")).as("c"))
      .groupBy("dst")
      .agg(sum(col("c")).as("m"))
      .select(col("dst").as("node"),
        (lit(0.15 / n.toDouble) + lit(0.85) * col("m")).as("rank"))

  def pageRankSql: String = {
    val steps = (1 to 8).map { i =>
      s"""r$i AS (
         |  SELECT a.dst AS node,
         |    0.15/(SELECT n FROM nn) + 0.85*sum(r.rank/a.deg) AS rank
         |  FROM adj a JOIN r${i - 1} r ON r.node = a.src GROUP BY a.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |      FROM items a JOIN items b
       |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY src),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
       |adj AS (SELECT e.src, e.dst, d.deg FROM e JOIN deg d USING (src)),
       |r0 AS (SELECT src AS node, 1.0/(SELECT n FROM nn) AS rank FROM deg),
       |$steps
       |SELECT node AS part_id, round(rank * (SELECT n FROM nn), 6) AS rank_ratio
       |FROM r8 ORDER BY rank_ratio DESC, part_id LIMIT 50""".stripMargin
  }

  /** Personalized-PageRank seed count / iterations — small fixed
    * constants both engines unroll identically.
    */
  val PprSeeds = 10
  val PprIters = 6

  /** Personalized PageRank from a deterministic seed set (the
    * [[PprSeeds]] smallest part ids) — seed-based corpus expansion:
    * teleport mass returns to the SEEDS instead of uniformly, so the
    * stationary ranks measure proximity to a trusted set (the
    * link-graph analogue of "expand the curated seed corpus to
    * everything near it" that web-scale quality pipelines run before
    * content filters). r₀ = 1/|S| on seeds, 0 elsewhere;
    * r'(v) = 0.85·Σ_{u→v} r(u)/deg(u) + [v∈S]·0.15/|S| for
    * [[PprIters]] synchronous rounds. Output is the top `k` parts by
    * `ppr_ratio` = rank·N (uniform-PageRank scale, so 6-dp rounding
    * keeps precision at every corpus size), (ratio DESC, id) total
    * order.
    *
    * Scale design: identical shapes to [[pageRank]] — contribution
    * join against the broadcast rank vector, one dst-keyed partial
    * agg per round, plus a |S|-row broadcast left join for the
    * teleport term. At 100 TB the rank vector outgrows broadcast and
    * becomes a co-partitioned shuffle join on src; the seed join stays
    * a broadcast at any scale.
    */
  def personalizedPageRank(spark: SparkSession, dir: String,
      iters: Int = PprIters, k: Int = 50): DataFrame =
    pprRanks(spark, dir, iters)
      .select(col("node").as("part_id"),
        round(col("rank") * col("n_nodes"), 6).as("ppr_ratio"))
      .orderBy(col("ppr_ratio").desc, col("part_id"))
      .limit(k)

  /** Full unrounded PPR vector (node, rank, n_nodes) — the spec face
    * (mass conservation, the seed teleport floor) and the substrate of
    * the presentation slice above.
    */
  def pprRanks(spark: SparkSession, dir: String,
      iters: Int = PprIters): DataFrame = {
    val (edges0, deg, n) = cachedGraph(spark, dir)
    val bc = n <= maxBroadcastRows(spark)
    val edges = if (bc) edges0 else cachedSrcEdges(spark, dir)
    // r18 (guide §1.2/§2.4): the seed set is |S|=PprSeeds ids — collect
    // it once and inline the teleport term as a literal IN-list. The
    // old 10-row seed frame was re-BROADCAST every round (one
    // driver-blocking broadcast-build job per iteration plus the
    // checkpoint+count pair at init), and at bench SF this family is
    // job-latency-bound (8-core ratio 1.34). Same doubles, same rows:
    // the left join only attached the constant 0.15/|S| to seed rows,
    // which when(isin) attaches identically.
    val seedIds = deg.select("node").orderBy("node").limit(PprSeeds)
      .collect().map(_.getLong(0)).toIndexedSeq
    val nS = seedIds.length.toDouble
    var ranks = deg.select(col("node"),
        when(col("node").isin(seedIds: _*), lit(1.0 / nS))
          .otherwise(lit(0.0)).as("rank"))
      .localCheckpoint(true)
    // alternate-round checkpoints — the pageRankRanks rationale (one
    // consumer per intermediate, nothing re-executes)
    for (i <- 1 to iters) {
      val next = pprIter(edges, ranks, seedIds, nS, bc)
      ranks = if (i % 2 == 0 || i == iters) next.localCheckpoint(true) else next
    }
    ranks.withColumn("n_nodes", lit(n.toDouble))
  }

  /** One synchronous PPR round — [[pageRankIter]]'s contribution join
    * + dst agg (rank vector broadcast or gated shuffle face), with the
    * uniform teleport swapped for a literal seed IN-list (|S| is a
    * small fixed constant, so the teleport term is a driver literal at
    * any scale — no per-round seed broadcast).
    */
  private[graft] def pprIter(edges: DataFrame, ranks: DataFrame,
      seedIds: Seq[Long], nS: Double, broadcastRanks: Boolean = true): DataFrame =
    edges
      .join(if (broadcastRanks) broadcast(ranks) else ranks.hint("shuffle_hash"),
        col("src") === col("node"))
      .select(col("dst"), (col("rank") / col("sdeg").cast("double")).as("c"))
      .groupBy("dst")
      .agg(sum(col("c")).as("m"))
      .select(col("dst").as("node"),
        (lit(0.85) * col("m") +
          when(col("dst").isin(seedIds: _*), lit(0.15 / nS))
            .otherwise(lit(0.0))).as("rank"))

  def personalizedPageRankSql: String = {
    val steps = (1 to PprIters).map { i =>
      s"""r$i AS (
         |  SELECT m.node,
         |    0.85*m.m + CASE WHEN s.node IS NOT NULL THEN 0.15/(SELECT s FROM ns) ELSE 0.0 END AS rank
         |  FROM (SELECT a.dst AS node, sum(r.rank/a.deg) AS m
         |        FROM adj a JOIN r${i - 1} r ON r.node = a.src GROUP BY a.dst) m
         |  LEFT JOIN seeds s ON m.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |      FROM items a JOIN items b
       |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY src),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
       |adj AS (SELECT e.src, e.dst, d.deg FROM e JOIN deg d USING (src)),
       |seeds AS (SELECT src AS node FROM deg ORDER BY src LIMIT $PprSeeds),
       |ns AS (SELECT CAST(count(*) AS DOUBLE) AS s FROM seeds),
       |r0 AS (
       |  SELECT d.src AS node,
       |    CASE WHEN s.node IS NOT NULL THEN 1.0/(SELECT s FROM ns) ELSE 0.0 END AS rank
       |  FROM deg d LEFT JOIN seeds s ON d.src = s.node),
       |$steps
       |SELECT node AS part_id, round(rank * (SELECT n FROM nn), 6) AS ppr_ratio
       |FROM r$PprIters ORDER BY ppr_ratio DESC, part_id LIMIT 50""".stripMargin
  }

  /** HITS iterations — small fixed constant both engines unroll. */
  val HitsIters = 4

  /** Distinct customer→part purchase edges — the bipartite graph HITS
    * runs on, memoized per (session, dir). The orders→lineitem key
    * join and the distinct are each one shuffle; at 100 TB both sides
    * co-partition on orderkey and the distinct is the standard
    * pair-key exchange.
    */
  private[graft] def cachedBipartite(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("graphBipartite", dir)) {
      graft.Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
        .join(graft.Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
        .distinct()
        .localCheckpoint(true)
    }

  /** HITS hubs & authorities over the bipartite customer→part purchase
    * graph: authorities are parts bought by strong hub customers, hubs
    * are customers who buy authoritative parts — the mutual-
    * reinforcement ranking (Kleinberg's HITS) that surfaces which
    * items CARRY the graph rather than merely having high degree.
    * [[HitsIters]] synchronous rounds; after every half-step the side
    * is L1-normalized and expressed as the scale-free ratio score·n
    * (mean 1.0), 6-dp-quantized so both engines fold bit-identical
    * score tables forward (the k-means/PageRank determinism rule).
    * Output: top `k` per side as (side, id, score), (side, score DESC,
    * id) total order.
    *
    * Scale design: each half-step is a broadcast join of the current
    * |side|-row score vector onto the edge table plus ONE key-partial
    * agg, and the normalizer is a 1-row broadcast — the PageRank
    * shapes on a bipartite graph. At 100 TB the score vectors outgrow
    * broadcast and become co-partitioned joins on the edge keys.
    */
  def hits(spark: SparkSession, dir: String,
      iters: Int = HitsIters, k: Int = 20): DataFrame = {
    val (auth, hub) = hitsScores(spark, dir, iters)
    val topA = auth.select(lit("auth").as("side"), col("part").as("id"), col("s").as("score"))
      .orderBy(col("score").desc, col("id")).limit(k)
    val topH = hub.select(lit("hub").as("side"), col("cust").as("id"), col("s").as("score"))
      .orderBy(col("score").desc, col("id")).limit(k)
    topA.unionAll(topH).orderBy(col("side"), col("score").desc, col("id"))
  }

  /** Full (auth, hub) ratio-score vectors after `iters` rounds — the
    * spec face (normalization mass, round-1 degree proportionality).
    */
  private[graft] def hitsScores(spark: SparkSession, dir: String,
      iters: Int = HitsIters): (DataFrame, DataFrame) = {
    val e = cachedBipartite(spark, dir)
    // side cardinalities + the uniform h⁰ vector are per-dir constants:
    // memoized so repeat calls skip three edge-volume distincts (~30%
    // of a warm run at sf1 went to re-deriving them every call)
    val (nP, nC, hub0) = graft.SessionCache.getOrElseUpdate(
      spark, ("graphBipartiteMeta", dir)) {
      val h0 = e.select(col("cust")).distinct()
        .withColumn("s", lit(1.0)).localCheckpoint(true)
      (e.select("part").distinct().count().toDouble, h0.count().toDouble, h0)
    }
    var hub = hub0
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      // each half-step's score vector is side-sized — broadcast while
      // it fits the budget, co-partitioned shuffled hash join past it.
      // Checkpoint the UNNORMALIZED aggregate: the normalizer consumes
      // its input twice, so checkpointing after the normalize (the
      // pre-r15 shape) ran every edge join + agg twice per half-step.
      // r18 (guide §1.2/§2.4): the Σr normalizer rides the checkpoint
      // job itself as an OBSERVED metric instead of a separate 1-row
      // broadcast agg — that agg was one extra driver-blocking job per
      // half-step (8 per run), and at bench SF this family is
      // job-latency-bound (8-core ratio ≈ 0.8). The normalize is then
      // a pure literal projection over the checkpoint. Same addends in
      // both forms (the checkpointed r values); addition order is
      // nondeterministic in both (accumulator merge vs shuffle fetch) —
      // oracle-hash-certified across SFs like every other double sum.
      val oA = Observation()
      val ra = e.join(gatedBuild(spark, hub, nC.toLong), "cust")
        .groupBy("part").agg(sum(col("s")).as("r"))
        .observe(oA, sum(col("r")).as("t"))
        .localCheckpoint(true)
      auth = ratioNormalize(ra, oA.get("t").asInstanceOf[Double], nP)
      val oH = Observation()
      val rh = e.join(gatedBuild(spark, auth, nP.toLong), "part")
        .groupBy("cust").agg(sum(col("s")).as("r"))
        .observe(oH, sum(col("r")).as("t"))
        .localCheckpoint(true)
      hub = ratioNormalize(rh, oH.get("t").asInstanceOf[Double], nC)
    }
    (auth, hub)
  }

  /** r → round(r/t · n, 6): L1-normalize to the mean-1.0 ratio scale
    * and quantize. `t` = Σr arrives as a driver literal (observed on
    * the aggregate's own checkpoint job), never a collect of data rows.
    */
  private def ratioNormalize(scored: DataFrame, t: Double, n: Double): DataFrame = {
    val keyCol = scored.columns.head
    scored.select(col(keyCol), round(col("r") / lit(t) * lit(n), 6).as("s"))
  }

  def hitsSql: String = {
    // every CTE is MATERIALIZED and referenced through a window-function
    // normalizer (sum(r) OVER ()) — a scalar-subquery formulation makes
    // each level reference its predecessor twice, which DuckDB's CTE
    // inlining expands into an exponential plan
    val steps = (1 to HitsIters).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT part, round(r / sum(r) OVER () * (SELECT n FROM np), 6) AS s
         |  FROM (SELECT e.part, sum(h.s) AS r FROM e JOIN h${i - 1} h USING (cust) GROUP BY e.part) t),
         |h$i AS MATERIALIZED (
         |  SELECT cust, round(r / sum(r) OVER () * (SELECT n FROM nc), 6) AS s
         |  FROM (SELECT e.cust, sum(a.s) AS r FROM e JOIN a$i a USING (part) GROUP BY e.cust) t)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |np AS MATERIALIZED (SELECT CAST(count(DISTINCT part) AS DOUBLE) AS n FROM e),
       |nc AS MATERIALIZED (SELECT CAST(count(DISTINCT cust) AS DOUBLE) AS n FROM e),
       |h0 AS MATERIALIZED (SELECT DISTINCT cust, 1.0 AS s FROM e),
       |$steps
       |SELECT * FROM (
       |  (SELECT 'auth' AS side, part AS id, s AS score FROM a$HitsIters ORDER BY s DESC, part LIMIT 20)
       |  UNION ALL
       |  (SELECT 'hub' AS side, cust AS id, s AS score FROM h$HitsIters ORDER BY s DESC, cust LIMIT 20))
       |ORDER BY side, score DESC, id""".stripMargin
  }

  /** Random-walk length (hops) — small fixed constant. */
  val WalkSteps = 3

  /** Checkpoint preserving the physical plan's output partitioning
    * AND within-partition ordering: `localCheckpoint` records both into
    * the LogicalRDD, but under AQE the un-executed adaptive plan reads
    * back as UnknownPartitioning and every downstream join re-exchanges
    * the frame. AQE is disabled for just the checkpoint job (a static
    * single-exchange plan AQE cannot improve) and restored after. The
    * walk adjacency and [[BucketedWeightState]]'s generations share it.
    */
  private[graft] def ckptKeepLayout(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val k = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(k)
    spark.conf.set(k, "false")
    try df.localCheckpoint(true)
    finally spark.conf.set(k, prev)
  }

  /** DeepWalk-style random-walk corpus over the co-purchase graph: one
    * [[WalkSteps]]-hop walk per start node, the next hop drawn from the
    * current node's dst-ranked adjacency by a deterministic md5 coin on
    * (start_id, step) — the stratified_sample coin recipe, so the
    * "random" walk replays bit-for-bit in both engines while keeping
    * the statistical mixing a DeepWalk/node2vec embedding trainer
    * needs. Output is the walk corpus (start_id, step, node_id) —
    * exactly the sentence-shaped input skip-gram graph-embedding
    * training consumes.
    *
    * Scale design: the adjacency is aggregated ONCE into per-node
    * sorted neighbor ARRAYS (¦V¦ rows carrying ¦E¦ longs — one edge
    * shuffle, checkpointed because every hop joins it), and each hop is
    * ONE node-keyed equi-join of the frontier against those ¦V¦ rows
    * with the coin-selected neighbor read by element_at — the ¦V¦-row
    * join sides replace the r11 formulation's ¦E¦-row ranked-edge join
    * per hop. The walk PATH rides the frontier row as an array, so the
    * whole corpus is ONE linear plan — no per-hop checkpoint and no
    * K-way union (the r11 formulation checkpointed every hop and
    * unioned all K frontiers; at K=3 the materialization cost more
    * than it truncated — the "checkpoint what is consumed twice" rule:
    * here nothing is consumed twice, so only [[cachedWalks]]'s final
    * corpus materializes). The inner join never truncates a walk:
    * [[cachedGraph]] symmetrizes, so every reachable node has out-
    * degree ≥ 1. All-integer arithmetic — no float anywhere,
    * hash-certified without any rounding rule.
    */
  def randomWalks(spark: SparkSession, dir: String,
      steps: Int = WalkSteps): DataFrame = {
    val (edges, deg, _) = cachedGraph(spark, dir)
    // sorted neighbor array per node: element_at(nbrs, coin % deg + 1)
    // IS the dst-ranked pick the oracle replays (deg = ¦nbrs¦ — the
    // same edge rows aggregate into both).
    // r18 (guide §2.1 "remove shuffles outright"): checkpoint keeping
    // the groupBy's hashpartitioning(anode) (AQE off for just the
    // checkpoint job — see ckptKeepLayout),
    // so every hop's shuffled-hash join exchanges ONLY the narrow
    // frontier: the ¦V¦-row side dragging the full ¦E¦-long neighbor
    // arrays previously re-shuffled on EVERY hop (3× per walk build).
    val adj = ckptKeepLayout(edges.groupBy(col("src").as("anode"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs")))
    var cur = deg.select(col("node").as("start_id"), col("node"),
      array(col("node")).as("path"))
    for (t <- 1 to steps) {
      val coin = conv(substring(
        md5(concat(col("start_id").cast("string"), lit(s"_$t"))), 1, 8), 16, 10)
        .cast("long")
      cur = cur
        // r17 (guide §3.1): SHUFFLE_HASH with the frontier as the
        // build side — the default SortMergeJoin re-SORTED the
        // adjacency (|V| rows dragging the full |E|-long neighbor
        // arrays through sort buffers) on EVERY hop; hashing the
        // narrow frontier rows (start_id, node, ≤steps-long path)
        // streams the fat arrays sort-free. Build-side mass is
        // |V|/partitions rows of ≤4 longs per task — bounded at any
        // scale where the walk corpus itself is feasible.
        .hint("shuffle_hash")
        .join(adj, col("node") === col("anode"))
        .withColumn("nxt", element_at(col("nbrs"),
          (coin % size(col("nbrs")) + lit(1L)).cast("int")))
        .select(col("start_id"), col("nxt").as("node"),
          concat(col("path"), array(col("nxt"))).as("path"))
    }
    // no presentation sort here: [[cachedWalks]] materializes this frame
    // and its main consumer (skip-grams) is order-free — the driver face
    // sorts AFTER the cache, so the artifact never pays a global sort
    cur.select(col("start_id"), posexplode(col("path")).as(Seq("step", "node_id")))
  }

  /** Skip-gram context window (hops either side of the center). */
  val SkipgramWindow = 2

  /** The walk corpus memoized per (session, dir) — the walk face and
    * the skip-gram face read one materialization.
    */
  private[graft] def cachedWalks(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("graphWalks", dir))(
      randomWalks(spark, dir).localCheckpoint(true))

  /** (center, context) training pairs from the certified walk corpus —
    * the [[SkipgramWindow]]-window co-occurrence extraction that turns
    * walks into the skip-gram example stream DeepWalk/node2vec
    * actually optimizes over, aggregated to (center_id, context_id,
    * n_pairs) counts.
    *
    * Scale design: the self-join is start_id-keyed (both sides the
    * same materialized walk table — co-partitioned, ≤ (L+1)² rows per
    * key map-side) and the pair aggregation partials; an alternative
    * zero-join form collects each walk into its L+1-element array and
    * emits combinations map-side, but the certified join form shuffles
    * the same volume and stays declarative.
    */
  def walkSkipgrams(spark: SparkSession, dir: String): DataFrame = {
    val w = cachedWalks(spark, dir)
    w.as("a").join(w.as("b"),
        col("a.start_id") === col("b.start_id") &&
        col("a.step") =!= col("b.step") &&
        abs(col("a.step") - col("b.step")) <= SkipgramWindow)
      .groupBy(col("a.node_id").as("center_id"), col("b.node_id").as("context_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("center_id", "context_id")
  }

  /** PMI over the walk skip-gram pairs — by the Levy–Goldberg result,
    * skip-gram-with-negative-sampling factorizes (a shifted) PMI
    * matrix, so this table IS the graph-embedding substrate the walk
    * corpus exists to produce: pmi(c,x) = ln(n_cx·N / (n_c·n_x)) over
    * the certified pair counts, top 50 strongest associations with
    * pair support ≥ 2 (singleton pairs are pure walk noise). All
    * inputs are exact integers; ln + 4 dp is the token_pmi precedent —
    * this is exactly [[graft.functions.TextFunctions]]' token PMI
    * applied to the walk corpus instead of text.
    *
    * Scale design: marginals are two dims-scale aggs over the pair
    * table broadcast back; the fold adds nothing data-sized beyond
    * the skip-gram extraction it composes.
    */
  def walkPmi(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val pairs = walkSkipgrams(spark, dir)
    val cm = pairs.groupBy("center_id").agg(sum(col("n_pairs")).as("n_c"))
    val xm = pairs.groupBy("context_id").agg(sum(col("n_pairs")).as("n_x"))
    val tot = pairs.agg(sum(col("n_pairs")).as("nn"))
    pairs.filter(col("n_pairs") >= 2)
      .join(broadcast(cm), "center_id")
      .join(broadcast(xm), "context_id")
      .crossJoin(broadcast(tot))
      .select(col("center_id"), col("context_id"), col("n_pairs"),
        round(log(col("n_pairs").cast("double") * col("nn")
          / (col("n_c") * col("n_x")).cast("double")), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("center_id"), col("context_id"))
      .limit(k)
  }

  def walkPmiSql: String =
    s"""$walkCtes,
       |pairs AS MATERIALIZED (
       |  SELECT a.node AS center_id, b.node AS context_id,
       |    CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM walks a JOIN walks b
       |    ON a.start_id = b.start_id AND a.step <> b.step
       |    AND abs(a.step - b.step) <= $SkipgramWindow
       |  GROUP BY 1, 2),
       |cm AS (SELECT center_id, CAST(sum(n_pairs) AS BIGINT) AS n_c FROM pairs GROUP BY 1),
       |xm AS (SELECT context_id, CAST(sum(n_pairs) AS BIGINT) AS n_x FROM pairs GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS nn FROM pairs)
       |SELECT p.center_id, p.context_id, p.n_pairs,
       |  round(ln(CAST(p.n_pairs AS DOUBLE) * tot.nn / CAST(cm.n_c * xm.n_x AS DOUBLE)), 4) AS pmi
       |FROM pairs p JOIN cm USING (center_id) JOIN xm USING (context_id), tot
       |WHERE p.n_pairs >= 2
       |ORDER BY pmi DESC, p.center_id, p.context_id LIMIT 50""".stripMargin

  /** The shared WITH-chain producing the `walks(start_id, step, node)`
    * CTE — one definition serving both the walk-corpus face and the
    * skip-gram pair face.
    */
  /** Degree histogram of the co-purchase graph — the first diagnostic
    * any graph workload reads before planning: the hub tail decides
    * whether joins need salting, what DOULION sampling rate the
    * triangle tier can afford (wedge mass is Σdeg²), and how skewed the
    * per-key state of every iterative face will be. (degree, n_nodes)
    * rows over the shared symmetrized graph.
    *
    * Scale design: degrees are already materialized in [[cachedGraph]]'s
    * ¦V¦-row table; the histogram is one dims-scale aggregation over it
    * — nothing corpus-sized moves.
    */
  def degreeDistribution(spark: SparkSession, dir: String): DataFrame = {
    val (_, deg, _) = cachedGraph(spark, dir)
    deg.groupBy(col("deg").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")
  }

  /** The walk oracle's graph CTEs reduced to the degree rollup. */
  val degreeDistributionSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |d AS (SELECT src, CAST(count(*) AS BIGINT) AS degree FROM e GROUP BY src)
      |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
      |FROM d GROUP BY degree ORDER BY degree""".stripMargin

  private def walkCtes: String = {
    val steps = (1 to WalkSteps).map { i =>
      s"""w$i AS MATERIALIZED (
         |  SELECT w.start_id, a.dst AS node
         |  FROM w${i - 1} w JOIN radj a ON a.src = w.node
         |    AND a.rk = ('0x' || substr(md5(CAST(w.start_id AS VARCHAR) || '_$i'), 1, 8))::UBIGINT % a.deg + 1)""".stripMargin
    }.mkString(",\n")
    val union = (0 to WalkSteps).map { i =>
      s"SELECT start_id, CAST($i AS INTEGER) AS step, node FROM w$i"
    }.mkString("\n  UNION ALL ")
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |radj AS MATERIALIZED (
       |  SELECT src, dst,
       |    CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg,
       |    CAST(row_number() OVER (PARTITION BY src ORDER BY dst) AS BIGINT) AS rk
       |  FROM e),
       |w0 AS (SELECT DISTINCT src AS start_id, src AS node FROM e),
       |$steps,
       |walks AS MATERIALIZED (
       |  $union)""".stripMargin
  }

  def randomWalksSql: String =
    s"""$walkCtes
       |SELECT start_id, step, node AS node_id FROM walks
       |ORDER BY start_id, step""".stripMargin

  def walkSkipgramsSql: String =
    s"""$walkCtes
       |SELECT a.node AS center_id, b.node AS context_id,
       |  CAST(count(*) AS BIGINT) AS n_pairs
       |FROM walks a JOIN walks b
       |  ON a.start_id = b.start_id AND a.step <> b.step
       |  AND abs(a.step - b.step) <= $SkipgramWindow
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Orientation key: (deg << 32) | node — longs sort exactly as the
    * (deg, node) lexicographic order the degree orientation needs.
    */
  private def okey(deg: Column, node: Column): Column =
    shiftleft(deg, NodeBits) + node

  /** Per-node triangle participation counts, top `k` by (count DESC,
    * part_id). Exact — every unordered node triple carrying all three
    * edges is found exactly once via the degree-ordered DAG (edges
    * a→b→c with a<b<c in (deg, id) order), and each found triangle
    * credits all three corners. The oracle counts the same triangles
    * under plain id-orientation — per-node counts are
    * orientation-invariant, so the engines must agree row-for-row while
    * the Spark side keeps the skew-defeating orientation.
    *
    * Plan shape is the EDGE ITERATOR with sorted-adjacency
    * intersection: each oriented edge (a→b) fetches both endpoints'
    * sorted out-neighbor arrays from a broadcast adjacency map and
    * computes N⁺(a) ∩ N⁺(b) with a native `array_intersect` — the
    * Θ(Σ min-degree) wedge mass is pure columnar compute INSIDE one
    * projection, never a row stream (the previous wedge-explode +
    * broadcast-semi-probe shape paid per-wedge row overhead on 83M
    * wedges at sf0.1; this one emits only 2 + ¦common¦ credit rows per
    * closing edge, i.e. Θ(triangles), into the single count shuffle).
    * At 100 TB the adjacency outgrows broadcast and the same two
    * fetches become co-partitioned shuffle joins on the okey; the
    * intersection stays map-side either way.
    */
  /** Exact total triangle count of an undirected canonical pair frame
    * (src < dst) — the same degree-oriented wedge machinery as
    * [[triangleCounts]] reduced to its scalar: orient by (degree, id),
    * expand sorted out-neighbor arrays map-side, sum the intersection
    * sizes. One number out; the substrate of the DOULION tier.
    */
  private[graft] def triangleTotal(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val both = pairs.select(col("src"), col("dst"))
      .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    val deg = both.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val nV = deg.count()
    val ore = both
      .join(gatedBuild(spark, deg, nV), col("src") === col("node"))
      .select(col("src"), col("dst"), col("deg").as("sdeg"))
      .join(gatedBuild(spark, deg.withColumnRenamed("node", "n2"), nV),
        col("dst") === col("n2"))
      .select(okey(col("sdeg"), col("src")).as("sk"),
        okey(col("deg"), col("dst")).as("dk"))
      .filter(col("sk") < col("dk"))
      .localCheckpoint(true)
    // the adjacency payload is |E| longs — gate on edge mass, not rows
    val nE = ore.count()
    val adj = ore.groupBy(col("sk").as("node_key"))
      .agg(sort_array(collect_list(col("dk"))).as("nbrs"))
    ore
      .join(gatedBuild(spark, adj, nE), col("sk") === col("node_key"))
      .select(col("sk"), col("dk"), col("nbrs").as("na"))
      .join(gatedBuild(spark, adj, nE), col("dk") === col("node_key"))
      .select(size(array_intersect(col("na"), col("nbrs"))).cast("long").as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("n_triangles"))
  }

  /** DOULION-style approximate triangle count — the scale tier of
    * [[triangleCounts]]: sample each undirected edge independently
    * with probability p via a deterministic salted md5 coin (the
    * `stratified_sample` coin discipline, so the sparsification is
    * replayable), count triangles EXACTLY on the sparsified graph with
    * the same oriented-wedge machinery, scale by 1/p³ (each triangle
    * survives with probability p³). Wedge mass shrinks ~p² and edge
    * volume ~p, which is the whole point at 100 TB where the exact
    * face's Σoutdeg² wedge expansion is the steepest certified cost in
    * the roster (7.3× per 10× data). Tsourakakis et al.'s estimator is
    * unbiased; the spec asserts p=100% degenerates to the exact count,
    * multi-salt mean convergence, and single-coin concentration.
    * Oracle-certified: [[triangleCountApproxSql]] replays the coin and
    * the sparsified exact count verbatim.
    *
    * Ref behavior generalized: sulfur1c/spark-streaming-with-debezium
    * has no graph ops; this extends the repo's co-purchase analytics
    * family along SURVEY §2's scale-tier discipline
    * (profile_columns_approx shadowing profile_columns).
    */
  def triangleCountApprox(spark: SparkSession, dir: String,
      pPct: Int = 25, salt: Int = 0): DataFrame = {
    val pairs = cachedWeightedPairs(spark, dir).select("src", "dst")
    val sampled = pairs.filter(
      conv(substring(md5(concat_ws(":", col("src"), col("dst"),
        lit(salt))), 1, 8), 16, 10).cast("long") % 100 < pPct)
    val p = pPct / 100.0
    triangleTotal(sampled)
      .select(lit(pPct).as("p_pct"),
        col("n_triangles").as("n_sampled"),
        round(col("n_triangles") / lit(p * p * p), 0).cast("long")
          .as("est_triangles"))
  }

  def triangleCounts(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val (edges, deg, n) = cachedGraph(spark, dir)
    // orient each edge from its lower (deg, id) endpoint; sdeg rides
    // the edge row, the dst degree arrives from the gated degree table
    val ore = edges
      .join(gatedBuild(spark, deg, n), col("dst") === col("node"))
      .select(okey(col("sdeg"), col("src")).as("sk"),
        okey(col("deg"), col("dst")).as("dk"))
      .filter(col("sk") < col("dk"))
      .localCheckpoint(true) // feeds the adjacency build AND the edge scan
    // sorted out-neighbor okey arrays, keyed by okey — ¦V¦ rows
    // carrying ¦E¦ longs total, the build side of both fetches; the
    // payload is edge mass, so the gate reads the oriented-edge count
    val nE = ore.count()
    val adj = ore.groupBy(col("sk").as("node_key"))
      .agg(sort_array(collect_list(col("dk"))).as("nbrs"))
    // common = N⁺(a) ∩ N⁺(b): every element closes one triangle.
    // Inner joins are exact: a's adjacency contains b so sk is always
    // present, and a dk with no out-edges closes nothing.
    val withCommon = ore
      .join(gatedBuild(spark, adj, nE), col("sk") === col("node_key"))
      .select(col("sk"), col("dk"), col("nbrs").as("na"))
      .join(gatedBuild(spark, adj, nE), col("dk") === col("node_key"))
      .select(col("sk"), col("dk"),
        array_intersect(col("na"), col("nbrs")).as("common"))
      .filter(size(col("common")) > 0)
    // one credit stream: a and b earn ¦common¦ each, every c earns 1
    withCommon
      .select(explode(concat(
        array(
          struct(col("sk").bitwiseAND(lit(NodeMask)).as("p"),
            size(col("common")).cast("long").as("c")),
          struct(col("dk").bitwiseAND(lit(NodeMask)).as("p"),
            size(col("common")).cast("long").as("c"))),
        transform(col("common"),
          x => struct(x.bitwiseAND(lit(NodeMask)).as("p"), lit(1L).as("c")))))
        .as("cr"))
      .groupBy(col("cr.p").as("part_id"))
      .agg(sum(col("cr.c")).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("part_id"))
      .limit(k)
  }

  /** Per-epoch canonical pair counts (epoch, src, dst, dw) — the shared
    * substrate of the graph *_maintain entries (`graph_epochs` bench
    * artifact): each order belongs to exactly one order-date epoch, so
    * ONE basket pass tags orders with their epoch, pairs expand
    * map-side once, and every epoch's delta frame is a filter over the
    * checkpointed result. Without this the two maintain entries each
    * re-derived all four epoch pair tables from the fact join —
    * measured 4× the substrate cost per entry at sf0.1.
    */
  def cachedEpochPairs(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("graph_epochs", dir)) {
      val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
      val ordEpoch = Tables.orders(spark, dir)
        .select(col("o_orderkey"),
          when(year(col("o_orderdate")) <= 1996, 0)
            .when(year(col("o_orderdate")) === 1997, 1)
            .when(year(col("o_orderdate")) === 1998, 2)
            .otherwise(3).as("epoch"))
      li.join(ordEpoch, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(first(col("epoch")).as("epoch"),
          sort_array(collect_set(col("l_partkey"))).as("parts"))
        .filter(size(col("parts")) >= 2)
        .select(col("epoch"),
          explode(graft.dedup.Dedup.postingPairs(col("parts"))).as("pr"))
        // pack (epoch, src, dst) into ONE long group key — epoch < 4,
        // ids < 2^31 (the NodeBits invariant), so (epoch<<62)|(src<<31)
        // |dst is injective; the count's partial-agg hash and the
        // exchange then carry 8-byte keys instead of 3 columns (the
        // pair family's packed-payload discipline)
        .select((shiftleft(col("epoch").cast("long"), 62)
          .bitwiseOR(shiftleft(col("pr.id_a"), 31))
          .bitwiseOR(col("pr.id_b"))).as("k"))
        .groupBy("k").agg(count(lit(1)).as("dw"))
        .select(shiftrightunsigned(col("k"), 62).cast("int").as("epoch"),
          shiftrightunsigned(col("k"), 31).bitwiseAND(lit((1L << 31) - 1)).as("src"),
          col("k").bitwiseAND(lit((1L << 31) - 1)).as("dst"),
          col("dw"))
        .localCheckpoint(true)
    }

  /** The four epoch boundaries both maintain entries fold over. */
  val NumEpochs = 4

  /** Incrementally MAINTAINED degree table — the IVM discipline of the
    * cdc_*_maintain family applied to graph topology, where the
    * maintained object is a SET (the edge list), not an additive count:
    * order history arrives as four order-date epochs, each epoch's
    * basket pairs fold into the [[BucketedWeightState]], whose merge
    * probe carries every touched key's OLD weight — so the set-novelty
    * check (an edge seen in an earlier epoch must not count again) is
    * the free predicate `w0 = 0` on the merge output, and ONLY the
    * genuinely-new edges' endpoints fold into the degree state via the
    * same full-outer merge the CDC aggregates use.
    *
    * Per-epoch cost is Θ(new baskets) plus the dirty-bucket weight
    * merge (a keyed index probe at scale, co-partitioned on the
    * canonical (src, dst) key — untouched buckets are never read or
    * rewritten); the fold NEVER rescans history or recomputes a
    * degree from scratch, and no Θ(|E|) edge-set materialization ever
    * runs (the r10 version checkpointed the whole accumulated set
    * every epoch). The oracle
    * computes the batch degrees straight from the full fact table, so
    * the four-epoch incremental composition must land on exactly the
    * recompute-from-scratch answer — the maintained == batch
    * certification every *_maintain entry carries.
    */
  private def degOf(delta: DataFrame): DataFrame = delta
    .select(col("src").as("node"))
    .union(delta.select(col("dst").as("node")))
    .groupBy("node").agg(count(lit(1)).as("deg"))

  private def degPlus(deg: DataFrame, fresh: DataFrame): DataFrame =
    // the CDC merge shape: full-outer on the key, coalesced addition
    deg.select(col("node"), col("deg"))
      .join(degOf(fresh).select(col("node"), col("deg").as("d2")),
        Seq("node"), "full_outer")
      .select(col("node"),
        (coalesce(col("deg"), lit(0L)) + coalesce(col("d2"), lit(0L))).as("deg"))

  /** The maintained state AFTER folding epochs 0..NumEpochs-2, memoized
    * per (session, dir) and surfaced as the `graph_degree_state` bench
    * artifact: (flattened bucketed weight frame, degree table), both
    * checkpointed. Splitting the prefix out makes the driver entry's
    * bench number the TRUE per-epoch marginal (one dirty-bucket merge +
    * one degree fold) instead of a NumEpochs-long certification replay
    * — the cdc_upsert_sink attribution pattern. The prefix itself still
    * folds epoch-by-epoch through [[BucketedWeightState]], so the
    * maintain machinery is exercised end-to-end and GraphSpec's
    * maintained == batch certification covers the full composition.
    */
  private[graft] def cachedDegreePrefix(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    graft.SessionCache.getOrElseUpdate(spark, ("graph_degree_prefix", dir)) {
      val all = cachedEpochPairs(spark, dir)
      // the maintained edge set IS the support of the bucketed weight
      // state: the merge probe carries each touched key's old weight,
      // so "genuinely new edge" is the free predicate w0 = 0 — the
      // novelty anti-join and the Θ(|E|) per-epoch edge-set checkpoint
      // both disappear into the dirty-bucket merge the cc fold pays
      val st = new BucketedWeightState(
        all.filter(col("epoch") === 0).select("src", "dst", "dw"))
      var deg = degOf(st.w0)
      for (i <- 1 until NumEpochs - 1) {
        st.merge(all.filter(col("epoch") === i).select("src", "dst", "dw"))
          .foreach { merged =>
            deg = degPlus(deg,
              merged.filter(col("w0") === 0L && col("dw") > 0L).select("src", "dst"))
          }
      }
      val wFlat = flattenWeightState(st).localCheckpoint(true)
      (wFlat, deg.localCheckpoint(true))
    }

  /** Flatten a [[BucketedWeightState]] to its CURRENT (b,src,dst,w)
    * rows — the generations are additive deltas, so the flat state is
    * the per-key SUM across them (a key folded n times has n rows in
    * the log; reading any single generation as "the weight" would be
    * wrong, and a dw<=0 delta only nets out under the sum). This is
    * the state log's COMPACTION, paid once when a consumer persists
    * the flat state, never per epoch — and because every generation
    * checkpoint is hash-co-partitioned AND sorted on (src, dst), it
    * folds as a chain of full-outer MERGE joins with zero exchanges
    * and zero sorts (a union+groupBy would re-shuffle the whole state:
    * UnionExec forgets its children's partitioning).
    */
  private[graft] def flattenWeightState(st: BucketedWeightState): DataFrame =
    st.generations.zipWithIndex
      .map { case (g, i) =>
        g.select(col("src"), col("dst"), col("b").as(s"_b$i"), col("w").as(s"_w$i"))
      }
      .reduce { (a, c) => a.hint("merge").join(c, Seq("src", "dst"), "full_outer") }
      .select(
        coalesce(st.generations.indices.map(i => col(s"_b$i")): _*).as("b"),
        col("src"), col("dst"),
        st.generations.indices.map(i => coalesce(col(s"_w$i"), lit(0L)))
          .reduce(_ + _).as("w"))
      .select("b", "src", "dst", "w")

  def degreeMaintain(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val (wPrefix, degPrefix) = cachedDegreePrefix(spark, dir)
    // fold the LAST epoch against the frozen prefix — the same
    // dirty-bucket full-outer merge shape as BucketedWeightState.merge,
    // inlined read-only so repeated calls never double-fold
    val last = cachedEpochPairs(spark, dir)
      .filter(col("epoch") === NumEpochs - 1).select("src", "dst", "dw")
      .withColumn("b", wBucketOf(col("src"), col("dst")))
    val dirty = last.select("b").distinct().collect().map(_.getInt(0)).toSeq.sorted
    val deg =
      if (dirty.isEmpty) degPrefix
      else {
        val dirtyW = wPrefix.filter(col("b").isin(dirty.map(Integer.valueOf): _*))
        val merged = dirtyW.join(last, Seq("b", "src", "dst"), "full_outer")
          .select(col("src"), col("dst"),
            coalesce(col("w"), lit(0L)).as("w0"),
            coalesce(col("dw"), lit(0L)).as("dw"))
        degPlus(degPrefix,
          merged.filter(col("w0") === 0L && col("dw") > 0L).select("src", "dst"))
      }
    deg.select(col("node").as("part_id"), col("deg").as("degree"))
      .orderBy(col("degree").desc, col("part_id"))
      .limit(k)
  }

  val degreeMaintainSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |u AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |      FROM items a JOIN items b
      |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |d AS (SELECT node, count(*) AS degree FROM (
      |        SELECT src AS node FROM u UNION ALL SELECT dst FROM u)
      |      GROUP BY node)
      |SELECT node AS part_id, degree
      |FROM d ORDER BY degree DESC, part_id LIMIT 20""".stripMargin

  /** Connected components of the weight-thresholded co-purchase graph:
    * every part labeled with the smallest part id reachable through
    * ≥[[MinCoOrders]]-co-order edges, plus the component size — the
    * cluster assignment a substitutes/recommendation pipeline runs
    * after thresholding away coincidence edges (the unthresholded
    * graph is a single giant component at every SF, so the threshold
    * is what makes components informative).
    *
    * Reuses the dedup family's adaptive component machinery
    * ([[graft.dedup.Dedup.dedupClusters]]): a signal-edge set within
    * the broadcast bound is labeled with one driver-side union-find +
    * a single broadcast join over the node universe (zero iterative
    * jobs — any distributed scheme would re-ship exactly these edges
    * per round); beyond the bound it switches to the alternating
    * large-star/small-star contraction (O(log²) rounds regardless of
    * diameter, plain hash-agg + co-partitioned joins over the edge
    * set). Parts with no surviving edge are their own singleton
    * components. The oracle recomputes the same labeling as a
    * transitive closure (recursive CTE), so a component split or merge
    * anywhere hash-mismatches.
    */
  def connectedComponents(spark: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.part(spark, dir).select(col("p_partkey").as("doc_id"))
    val pairs = thresholdedEdges(spark, dir)
      .select(col("src").as("id_a"), col("dst").as("id_b"))
    graft.dedup.Dedup.dedupClusters(nodes, pairs)
      .select(col("doc_id").as("part_id"),
        col("cluster_id").as("component_id"),
        col("cluster_size").as("component_size"))
  }

  val connectedComponentsSql: String =
    """WITH RECURSIVE items AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |w AS (SELECT a.l_partkey AS s, b.l_partkey AS d
      |      FROM items a JOIN items b
      |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |e AS (SELECT s AS a, d AS b FROM w UNION ALL SELECT d, s FROM w),
      |reach(n, r) AS (
      |  SELECT p_partkey, p_partkey FROM part
      |  UNION
      |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.n),
      |labels AS (SELECT n AS part_id, min(r) AS component_id FROM reach GROUP BY n),
      |cs AS (SELECT component_id, count(*) AS component_size
      |       FROM labels GROUP BY component_id)
      |SELECT part_id, component_id, component_size
      |FROM labels JOIN cs USING (component_id)
      |ORDER BY part_id""".stripMargin

  /** Link prediction by neighborhood Jaccard over the thresholded
    * graph: for every non-adjacent part pair sharing at least two
    * common neighbors, |N(b)∩N(c)| / |N(b)∪N(c)| — the classic "parts
    * bought with the same things are substitutes" score; top `k` by
    * (score, pair). The two-witness support floor mirrors the edge
    * threshold: one shared partner is coincidence, not signal.
    *
    * Plan shape is the triangle family's: common-neighbor candidates
    * expand MAP-SIDE as wedge pairs from sorted adjacency arrays
    * (never an edge self-join shuffle), the only post-expansion
    * exchange is the (b, c) count aggregation with map-side partials;
    * degrees and the adjacency-exclusion set are |V|- and |E|-sized
    * broadcasts. At 100 TB the wedge mass is bounded the same way
    * triangles bound it (degree-ordered orientation caps out-degrees
    * near O(√E)); here the thresholded graph is sparse by construction
    * so plain adjacency suffices.
    */
  def neighborhoodJaccard(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val e = thresholdedEdges(spark, dir)
    val (both, deg) = cachedThresholdedBoth(spark, dir)
    val nV = deg.count()
    val nE = e.count()
    val wedges = both
      .groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .filter(size(col("nbrs")) >= 2)
      .select(explode(graft.dedup.Dedup.postingPairs(col("nbrs"))).as("pr"))
      .select(col("pr.id_a").as("b"), col("pr.id_b").as("c"))
      .groupBy("b", "c")
      .agg(count(lit(1)).as("n_common"))
      // one shared partner is the same coincidence the edge threshold
      // removes; demand two independent witnesses before scoring
      .filter(col("n_common") >= 2)
    val adjacent = e.select((shiftleft(col("src"), NodeBits) + col("dst")).as("bc"))
    wedges
      .join(gatedBuild(spark, adjacent, nE),
        shiftleft(col("b"), NodeBits) + col("c") === col("bc"), "left_anti")
      .join(gatedBuild(spark, deg, nV), col("b") === col("node"))
      .select(col("b"), col("c"), col("n_common"), col("deg").as("deg_b"))
      .join(gatedBuild(spark, deg, nV), col("c") === col("node"))
      .select(col("b").as("part_a"), col("c").as("part_b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("deg_b") + col("deg") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("part_a"), col("part_b"))
      .limit(k)
  }

  val neighborhoodJaccardSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |w AS (SELECT a.l_partkey AS s, b.l_partkey AS d
      |      FROM items a JOIN items b
      |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |e AS (SELECT s AS a, d AS b FROM w UNION ALL SELECT d, s FROM w),
      |deg AS (SELECT a AS node, count(*) AS deg FROM e GROUP BY a),
      |wed AS (SELECT e1.b AS b, e2.b AS c, count(*) AS n_common
      |        FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
      |        GROUP BY 1, 2),
      |nonadj AS (
      |  SELECT wed.* FROM wed LEFT JOIN w ON w.s = wed.b AND w.d = wed.c
      |  WHERE w.s IS NULL AND wed.n_common >= 2)
      |SELECT b AS part_a, c AS part_b, n_common,
      |  round(CAST(n_common AS DOUBLE) / CAST(db.deg + dc.deg - n_common AS DOUBLE), 6) AS jaccard
      |FROM nonadj JOIN deg db ON db.node = b JOIN deg dc ON dc.node = c
      |ORDER BY jaccard DESC, part_a, part_b LIMIT 50""".stripMargin

  /** Incrementally MAINTAINED connected components of the thresholded
    * graph — three IVM layers composed, each reusing a discipline the
    * engine already certifies:
    *
    *  1. co-occurrence WEIGHTS are additive state: per-epoch pair
    *     counts fold into the maintained weight table via the CDC
    *     full-outer coalesced merge (the `cdc_agg_maintain` shape);
    *  2. the qualified edge SET is a monotone threshold view over the
    *     weights: an edge enters when its cumulative count crosses
    *     [[MinCoOrders]] — ΔE is computable from the EPOCH's touched
    *     keys alone (old weight < threshold ≤ new weight), the
    *     keyed-probe novelty check of `graph_degree_maintain`;
    *  3. component LABELS only ever merge (weights never decrease, so
    *     edges never leave): ΔE contracts through the current labeling
    *     to super-edges — bounded by ¦ΔE¦, never by ¦V¦ — and the
    *     union-find over THOSE yields a relabel map (old label → new
    *     min) that broadcasts back over the label table. Every node
    *     enters self-labeled, and merges take the min, so the
    *     maintained label is the component min — exactly the batch
    *     labeling, which is why [[connectedComponentsSql]] certifies
    *     this entry verbatim (maintained == batch, hash-checked).
    *
    * Per-epoch cost: Θ(epoch pairs) + one keyed probe of the weight
    * table + a ¦ΔE¦-bounded contraction + one broadcast relabel join.
    * No epoch ever reruns CC on the full graph or rescans edge
    * history. At 100 TB the weight table lives in a bucketed sink and
    * the probe touches dirty buckets only (the
    * [[graft.streaming.StreamingDegreeMaintainJob]] machinery); the
    * contracted super-edge set stays ¦ΔE¦-bounded regardless of graph
    * size because it rides the labeling, not the topology.
    */
  def ccMaintain(spark: SparkSession, dir: String): DataFrame = {
    val all = cachedEpochPairs(spark, dir)
    ccMaintainFold(spark,
      (0 until NumEpochs).map(i =>
        all.filter(col("epoch") === i).select("src", "dst", "dw")),
      Tables.part(spark, dir).select(col("p_partkey").as("part_id")))
  }

  /** Weight-state buckets for the maintain fold's dirty-bucket merge
    * (hash(src,dst) % WBuckets). At 100 TB this is the partition count
    * of the bucketed state sink; here it sizes the per-epoch rewrite
    * granularity the spec locks.
    */
  val WBuckets = 16

  private def wBucketOf(src: Column, dst: Column): Column =
    pmod(hash(src, dst), lit(WBuckets))

  /** Component-label an edge frame, returning (node, comp) with comp =
    * component-min id. Gated the same way [[graft.dedup.Dedup
    * .dedupClusters]] gates: a bounded limit-probe collects edge sets
    * within the broadcast budget and labels them with the exact driver
    * union-find (zero iterative jobs — ONE action for gate+payload
    * instead of dedupClusters' checkpoint+count+collect chain, which
    * this fold used to pay per epoch); anything larger stays fully
    * distributed via the alternating-star contraction. Unlike
    * dedupClusters this never touches a node universe — maintain-fold
    * callers only need labels for edge ENDPOINTS.
    */
  private[graft] def ccLabelPairs(spark: SparkSession, pairs: DataFrame,
      gate: Int = 1000000): DataFrame = {
    import spark.implicits._
    val canon = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val probe = canon.limit(gate + 1).collect()
    if (probe.length <= gate) {
      graft.dedup.Dedup.unionFindLabels(
        probe.map(r => (r.getLong(0), r.getLong(1))))
        .map { case (node, comp, _) => (node, comp) }
        .toDF("node", "comp")
    } else {
      val nodes = canon.select(col("u").as("doc_id"))
        .union(canon.select(col("v").as("doc_id"))).distinct()
      graft.dedup.Dedup.dedupClustersStar(nodes,
        canon.select(col("u").as("id_a"), col("v").as("id_b")))
        .select(col("doc_id").as("node"), col("cluster_id").as("comp"))
    }
  }

  /** The maintain family's bucketed ADDITIVE-GENERATION weight state.
    * The state lives as generations — checkpointed (b, src, dst, w)
    * frames, newest first, every one hash-co-partitioned AND
    * within-partition-sorted on the (src, dst) key — and a key's
    * current weight is the SUM of its rows across generations.
    * [[merge]] folds a delta by appending ONE Δ-sized generation;
    * existing generations are never read into a rewrite, so per-epoch
    * checkpoint I/O is Θ(|Δ|), not Θ(|W|), and the probe that attaches
    * each touched key's old weight is a chain of co-partitioned
    * merge joins that cross ZERO exchanges and ZERO sorts on the
    * state side (only the Δ is exchanged + sorted, once, and SMJ
    * spills gracefully under memory pressure — see
    * [[mergeProbePlan]]). (The r17 decade
    * probe measured the previous disjoint-bucket full-outer design at
    * exponent 1.18 sf1→sf10: with uniformly hashed keys every epoch
    * dirties every bucket, so "rewrite dirty buckets only" degenerated
    * to 4 shuffles + rewrites of the full 120 M-row state.) This is
    * the log-structured delta-file discipline of the production
    * `ParquetUpsertSink`: at 100 TB the generations are the state
    * sink's delta files and compaction folds them back to one; here
    * [[NumEpochs]] bounds the list at 4. Shared by [[ccMaintain]]
    * (weights → threshold view → labels) and [[degreeMaintain]] (the
    * maintained edge SET is the state's support: a key is new iff its
    * old weight is zero, so the set-novelty anti-join is free on the
    * merge probe).
    */
  private[graft] final class BucketedWeightState(init: DataFrame) {
    /** Key co-partitioning width, pinned at construction from the
      * MEASURED init mass (≈100k rows per partition, cap 4096) — an
      * EXPLICIT count so AQE cannot coalesce one side out of
      * co-partition alignment, derived from the data rather than the
      * local core count (guide §2): ~50k-row partitions keep every
      * per-task unit (the Δ sort, the merge-join buffers, the
      * checkpoint blocks) a few MB at any scale, and the count grows
      * with the state instead of pinning a local-mode constant. The
      * sizing count is one read-only job over the (already
      * checkpointed) delta substrate, paid once per state
      * construction. Floor 2, not 1: a 1-partition keyed repartition
      * plans as SinglePartition, which this session's planner refuses
      * to reuse for the merge-join co-partition (it re-exchanges BOTH
      * sides to the conf width — measured at sf0.01); any width ≥ 2
      * keeps the HashPartitioning(src, dst) form the join recognizes.
      */
    private[graft] val statePartitions: Int =
      math.min(4096L, math.max(2L, init.count() / 50000L)).toInt
    private def keyed(df: DataFrame): DataFrame =
      df.repartition(statePartitions, col("src"), col("dst"))
        .sortWithinPartitions("src", "dst")

    private[graft] val w0 = ckptKeepLayout(keyed(init
      .select(col("src"), col("dst"), col("dw").as("w"))
      .withColumn("b", wBucketOf(col("src"), col("dst")))))
    /** Additive generations, newest first (weights SUM across them). */
    private[graft] var generations: List[DataFrame] = List(w0)
    /** Buckets the most recent delta touched (all, at init). */
    var lastDirty: Set[Int] = (0 until WBuckets).toSet

    /** The un-checkpointed Δ-sized probe plan: one co-partitioned
      * MERGE join per generation attaches that generation's weight
      * contribution to each touched key; w0 is their sum. Every
      * generation checkpoint carries HashPartitioning(src, dst) AND
      * the within-partition (src, dst) sort order (localCheckpoint
      * records both from the physical plan — see [[ckptKeepLayout]]),
      * so the SortMergeJoins need NO exchange and NO sort on the state
      * side: the state streams, the Δ is exchanged + sorted exactly
      * once, and each join's output keeps the key order for the next.
      * SMJ rather than a shuffled-hash probe because the probe must
      * survive memory pressure at any scale: SMJ spills gracefully,
      * while the Δ-side hash builds of the first r18 design
      * (~150k rows × NumEpochs coexisting maps per task) died with
      * SparkOutOfMemoryError inside the loaded 8 GB bench JVM at sf1 —
      * an UnsafeHashedRelation cannot spill by construction.
      */
    private[graft] def mergeProbePlan(d0: DataFrame): DataFrame = {
      val d = keyed(d0.select(col("src"), col("dst"), col("dw"))
        .withColumn("b", wBucketOf(col("src"), col("dst"))))
      val withGens = generations.zipWithIndex.foldLeft(d) {
        case (acc, (g, i)) =>
          acc.hint("merge")
            .join(g.select(col("src"), col("dst"), col("w").as(s"_w$i")),
              Seq("src", "dst"), "left")
      }
      withGens.select(col("b"), col("src"), col("dst"),
        generations.indices.map(i => coalesce(col(s"_w$i"), lit(0L)))
          .reduce(_ + _).as("w0"),
        col("dw"))
    }

    /** Fold one (src, dst, dw) delta. Returns the epoch's Δ-sized
      * merged probe frame (b, src, dst, w0, dw) — old cumulative
      * weight and increment per TOUCHED key, the one materialization
      * both the threshold test and the novelty test read — or None for
      * an empty delta. (The pre-r18 disjoint-bucket probe also carried
      * untouched cohashed keys with dw = 0; no consumer can select
      * those — the threshold-crossing predicate needs dw ≠ 0 and the
      * novelty predicate tests dw > 0 — so the Δ-only probe is
      * consumer-identical.)
      */
    def merge(d0: DataFrame): Option[DataFrame] = {
      def t[T](l: String)(f: => T): T = {
        if (!sys.env.contains("SPARK_GRAFT_CC_DEBUG")) f
        else {
          val t0 = System.nanoTime(); val r = f
          println(f"CCMERGE $l ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
        }
      }
      // AQE-off checkpoint: the probe's LeftOuter hash join carries the
      // Δ side's HashPartitioning(src, dst) through to the output, and
      // the appended generation must read it back (see ckptKeepLayout)
      val merged = t("ckpt")(ckptKeepLayout(mergeProbePlan(d0)))
      val dirty = t("dirty")(
        merged.select("b").distinct().collect().map(_.getInt(0)).toSet)
      lastDirty = dirty
      if (dirty.isEmpty) return None
      // the new generation is a projection of the Δ-sized probe
      // checkpoint — no further materialization, partitioning intact
      generations ::= merged.select(col("b"), col("src"), col("dst"),
        col("dw").as("w"))
      Some(merged)
    }
  }

  /** The cc-maintain fold's mutable state: the [[BucketedWeightState]]
    * weight layer plus the component-label layer.
    */
  private[graft] final class CcMaintainState(spark: SparkSession, init: DataFrame,
      gate: Int = 1000000) {
    private[graft] val weights = new BucketedWeightState(init)
    private def w0 = weights.w0
    private[graft] def generations = weights.generations
    def lastDirty: Set[Int] = weights.lastDirty

    import spark.implicits._

    /** Label state, dual-mode behind the same broadcast-budget gate the
      * contraction machinery already certifies: while every crossing
      * edge batch fits the gate, the labeling is a driver-resident map
      * folded with the exact union-find — labels cross the wire only
      * when an epoch's ΔE is collected (already gated) and once at the
      * end, so an epoch pays ZERO label-side Spark jobs. The first
      * epoch that overflows the gate spills the map into a checkpointed
      * DataFrame and every later epoch runs the fully distributed
      * contraction (self-label fresh endpoints → contract ΔE through
      * the labeling → alternating-star merge → broadcast relabel).
      * Both modes produce the component-min labeling; the spec forces
      * the spill with a tiny gate and asserts bit-equality.
      */
    private[graft] var driverLabels: scala.collection.mutable.HashMap[Long, Long] = _
    private[graft] var labelsDF: DataFrame = _

    locally {
      val e0 = w0.filter(col("w") >= MinCoOrders).select("src", "dst")
      val probe = e0.limit(gate + 1).collect()
      if (probe.length <= gate) {
        driverLabels = scala.collection.mutable.HashMap.empty
        foldCrossedDriver(probe.map(r => (r.getLong(0), r.getLong(1))))
      } else {
        labelsDF = ccLabelPairs(spark,
          e0.select(col("src").as("id_a"), col("dst").as("id_b")), gate)
          .localCheckpoint(true)
      }
    }

    /** The current labeling as a frame — a local relation in driver
      * mode (no job), the checkpointed table after a spill.
      */
    def labels: DataFrame =
      if (driverLabels ne null) driverLabels.toSeq.toDF("node", "comp")
      else labelsDF

    /** Fold one batch of threshold-crossing edges into the driver map:
      * self-label fresh endpoints, contract through the labeling,
      * union-find the contracted label graph, remap. O(|ΔE| + |labels|)
      * driver-side per call.
      */
    private def foldCrossedDriver(edges: Array[(Long, Long)]): Unit = {
      edges.foreach { case (u, v) =>
        driverLabels.getOrElseUpdate(u, u)
        driverLabels.getOrElseUpdate(v, v)
      }
      val contracted = edges
        .map { case (u, v) => (driverLabels(u), driverLabels(v)) }
        .filter { case (a, c) => a != c }
      if (contracted.nonEmpty) {
        val moves = graft.dedup.Dedup.unionFindLabels(contracted)
          .collect { case (x, c, _) if c != x => x -> c }.toMap
        if (moves.nonEmpty)
          driverLabels.mapValuesInPlace((_, c) => moves.getOrElse(c, c))
      }
    }

    /** Spill driver-mode labels into the distributed table (the gate
      * overflowed) — one-way door.
      */
    private def spillLabels(): Unit = {
      labelsDF = labels.repartition(col("node")).localCheckpoint(true)
      driverLabels = null
    }

    /** Fold one epoch's (src, dst, dw) delta through the three IVM
      * layers: dirty-bucket weight merge → threshold-crossing ΔE →
      * label contraction.
      */
    def applyEpoch(d0: DataFrame): Unit = {
      def t[T](l: String)(f: => T): T = {
        if (!sys.env.contains("SPARK_GRAFT_CC_DEBUG")) f
        else {
          val t0 = System.nanoTime(); val r = f
          println(f"CCSTAGE $l ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
        }
      }
      // layers 1+2 FUSED, dirty buckets only: the one full-outer merge
      // probe serves BOTH the threshold-crossing test (old w < thr ≤
      // old w + dw — touched keys only, dw null elsewhere) and the
      // additive merge. No delta checkpoint: epoch frames are trivial
      // filters over the already-checkpointed substrate.
      val mergedOpt = t("merge")(weights.merge(d0))
      if (mergedOpt.isEmpty) return
      val crossed = mergedOpt.get
        .filter(col("w0") < MinCoOrders && col("w0") + col("dw") >= MinCoOrders)
        .select("src", "dst")
      // layer 3: fold ΔE into the labeling — driver mode while gated,
      // distributed after a spill
      if (driverLabels ne null) {
        val probe = t("crossedCollect")(crossed.limit(gate + 1).collect())
        if (probe.length <= gate && driverLabels.size <= gate) {
          foldCrossedDriver(probe.map(r => (r.getLong(0), r.getLong(1))))
          return
        }
        spillLabels()
      }
      // distributed path: self-label new endpoints, contract ΔE through
      // the labeling, merge — bounded by ¦ΔE¦
      val ends = crossed.select(col("src").as("node"))
        .union(crossed.select(col("dst").as("node"))).distinct()
      val fresh = ends.join(labelsDF, Seq("node"), "left_anti")
        .select(col("node"), col("node").as("comp"))
      val labAll = labelsDF.unionByName(fresh)
      // contract ΔE through the labeling (keyed joins — AQE broadcasts
      // the small crossed side; at scale the labels side is the big one
      // and must NOT be hinted into a broadcast)
      val la = labAll.withColumnRenamed("node", "src").withColumnRenamed("comp", "ca")
      val lb = labAll.withColumnRenamed("node", "dst").withColumnRenamed("comp", "cb")
      val contracted = crossed.join(la, "src").join(lb, "dst")
        .filter(col("ca") =!= col("cb"))
        .select(col("ca").as("id_a"), col("cb").as("id_b"))
      // the super-node merge rides the same gated machinery as epoch 0;
      // the relabel map is component-count-sized (≤ ¦ΔE¦) → broadcast
      val moves = t("ccLabelPairs")(ccLabelPairs(spark, contracted, gate))
        .filter(col("node") =!= col("comp"))
        .select(col("node").as("comp"), col("comp").as("to"))
      labelsDF = t("labelsCkpt")(labAll.join(broadcast(moves), Seq("comp"), "left")
        .select(col("node"), coalesce(col("to"), col("comp")).as("comp"))
        .localCheckpoint(true))
    }
  }

  /** The three-layer epoch fold — takes per-epoch (src, dst, dw) delta
    * frames and the node universe so the spec can drive hand-built
    * epoch sequences through the REAL maintenance path.
    */
  private[graft] def ccMaintainFold(spark: SparkSession,
      epochFrames: Seq[DataFrame], universe: DataFrame,
      gate: Int = 1000000): DataFrame = {
    val state = new CcMaintainState(spark, epochFrames.head, gate)
    epochFrames.tail.foreach(state.applyEpoch)
    val labels = state.labels
    // universe join: every part, singletons self-labeled (graph_cc contract)
    val sizes = labels.groupBy("comp").agg(count(lit(1)).as("csize"))
    universe
      .join(labels.select(col("node").as("part_id"), col("comp")), Seq("part_id"), "left")
      .join(broadcast(sizes), Seq("comp"), "left")
      .select(col("part_id"),
        coalesce(col("comp"), col("part_id")).as("component_id"),
        coalesce(col("csize"), lit(1L)).as("component_size"))
      .orderBy("part_id")
  }

  /** Maintained == batch: the same transitive-closure oracle as
    * [[connectedComponentsSql]] certifies the epoch fold verbatim. */
  val ccMaintainSql: String = connectedComponentsSql

  /** BFS levels capped at this many hops — both engines cap
    * identically, so the histogram is deterministic. 6 covers the
    * thresholded giant component's useful neighborhood at every SF
    * while keeping the level fold at a fixed job count.
    */
  val MaxBfsHops = 6

  /** Breadth-first hop-distance histogram from the graph's hub (the
    * highest-degree node of the weight-thresholded graph, ties to the
    * smallest id): for each hop level 0..[[MaxBfsHops]], how many
    * parts are first reached at that level, with min/max part id as
    * the level fingerprint. The "how local is the catalog around its
    * hub" diagnostic a recommendation pipeline reads before choosing
    * walk lengths; unreached parts (other components / beyond the cap)
    * are excluded by construction.
    *
    * Plan: classic synchronous frontier expansion, kept as per-level
    * Δ-SIZED frontier checkpoints (r18 — the [[BucketedWeightState]]
    * write discipline applied to BFS): level h materializes ONLY its
    * frontier, never the growing visited union, so per-level
    * checkpoint I/O is Θ(frontier) instead of Θ(visited) (the pre-r18
    * shape re-wrote the whole visited set every level — Σ_h |V_≤h|
    * write amplification, the same pattern the decade probe measured
    * superlinear on cc_maintain). The novelty anti-join reads the
    * union of the frontier checkpoints (the read is inherent — every
    * BFS must test against everything seen); the hop label is a
    * per-frame literal attached AFTER the checkpoints, so it is never
    * stored. At 100 TB frontier/edges co-partition on node so the
    * expand+probe is a local shuffle-join pipeline; the histogram is a
    * ¦levels¦-row aggregate. The oracle recomputes levels as min-hop
    * over a capped recursive closure.
    */
  def bfsHops(spark: SparkSession, dir: String): DataFrame = {
    val (both, deg) = cachedThresholdedBoth(spark, dir)
    var frontiers = List(deg.orderBy(col("deg").desc, col("node")).limit(1)
      .select(col("node"))
      .localCheckpoint(true))
    for (_ <- 1 to MaxBfsHops) {
      val next = frontiers.head
        .join(both, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(frontiers.reduce(_ unionByName _), Seq("node"), "left_anti")
      frontiers ::= next.localCheckpoint(true)
    }
    frontiers.reverse.zipWithIndex
      .map { case (f, h) => f.withColumn("hop", lit(h)) }
      .reduce(_ unionByName _)
      .groupBy("hop")
      .agg(count(lit(1)).as("n_parts"),
        min("node").as("min_part"), max("node").as("max_part"))
      .orderBy("hop")
  }

  val bfsHopsSql: String =
    """WITH RECURSIVE items AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |w AS (SELECT a.l_partkey AS s, b.l_partkey AS d
      |      FROM items a JOIN items b
      |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |e AS (SELECT s AS a, d AS b FROM w UNION ALL SELECT d, s FROM w),
      |deg AS (SELECT a AS node, count(*) AS deg FROM e GROUP BY a),
      |hub AS (SELECT node FROM deg ORDER BY deg DESC, node LIMIT 1),
      |reach(node, hop) AS (
      |  SELECT node, 0 FROM hub
      |  UNION
      |  SELECT e.b, reach.hop + 1 FROM reach JOIN e ON e.a = reach.node
      |  WHERE reach.hop < 6),
      |lab AS (SELECT node, min(hop) AS hop FROM reach GROUP BY node)
      |SELECT hop, count(*) AS n_parts, min(node) AS min_part, max(node) AS max_part
      |FROM lab GROUP BY hop ORDER BY hop""".stripMargin

  /** Closeness + harmonic centrality for the top-[[ClosenessSeeds]]
    * hub nodes — the centrality family [[bfsHops]]'s single-source
    * frontier fold does not cover. One MULTI-source BFS keyed
    * (seed, node) runs all seeds in the same [[MaxBfsHops]] epochs (the
    * per-epoch frontier join and novelty anti-join are shared — S
    * seeds cost one traversal, not S), then per-seed closeness
    * (reached/Σhop, the Wasserman–Faust within-reach form) and harmonic
    * centrality (Σ 1/hop — the disconnection-robust variant that needs
    * no giant-component assumption) roll up in one aggregation. Hop
    * cap = the bfs face's: at 100 TB the frontier tables bucket by
    * (seed, node) hash exactly like the single-source fold.
    */
  val ClosenessSeeds = 5

  def closeness(spark: SparkSession, dir: String): DataFrame = {
    val (both, deg) = cachedThresholdedBoth(spark, dir)
    val seeds = deg.orderBy(col("deg").desc, col("node")).limit(ClosenessSeeds)
      .select(col("node").as("seed"))
    // Δ-sized per-level frontier checkpoints (see bfsHops) — the
    // multi-source fold writes Θ(frontier) per level, never the
    // growing (seed, node) visited union, and the hop label is a
    // per-frame literal attached after the checkpoints
    var frontiers = List(seeds
      .select(col("seed"), col("seed").as("node"))
      .localCheckpoint(true))
    for (_ <- 1 to MaxBfsHops) {
      val next = frontiers.head
        .join(both, col("node") === col("src"))
        .select(col("seed"), col("dst").as("node")).distinct()
        .join(frontiers.reduce(_ unionByName _), Seq("seed", "node"), "left_anti")
      frontiers ::= next.localCheckpoint(true)
    }
    val visited = frontiers.reverse.zipWithIndex
      .map { case (f, h) => f.withColumn("hop", lit(h)) }
      .reduce(_ unionByName _)
    visited.groupBy("seed")
      .agg((count(lit(1)) - lit(1L)).as("n_reached"),
        max("hop").as("max_hop"),
        sum("hop").as("sum_hops"),
        round(sum(when(col("hop") > 0, lit(1.0) / col("hop")).otherwise(lit(0.0))), 4)
          .as("harmonic"),
        round((count(lit(1)) - lit(1L)).cast("double") / sum("hop"), 4).as("closeness"))
      .orderBy("seed")
  }

  val closenessSql: String =
    """WITH RECURSIVE items AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |w AS (SELECT a.l_partkey AS s, b.l_partkey AS d
      |      FROM items a JOIN items b
      |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |e AS (SELECT s AS a, d AS b FROM w UNION ALL SELECT d, s FROM w),
      |deg AS (SELECT a AS node, count(*) AS deg FROM e GROUP BY a),
      |seeds AS (SELECT node AS seed FROM deg ORDER BY deg DESC, node LIMIT 5),
      |reach(seed, node, hop) AS (
      |  SELECT seed, seed, 0 FROM seeds
      |  UNION
      |  SELECT reach.seed, e.b, reach.hop + 1 FROM reach JOIN e ON e.a = reach.node
      |  WHERE reach.hop < 6),
      |lab AS (SELECT seed, node, min(hop) AS hop FROM reach GROUP BY 1, 2)
      |SELECT seed, CAST(count(*) - 1 AS BIGINT) AS n_reached,
      |  max(hop) AS max_hop,
      |  CAST(sum(hop) AS BIGINT) AS sum_hops,
      |  round(sum(CASE WHEN hop > 0 THEN CAST(1.0 AS DOUBLE) / hop ELSE 0.0 END), 4) AS harmonic,
      |  round(CAST(count(*) - 1 AS DOUBLE) / sum(hop), 4) AS closeness
      |FROM lab GROUP BY seed ORDER BY seed""".stripMargin

  /** Sampled-source Brandes parameters: BFS from the
    * [[BetweennessSeeds]] highest-degree hubs, shortest paths
    * truncated at [[BetweennessHops]] hops. 4 hops keeps the oracle's
    * recursive closure tractable while covering the thresholded
    * graph's useful neighborhood.
    */
  val BetweennessSeeds = 5
  val BetweennessHops = 4

  /** Sampled-source betweenness centrality (truncated Brandes) over
    * the thresholded co-purchase graph — the "who brokers the flow"
    * centrality the closeness/PageRank family doesn't measure: a node
    * scores by the fraction of (depth-≤[[BetweennessHops]]) shortest
    * paths from the seed set that pass THROUGH it. Exact Brandes from
    * every node is Θ(V·E); the standard scale form is source
    * sampling, here with deterministic seeds (top-degree, ties to
    * smaller id) so both engines run the identical computation:
    * forward multi-source BFS accumulating path counts σ (integers —
    * exact), then the backward dependency recursion
    * δ(v) = Σ_{w∈succ(v)} σ(v)/σ(w)·(1+δ(w)) unrolled level by level.
    * Output: top `k` brokers by round(Σ_seeds δ, 4).
    *
    * Scale design: the forward pass is the [[closeness]] multi-source
    * frontier fold (one traversal for all seeds, (seed, node)-keyed
    * joins, checkpoint per level); the backward pass is one
    * level-keyed join per hop — 2·[[BetweennessHops]] bounded jobs
    * total. At 100 TB sources batch exactly like closeness seeds.
    */
  def betweenness(spark: SparkSession, dir: String, k: Int = 30): DataFrame = {
    val (both, deg) = cachedThresholdedBoth(spark, dir)
    val seeds = deg.orderBy(col("deg").desc, col("node")).limit(BetweennessSeeds)
      .select(col("node").as("seed"))
    // forward: per-level Δ-sized frontier checkpoints of
    // (seed, node, sigma) — see bfsHops; the level index IS the frame
    // index, so the backward pass reads each level directly instead of
    // filtering the full visited set three times per level
    var frontiers = Vector(seeds
      .select(col("seed"), col("seed").as("node"), lit(1L).as("sigma"))
      .localCheckpoint(true))
    for (_ <- 1 to BetweennessHops) {
      val next = frontiers.last
        .join(both, col("node") === col("src"))
        .select(col("seed"), col("dst"), col("sigma"))
        .join(frontiers.map(_.select(col("seed"), col("node").as("dst")))
          .reduce(_ unionByName _), Seq("seed", "dst"), "left_anti")
        .groupBy("seed", "dst")
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("seed"), col("dst").as("node"), col("sigma"))
      frontiers :+= next.localCheckpoint(true)
    }
    // backward: δ per level, deepest level pinned to 0
    def level(h: Int) = frontiers(h)
    var delta = level(BetweennessHops).select(col("seed"), col("node"), lit(0.0).as("delta"))
    val perLevel = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (h <- BetweennessHops - 1 to 1 by -1) {
      val deeper = level(h + 1)
        .join(delta, Seq("seed", "node"))
        .select(col("seed"), col("node").as("w"),
          col("sigma").as("wsig"), col("delta").as("wdelta"))
      val contrib = level(h)
        .join(both, col("node") === col("src"))
        .join(deeper.withColumnRenamed("w", "dst"), Seq("seed", "dst"))
        .groupBy("seed", "node")
        .agg(sum((col("sigma").cast("double") / col("wsig"))
          * (lit(1.0) + col("wdelta"))).as("delta"))
      delta = level(h).select("seed", "node")
        .join(contrib, Seq("seed", "node"), "left")
        .na.fill(0.0, Seq("delta"))
        .localCheckpoint(true)
      perLevel += delta
    }
    perLevel.reduce(_ unionByName _)
      .groupBy("node")
      .agg(round(sum(col("delta")), 4).as("betweenness"))
      .filter(col("betweenness") > 0)
      .orderBy(col("betweenness").desc, col("node"))
      .limit(k)
  }

  def betweennessSql: String = {
    val sigmaLevels = (1 to BetweennessHops).map { h =>
      s"""s$h AS MATERIALIZED (
         |  SELECT l.seed, l.node, CAST(sum(p.sigma) AS BIGINT) AS sigma
         |  FROM lab l JOIN e ON e.b = l.node
         |  JOIN s${h - 1} p ON p.seed = l.seed AND p.node = e.a
         |  WHERE l.hop = $h GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val deltaLevels = (BetweennessHops - 1 to 1 by -1).map { h =>
      val deeperDelta =
        if (h == BetweennessHops - 1) "0.0" else s"dw.delta"
      val deeperJoin =
        if (h == BetweennessHops - 1) ""
        else s"\n  LEFT JOIN d${h + 1} dw ON dw.seed = v.seed AND dw.node = ws.node"
      s"""d$h AS MATERIALIZED (
         |  SELECT v.seed, v.node,
         |    coalesce(sum(CAST(v.sigma AS DOUBLE) / ws.sigma * (1.0 + $deeperDelta)), 0.0) AS delta
         |  FROM s$h v
         |  LEFT JOIN e ON e.a = v.node
         |  LEFT JOIN s${h + 1} ws ON ws.seed = v.seed AND ws.node = e.b$deeperJoin
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val union = (1 to BetweennessHops - 1)
      .map(h => s"SELECT node, delta FROM d$h").mkString(" UNION ALL ")
    s"""WITH RECURSIVE items AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |w AS (SELECT a.l_partkey AS s, b.l_partkey AS d
       |      FROM items a JOIN items b
       |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(*) >= 2),
       |e AS (SELECT s AS a, d AS b FROM w UNION ALL SELECT d, s FROM w),
       |deg AS (SELECT a AS node, count(*) AS deg FROM e GROUP BY a),
       |seeds AS (SELECT node AS seed FROM deg ORDER BY deg DESC, node LIMIT $BetweennessSeeds),
       |reach(seed, node, hop) AS (
       |  SELECT seed, seed, 0 FROM seeds
       |  UNION
       |  SELECT reach.seed, e.b, reach.hop + 1 FROM reach JOIN e ON e.a = reach.node
       |  WHERE reach.hop < $BetweennessHops),
       |lab AS MATERIALIZED (SELECT seed, node, min(hop) AS hop FROM reach GROUP BY 1, 2),
       |s0 AS (SELECT seed, seed AS node, CAST(1 AS BIGINT) AS sigma FROM seeds),
       |$sigmaLevels,
       |$deltaLevels
       |SELECT node, round(sum(delta), 4) AS betweenness
       |FROM ($union)
       |GROUP BY node
       |HAVING round(sum(delta), 4) > 0
       |ORDER BY betweenness DESC, node LIMIT 30""".stripMargin
  }

  /** Peeling parameters for [[kcore]]: nodes need ≥ [[KCoreK]]
    * surviving neighbors, and both engines run EXACTLY [[KCoreRounds]]
    * synchronous peel rounds (converged rounds are no-ops, so the
    * fixed count is deterministic without a driver-side convergence
    * probe; measured across all three SFs the 2-core settles within 6
    * rounds — the thresholded graph's tree fringe is shallow). k = 2
    * is the cycle core: the sf0.1 threshold graph is sparse enough
    * that its 3-core is empty, so 2 keeps the entry non-degenerate at
    * every SF while still peeling every tree and chain.
    */
  val KCoreK = 2
  val KCoreRounds = 6

  /** The k-core of the thresholded co-purchase graph: the maximal
    * subgraph where every part retains ≥ k signal-edge neighbors,
    * computed by synchronous peeling (drop all sub-k nodes, recount,
    * repeat) — the dense-cluster extractor a recommendation pipeline
    * runs to separate stable substitute groups from chains and
    * satellites that the plain connected components keep. Output is
    * every surviving part with its within-core degree.
    *
    * Plan: each round is one degree aggregation (map-side partials)
    * plus two semi-joins of the edge list against the ¦V¦-row
    * survivor set (broadcast here; co-partitioned at scale), with the
    * shrinking edge set checkpointed per round — cost is Θ(current
    * edges) per round and the round count is fixed. The oracle unrolls
    * the identical rounds as chained CTEs, so one node peeled or kept
    * wrongly in any round hash-mismatches the final core.
    */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    val (both, _) = cachedThresholdedBoth(spark, dir)
    var edges = both
    for (_ <- 1 to KCoreRounds) {
      // survivors shrink monotonically, so each round gates its build
      // side on the CURRENT keep count rather than the initial |V|:
      // a graph that starts past the broadcast budget flips back to
      // the broadcast face as soon as peeling shrinks the survivor set
      // under it (gating on the initial |V| would pin every round onto
      // the shuffled face). The eager checkpoint both prices the count
      // at a metadata read and stops the two semi-joins from
      // re-deriving the degree aggregation twice.
      val keep = edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= KCoreK)
        .select("node")
        .localCheckpoint(true)
      val nKeep = keep.count()
      edges = edges
        .join(gatedBuild(spark, keep, nKeep), col("src") === col("node"), "left_semi")
        .join(gatedBuild(spark, keep, nKeep), col("dst") === col("node"), "left_semi")
        .localCheckpoint(true)
    }
    edges.groupBy(col("src").as("part_id"))
      .agg(count(lit(1)).as("core_degree"))
      .orderBy("part_id")
  }

  val kcoreSql: String = {
    // every e_i is referenced twice (degree count + edge filter of the
    // next round) — MATERIALIZED stops the oracle's inliner from
    // re-deriving the whole peel chain exponentially
    val rounds = (1 to KCoreRounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT a AS node FROM e${i - 1} GROUP BY a HAVING count(*) >= $KCoreK),
         |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
         |  JOIN k$i ka ON e.a = ka.node JOIN k$i kb ON e.b = kb.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |w AS MATERIALIZED (SELECT a.l_partkey AS s, b.l_partkey AS d
       |      FROM items a JOIN items b
       |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(*) >= 2),
       |e0 AS MATERIALIZED (SELECT s AS a, d AS b FROM w UNION ALL SELECT d, s FROM w),
       |$rounds
       |SELECT a AS part_id, count(*) AS core_degree
       |FROM e$KCoreRounds GROUP BY a ORDER BY part_id""".stripMargin
  }

  /** Degree assortativity of the thresholded graph: the Pearson
    * correlation between the degrees at the two ends of every edge —
    * positive means hubs buy with hubs (a "popular bundle" catalog),
    * negative means hub-and-spoke. One number with its edge count, the
    * standard first summary of a graph's mixing structure. Computed
    * over both directions of every undirected edge (the standard
    * symmetrization), from the five sufficient sums — all exact
    * INTEGER arithmetic until the final normalization, so the 4-dp
    * value is bit-stable across engines; a degenerate (zero-variance)
    * degree sequence reports NULL.
    *
    * Plan: degrees are one partial-agg count; both endpoint fetches
    * broadcast that ¦V¦-row table onto the edge list; the sufficient
    * sums partially aggregate into a single row. Nothing here exceeds
    * the edge list's own scale.
    */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val (both, deg) = cachedThresholdedBoth(spark, dir)
    val nV = deg.count()
    both
      .join(gatedBuild(spark, deg, nV), col("src") === col("node"))
      .select(col("dst"), col("deg").as("dx"))
      .join(gatedBuild(spark, deg, nV), col("dst") === col("node"))
      .select(col("dx"), col("deg").as("dy"))
      .agg(count(lit(1)).as("n"), sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(col("n").as("n_directed_edges"),
        round(when((col("n") * col("sxx") - col("sx") * col("sx")) === 0 ||
            (col("n") * col("syy") - col("sy") * col("sy")) === 0, lit(null))
          .otherwise((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")))),
          4).as("assortativity"))
  }

  val assortativitySql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |w AS (SELECT a.l_partkey AS s, b.l_partkey AS d
      |      FROM items a JOIN items b
      |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |e AS (SELECT s AS a, d AS b FROM w UNION ALL SELECT d, s FROM w),
      |deg AS (SELECT a AS node, count(*) AS deg FROM e GROUP BY a),
      |p AS (SELECT da.deg AS dx, db.deg AS dy
      |      FROM e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node),
      |su AS (SELECT count(*) AS n, sum(dx) AS sx, sum(dy) AS sy,
      |        sum(dx*dy) AS sxy, sum(dx*dx) AS sxx, sum(dy*dy) AS syy
      |       FROM p)
      |SELECT n AS n_directed_edges,
      |  round(CASE WHEN n*sxx - sx*sx = 0 OR n*syy - sy*sy = 0 THEN NULL
      |    ELSE CAST(n*sxy - sx*sy AS DOUBLE) /
      |      (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) END,
      |    4) AS assortativity
      |FROM su""".stripMargin

  /** Synchronous label-propagation communities (LPA) over the
    * thresholded co-purchase graph: every node starts as its own
    * label; each of exactly [[LpaRounds]] rounds reassigns every node
    * the MOST FREQUENT label among its neighbors, ties broken by the
    * smallest label — the deterministic synchronous variant, so a
    * fixed round count is a complete spec of the output and the oracle
    * can replay it verbatim (asynchronous/randomized LPA would be
    * rows-only). Complements [[connectedComponents]]: components
    * split along DENSITY boundaries, not just connectivity.
    *
    * Plan per round: the |V|-row label table BROADCASTS onto the edge
    * list (labels are dimension-sized — parts, not lineitems), votes
    * partially aggregate on the composite (node, label) key, and the
    * argmax is `max(struct(c, -lbl, lbl))` — an ordinary partial-agg
    * max, NOT a window sort, so the per-round cost is two
    * map-side-combining exchanges of vote-table size. Labels are
    * checkpointed per round (consumed by next round's join; truncates
    * the iterative lineage).
    */
  def lpa(spark: SparkSession, dir: String): DataFrame = {
    val labels = cachedLpaLabels(spark, dir)
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("community_size"))
    labels.join(broadcast(sizes), Seq("lbl"))
      .select(col("node").as("part_id"), col("lbl").as("community_id"),
        col("community_size"))
      .orderBy("part_id")
  }

  /** The converged (node, lbl) table — memoized per (session, dir)
    * like every shared graph artifact: `graph_lpa` and
    * `graph_modularity` both read it, so the 4-round propagation runs
    * once per pass.
    */
  private[graft] def cachedLpaLabels(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("graph_lpa_labels", dir)) {
      val e = thresholdedEdges(spark, dir)
      val bc = cachedThresholdedBoth(spark, dir)._2.count() <= maxBroadcastRows(spark)
      // pre-partitioned ONCE and CACHED (not checkpointed — a
      // LogicalRDD under AQE forgets its partitioning, an
      // InMemoryRelation advertises it). Broadcast face: partition on
      // src — the broadcast vote join preserves hashpartitioning(src),
      // which satisfies BOTH per-round groupings (src,lbl ⊇ src), so
      // every round runs exchange-free (plan-locked in the spec).
      // Shuffle face (labels past the budget): partition on dst — the
      // co-partitioned label probe then exchanges only the |V|-row
      // label side, and the round's one edge-volume shuffle is the
      // explicit src re-key inside lpaVoteRound, whose
      // hashpartitioning(src) satisfies BOTH downstream aggregations
      // ((src,lbl) ⊇ {src}), so the vote count and the argmax run
      // exchange-free on top of it (plan-locked in the spec).
      val edges = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col(if (bc) "src" else "dst"))
        .cache()
      edges.count()
      var labels = edges.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl"))
        .localCheckpoint(true)
      for (_ <- 1 to LpaRounds) {
        labels = lpaVoteRound(edges, labels, bc).localCheckpoint(true)
      }
      labels
    }

  /** One synchronous LPA vote round: join the label table onto the
    * pre-partitioned edge list (broadcast within the budget, shuffled
    * hash join past it), count neighbor votes, argmax with the
    * (count DESC, label ASC) tie-break. On the broadcast face both
    * aggregations cluster on a superset of {src}, so over
    * [[cachedLpaLabels]]' src-partitioned edges the round plans with
    * ZERO shuffle exchanges (spec-locked) — per round the cluster moves
    * only the |V|-row broadcast. On the shuffle face the joined rows
    * are re-keyed on src ONCE: hashpartitioning(src) satisfies the
    * clustered distribution of both the (src,lbl) vote count and the
    * (src) argmax, so the round's aggregation chain costs a single
    * edge-volume exchange instead of the two vote-row exchanges the
    * default plan would run (hashpartitioning(src,lbl) does NOT
    * satisfy ClusteredDistribution(src), so without the re-key the
    * argmax would exchange again).
    */
  private[graft] def lpaVoteRound(edges: DataFrame, labels: DataFrame,
      broadcastLabels: Boolean = true): DataFrame = {
    val joined = edges
      .join(if (broadcastLabels) broadcast(labels) else labels.hint("shuffle_hash"),
        col("dst") === col("node"))
    (if (broadcastLabels) joined else joined.repartition(col("src")))
      .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
      .groupBy(col("src"))
      .agg(max(struct(col("c"), (-col("lbl")).as("neg"), col("lbl"))).as("top"))
      .select(col("src").as("node"), col("top.lbl").as("lbl"))
  }

  val LpaRounds = 4

  val lpaSql: String = {
    // each l_i is read twice (votes + the next round) and each v_i
    // twice (rank + filter) — MATERIALIZED, or the inliner re-derives
    // the whole chain exponentially (the kcore lesson)
    val rounds = (1 to LpaRounds).map { i =>
      s"""v$i AS MATERIALIZED (
         |  SELECT e.a AS n, l.lbl, count(*) AS c
         |  FROM e0 e JOIN l${i - 1} l ON l.n = e.b
         |  GROUP BY 1, 2),
         |l$i AS MATERIALIZED (
         |  SELECT n, lbl FROM (
         |    SELECT n, lbl, row_number() OVER (PARTITION BY n ORDER BY c DESC, lbl) AS rn
         |    FROM v$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |w AS MATERIALIZED (SELECT a.l_partkey AS s, b.l_partkey AS d
       |      FROM items a JOIN items b
       |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(*) >= 2),
       |e0 AS MATERIALIZED (SELECT s AS a, d AS b FROM w UNION ALL SELECT d, s FROM w),
       |l0 AS MATERIALIZED (SELECT DISTINCT a AS n, a AS lbl FROM e0),
       |$rounds,
       |sizes AS (SELECT lbl, count(*) AS community_size FROM l$LpaRounds GROUP BY lbl)
       |SELECT n AS part_id, lbl AS community_id, community_size
       |FROM l$LpaRounds JOIN sizes USING (lbl)
       |ORDER BY part_id""".stripMargin
  }

  /** Newman modularity of the [[lpa]] community partition on the
    * thresholded graph: Q = Σ_c [L_c/m − (d_c/2m)²] — the one-number
    * quality score that says whether the propagation found real
    * density structure (Q≈0: no better than random; Q>0.3: strong
    * communities). Pairs with `graph_lpa` the way `ann_recall_report`
    * pairs with the ANN tiers: the metric face over the algorithm
    * face.
    *
    * Every term is an exact INTEGER sufficient statistic (within-edge
    * count, per-community degree sums, edge total) down to the final
    * division, so the 4-dp value is bit-stable. Plan: labels and the
    * |V|-row degree table broadcast onto the |E|-row undirected edge
    * list; the three scalar aggregates cross-join as 1-row frames —
    * no driver round-trips, nothing beyond edge-list scale.
    */
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    val lab = cachedLpaLabels(spark, dir)
      .select(col("node").as("part_id"), col("lbl").as("community_id"))
    val e = thresholdedEdges(spark, dir)
    val deg = cachedThresholdedBoth(spark, dir)._2
    val nV = deg.count()
    val m = e.agg(count(lit(1)).as("n_edges"))
    val lin = e
      .join(gatedBuild(spark, lab.select(col("part_id").as("src"), col("community_id").as("ca")), nV), Seq("src"))
      .join(gatedBuild(spark, lab.select(col("part_id").as("dst"), col("community_id").as("cb")), nV), Seq("dst"))
      .filter(col("ca") === col("cb"))
      .agg(count(lit(1)).as("l_in"))
    val dsums = lab
      .join(gatedBuild(spark, deg.select(col("node").as("part_id"), col("deg")), nV), Seq("part_id"))
      .groupBy("community_id").agg(sum("deg").as("d_c"))
      .agg(count(lit(1)).as("n_communities"), sum(col("d_c") * col("d_c")).as("sdc2"))
    dsums.crossJoin(lin).crossJoin(m)
      .select(col("n_communities"), col("n_edges"),
        round(col("l_in").cast("double") / col("n_edges")
          - col("sdc2").cast("double") / (lit(4.0) * col("n_edges") * col("n_edges")),
          4).as("modularity"))
  }

  val modularitySql: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""v$i AS MATERIALIZED (
         |  SELECT e.a AS n, l.lbl, count(*) AS c
         |  FROM e0 e JOIN l${i - 1} l ON l.n = e.b
         |  GROUP BY 1, 2),
         |l$i AS MATERIALIZED (
         |  SELECT n, lbl FROM (
         |    SELECT n, lbl, row_number() OVER (PARTITION BY n ORDER BY c DESC, lbl) AS rn
         |    FROM v$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |w AS MATERIALIZED (SELECT a.l_partkey AS s, b.l_partkey AS d
       |      FROM items a JOIN items b
       |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(*) >= 2),
       |e0 AS MATERIALIZED (SELECT s AS a, d AS b FROM w UNION ALL SELECT d, s FROM w),
       |l0 AS MATERIALIZED (SELECT DISTINCT a AS n, a AS lbl FROM e0),
       |$rounds,
       |deg AS (SELECT a AS node, count(*) AS deg FROM e0 GROUP BY 1),
       |lin AS (
       |  SELECT count(*) AS l_in FROM w
       |  JOIN l$LpaRounds la ON la.n = w.s
       |  JOIN l$LpaRounds lb ON lb.n = w.d
       |  WHERE la.lbl = lb.lbl),
       |dsum AS (
       |  SELECT count(*) AS n_communities, sum(d_c * d_c) AS sdc2 FROM (
       |    SELECT l.lbl, sum(deg) AS d_c
       |    FROM l$LpaRounds l JOIN deg ON deg.node = l.n GROUP BY 1)),
       |m AS (SELECT count(*) AS n_edges FROM w)
       |SELECT n_communities, n_edges,
       |  round(CAST(l_in AS DOUBLE) / n_edges
       |    - CAST(sdc2 AS DOUBLE) / (4.0 * n_edges * n_edges), 4) AS modularity
       |FROM dsum CROSS JOIN lin CROSS JOIN m""".stripMargin
  }

  val triangleCountsSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |u AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |      FROM items a JOIN items b
      |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |t AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |      FROM u e1 JOIN u e2 ON e1.dst = e2.src
      |      JOIN u e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      |pern AS (
      |  SELECT node, count(*) AS n_triangles FROM (
      |    SELECT a AS node FROM t
      |    UNION ALL SELECT b FROM t
      |    UNION ALL SELECT c FROM t)
      |  GROUP BY node)
      |SELECT node AS part_id, n_triangles
      |FROM pern ORDER BY n_triangles DESC, part_id LIMIT 20""".stripMargin

  /** graph_triangles_approx replayed: the exact face's pair universe,
    * sparsified by the deterministic salted md5 coin (the
    * stratified_sample replay pattern — coin input "src:dst:0",
    * p = 25%), triangles counted exactly on the survivor graph, scaled
    * by 1/p³. round(n/0.015625) = n·64 exactly in both engines.
    */
  val triangleCountApproxSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |u AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |      FROM items a JOIN items b
      |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |su AS (SELECT src, dst FROM u
      |  WHERE ('0x' || substr(md5(src::VARCHAR || ':' || dst::VARCHAR || ':0'),
      |         1, 8))::UBIGINT % 100 < 25),
      |t AS (SELECT count(*) AS n FROM su e1
      |      JOIN su e2 ON e1.dst = e2.src
      |      JOIN su e3 ON e3.src = e1.src AND e3.dst = e2.dst)
      |SELECT 25 AS p_pct, CAST(n AS BIGINT) AS n_sampled,
      |  CAST(round(n / 0.015625, 0) AS BIGINT) AS est_triangles FROM t""".stripMargin
}
