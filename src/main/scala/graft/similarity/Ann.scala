package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three tiers:
  *   - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline
  *     and recall oracle. Queries are broadcast; the corpus is scanned
  *     once (O(|Q|·n) scoring, no corpus shuffle).
  *   - [[lshTopK]]: multi-table random-hyperplane LSH — L independent
  *     b-bit tables; a pair is a candidate if it collides in ANY table.
  *     Probe buckets are broadcast, so the corpus is never shuffled
  *     before candidate filtering.
  *   - [[ivfTopK]]: IVF-style coarse quantizer — centroids are collected
  *     to the driver (they are small by construction, like a FAISS
  *     coarse quantizer) and baked into the plan as literals, so cell
  *     assignment is a map-side argmin with no join and no shuffle.
  *
  * At 100 TB the brute-force tier is only for per-bucket verify; LSH/IVF
  * bound the scored fraction. All scoring math is codegen'd
  * (zip_with/aggregate), no UDFs.
  */
object Ann {

  val Dim = 64

  /** Per-(session, dir, tier) memo for the DRIVER faces: a verify/bench
    * pass runs every tier standalone AND `ann_recall_report` re-runs
    * all of them as its ground truth + candidates — without sharing,
    * the whole family is computed twice per pass. Same discipline as
    * the BPE shared training run and the dedup shared pair table; each
    * cached frame is localCheckpoint-materialized so consumers read
    * shuffle output, not lineage. The generic DataFrame faces stay
    * uncached (they can't know their input's identity). Session scoping
    * and staleness semantics live in [[graft.SessionCache]].
    */
  private def cachedTier(spark: SparkSession, dir: String, tier: String)
                        (f: => DataFrame): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("ann", dir, tier))(f.localCheckpoint(true))

  /** All exact (query, corpus) rounded cosines BEFORE any top-k cut —
    * the one full corpus scan behind the brute tier, the hard-negative
    * miner, and the RRF semantic pool. nQueries × |corpus| scalar rows.
    */
  private def bruteScored(embs: DataFrame, nQueries: Int = 10): DataFrame = {
    val queries = broadcast(
      embs.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q")))
    embs.join(queries, col("vec_id") =!= col("query_id"))
      .withColumn("cosine", round(cosine(col("q"), col("embedding")), 4))
      .select("query_id", "vec_id", "cosine")
  }

  private[graft] def cachedBruteScored(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("bruteScored", dir))(
      bruteScored(Tables.embeddings(spark, dir)).localCheckpoint(true))

  /** Retrieval-quality metrics of the certified brute tier against
    * LABEL relevance — the IR evaluation face (precision@k / MRR /
    * NDCG@k) that complements the recall-vs-brute report: recall says
    * how well the approximate tiers imitate exact cosine, THIS says
    * whether exact cosine retrieves semantically-right items at all
    * (label agreement as graded relevance — the standard proxy when a
    * labeled corpus stands in for human judgments). Per query:
    * relevant-in-corpus count, precision@k, reciprocal rank of the
    * first relevant hit, and NDCG@k with the ideal DCG folded over an
    * ORDERED sequence (both engines fold ascending — bit-identical).
    *
    * Scale design: rides the memoized brute-scored table; the metric
    * arithmetic is a k-row-per-query fold plus one ¦labels¦-sized
    * relevance-count join.
    */
  def labelMetrics(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val labels = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    val ranked = cachedBruteScored(spark, dir)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .join(broadcast(labels.withColumnRenamed("label", "nlabel")), "vec_id")
      .join(broadcast(labels.select(col("vec_id").as("query_id"), col("label").as("qlabel"))),
        "query_id")
      .withColumn("rel", (col("nlabel") === col("qlabel")).cast("int"))
    val nRel = labels.as("a")
      .join(labels.as("b"), col("a.label") === col("b.label") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .filter(col("a.vec_id") < 10)
      .groupBy(col("a.vec_id").as("query_id"))
      .agg(count(lit(1)).as("n_rel"))
    ranked.groupBy("query_id", "qlabel")
      .agg(
        round(sum(col("rel")).cast("double") / k, 4).as(s"p_at_$k"),
        round(coalesce(max(when(col("rel") === 1,
          lit(1.0) / col("rank"))), lit(0.0)), 4).as("rr"),
        sum(when(col("rel") === 1, lit(1.0) / log2(col("rank") + 1))
          .otherwise(lit(0.0))).as("dcg"))
      .join(broadcast(nRel), Seq("query_id"), "left")
      .na.fill(0L, Seq("n_rel"))
      // n_rel = 0 must not reach the fold: sequence(1, 0) DESCENDS in
      // Spark and the i = 1 term would divide by log2(1) = 0
      .withColumn("idcg", when(col("n_rel") > 0, expr(
        s"aggregate(sequence(1, int(least($k, n_rel))), 0D, (acc, i) -> acc + 1.0D / log2(i + 1))"))
        .otherwise(lit(0.0)))
      .withColumn(s"ndcg_$k",
        when(col("idcg") > 0, round(col("dcg") / col("idcg"), 4)).otherwise(lit(0.0)))
      .select(col("query_id"), col("qlabel").as("label"), col("n_rel"),
        col(s"p_at_$k"), col("rr"), col(s"ndcg_$k"))
      .orderBy("query_id")
  }

  val labelMetricsSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv, label AS qlabel FROM e WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id, e.label AS nlabel,
      |    round(list_cosine_similarity(q.qv, e.v), 4) AS cosine
      |  FROM q JOIN e ON e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      |  FROM scored),
      |rel AS (
      |  SELECT query_id, qlabel, rank,
      |    CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END AS rel
      |  FROM ranked WHERE rank <= 10),
      |nrel AS (
      |  SELECT q.query_id, CAST(count(*) AS BIGINT) AS n_rel
      |  FROM q JOIN e ON e.label = q.qlabel AND e.vec_id <> q.query_id
      |  GROUP BY 1),
      |m AS (
      |  SELECT query_id, qlabel,
      |    round(CAST(sum(rel) AS DOUBLE) / 10, 4) AS p_at_10,
      |    round(coalesce(max(CASE WHEN rel = 1 THEN CAST(1 AS DOUBLE) / rank END), 0.0), 4) AS rr,
      |    sum(CASE WHEN rel = 1 THEN CAST(1 AS DOUBLE) / log2(rank + 1) ELSE 0.0 END) AS dcg
      |  FROM rel GROUP BY 1, 2)
      |SELECT m.query_id, m.qlabel AS label,
      |  coalesce(n.n_rel, 0) AS n_rel, m.p_at_10, m.rr,
      |  CASE WHEN coalesce(n.n_rel, 0) > 0 THEN round(m.dcg /
      |    list_sum(list_transform(generate_series(1, CAST(least(10, n.n_rel) AS INT)),
      |      i -> CAST(1 AS DOUBLE) / log2(i + 1))), 4)
      |  ELSE 0.0 END AS ndcg_10
      |FROM m LEFT JOIN nrel n USING (query_id) ORDER BY m.query_id""".stripMargin

  /** Top-k face over a scored (query_id, vec_id, cosine) table. */
  private def bruteRankFace(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Exact top-k cosine neighbors for each query vector (vec_id < nQueries). */
  def bruteForceTopK(embs: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame =
    bruteRankFace(bruteScored(embs, nQueries), k)

  def bruteForceTopK(spark: SparkSession, dir: String): DataFrame =
    cachedTier(spark, dir, "brute")(
      bruteRankFace(cachedBruteScored(spark, dir), k = 5))

  val bruteForceSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(q.qv, e.v), 4) AS cosine
      |  FROM q JOIN e ON e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, rank, cosine FROM ranked
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Hard-negative mining for contrastive training (dense-retriever /
    * embedding fine-tunes): per query, the k highest-cosine corpus
    * vectors BELOW the near-dup threshold — similar enough to be
    * confusable, dissimilar enough to be true negatives, the band
    * random in-batch negatives almost never sample. Same
    * broadcast-query brute scan as [[bruteForceTopK]] (one corpus
    * pass, corpus never shuffles; the per-query window state is k
    * rows), with the negative-band filter BEFORE the top-k window so
    * the sort input shrinks map-side. At 100 TB the candidate pool
    * would come from a certified ANN tier (probe wider, filter the
    * band, rerank exactly) — this exact face is that path's verifier.
    */
  def hardNegatives(embs: DataFrame, nQueries: Int = 10, k: Int = 5,
                    maxCos: Double = 0.4): DataFrame =
    bruteRankFace(bruteScored(embs, nQueries).filter(col("cosine") < maxCos), k)

  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    bruteRankFace(
      cachedBruteScored(spark, dir).filter(col("cosine") < lit(0.4)), k = 5)

  /** ann_hard_negatives replayed: the brute oracle with the
    * negative-band filter before the rank window.
    */
  val hardNegativesSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(q.qv, e.v), 4) AS cosine
      |  FROM q JOIN e ON e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
      |  FROM scored WHERE cosine < 0.4)
      |SELECT query_id, neighbor_id, rank, cosine FROM ranked
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Multi-table LSH ANN. Each of the `nTables` tables hashes a vector
    * to a `nBits`-bit random-hyperplane signature; candidate = collides
    * with the query in at least one table. Collision probability per
    * table is (1-θ/π)^nBits, over L tables 1-(1-p)^L — tables multiply
    * recall where extra bits per table only cut it.
    *
    * Plan shape: signatures are computed map-side; the tiny probe set
    * (nQueries × nTables rows) is broadcast, so candidate selection is a
    * broadcast hash join against the exploded corpus — the corpus is
    * never shuffled. Duplicated candidates are scored then reduced by
    * (query, vec) so the shuffle carries scalars, not embeddings.
    * Oracle-certified: [[lshTopKSql]] replays the hyperplane bank and
    * the signature computation verbatim; recall vs brute force is
    * additionally asserted in the spec.
    */
  def lshTopK(embs: DataFrame, nQueries: Int = 10, k: Int = 5,
              nBits: Int = 6, nTables: Int = 24): DataFrame = {
    val planesFlat = makePlanes(nBits * nTables, Dim).flatten.toArray
    val sigs = graft.functions.VectorExpressions.hyperplaneSigs(
      col("embedding"), planesFlat, nBits, nTables, Dim)
    val corpus = embs.select(col("vec_id"), col("embedding"),
      posexplode(sigs).as(Seq("table", "bucket")))
    val probes = broadcast(
      embs.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q"),
          posexplode(sigs).as(Seq("table", "bucket"))))
    val scored = corpus.join(probes, Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", round(cosine(col("q"), col("embedding")), 4))
      .groupBy("query_id", "vec_id")
      .agg(max(col("cosine")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  def lshTopK(spark: SparkSession, dir: String): DataFrame =
    cachedTier(spark, dir, "lsh")(lshTopK(Tables.embeddings(spark, dir)))

  /** ann_lsh_topk replayed in DuckDB. The hyperplane bank is embedded
    * as one flat DOUBLE[] literal rendered with Java's
    * shortest-round-trip `Double.toString` — DuckDB's correctly-rounded
    * parse recovers the IDENTICAL binary64 values, so `list_dot_product`
    * over the CAST-to-double embedding agrees with the codegen kernel's
    * sequential accumulation on every sign that is not within
    * accumulation-order noise of exactly 0 (empirically none at any
    * test SF — the dots are O(1)-magnitude Gaussians). Bucket ids,
    * candidate collisions, and the exact rounded-cosine rerank then
    * replay bit-for-bit.
    */
  lazy val lshTopKSql: String = {
    val nBits = 6; val nTables = 24
    val flat = makePlanes(nBits * nTables, Dim).flatten
    val lit = flat.map(d => java.lang.Double.toString(d)).mkString(",")
    s"""WITH pf AS (SELECT [$lit]::DOUBLE[] AS w),
       |planes AS (
       |  SELECT p // $nBits AS tbl, p % $nBits AS bit,
       |         w[p*$Dim+1 : (p+1)*$Dim] AS pl
       |  FROM pf, range(${nBits * nTables}) r(p)),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sigs AS (
       |  SELECT e.vec_id, p.tbl,
       |    CAST(sum(CASE WHEN list_dot_product(e.v, p.pl) >= 0
       |                  THEN (1 << p.bit) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM e, planes p GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, s.vec_id
       |  FROM sigs q JOIN sigs s USING (tbl, bucket)
       |  WHERE q.vec_id < 10 AND s.vec_id <> q.vec_id),
       |scored AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(eq.v, ec.v), 4) AS cosine
       |  FROM cand c
       |  JOIN e eq ON eq.vec_id = c.query_id
       |  JOIN e ec ON ec.vec_id = c.vec_id),
       |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank FROM scored)
       |SELECT query_id, neighbor_id, rank, cosine FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** LSH table-count acceptance sweep — the [[lshTopK]] twin of
    * [[ivfProbePlan]], closing the tuning-plane triad (MinHash bands /
    * IVF probes / hyperplane tables): for each candidate table count T,
    * the exact candidate cost and the recall@5 it buys vs brute truth,
    * measured on THIS corpus. Using the first T tables of the fixed
    * 24-table bank is itself a valid T-table configuration, so
    * candidates collide ONCE against the full bank keyed by their
    * MINIMUM colliding table index — every T-face is a pure
    * `min_table < T` filter over the once-scored collision set (no
    * re-hashing, no rescoring). All inputs are certified replays (the
    * embedded plane bank + the brute tier); outputs are integer counts
    * and exact integer ratios — fully oracle-certified.
    */
  val TableCounts: Seq[Int] = Seq(4, 8, 16, 24)

  def lshTablesPlan(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val embs = Tables.embeddings(spark, dir)
    val nBits = 6; val nTables = 24
    val planesFlat = makePlanes(nBits * nTables, Dim).flatten.toArray
    val sigs = graft.functions.VectorExpressions.hyperplaneSigs(
      col("embedding"), planesFlat, nBits, nTables, Dim)
    val corpus = embs.select(col("vec_id"), col("embedding"),
      posexplode(sigs).as(Seq("table", "bucket")))
    val probes = broadcast(
      embs.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("q"),
          posexplode(sigs).as(Seq("table", "bucket"))))
    val collided = corpus.join(probes, Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", round(cosine(col("q"), col("embedding")), 4))
      .groupBy("query_id", "vec_id")
      .agg(min(col("table")).as("min_table"), max(col("cosine")).as("cosine"))
      .localCheckpoint(true)
    val truth = bruteForceTopK(spark, dir).select(col("query_id"), col("neighbor_id"))
    val grid = broadcast(TableCounts.toDF("n_tables"))
    val perT = collided.crossJoin(grid).filter(col("min_table") < col("n_tables"))
    val nCand = perT.groupBy("n_tables").agg(count(lit(1)).as("n_candidates"))
    val w = Window.partitionBy("n_tables", "query_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    val top = perT.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    val hits = top
      .join(truth, top("query_id") === truth("query_id") &&
        top("vec_id") === truth("neighbor_id"), "left_semi")
      .groupBy("n_tables").agg(count(lit(1)).as("n_hits"))
    val tq = broadcast(truth.agg(count(lit(1)).as("n_truth"),
      countDistinct(col("query_id")).as("n_queries")))
    nCand.join(hits, Seq("n_tables"), "left_outer").crossJoin(tq)
      .select(col("n_tables"), col("n_candidates"),
        round(col("n_candidates").cast("double") / col("n_queries"), 2)
          .as("mean_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_truth"), 4)
          .as("recall_at_5"))
      .orderBy("n_tables")
  }

  /** lsh_tables_plan replayed: the embedded plane bank, collisions
    * keyed by min colliding table, the T grid as a filter, and the
    * brute-truth recall — integer ratios only.
    */
  lazy val lshTablesPlanSql: String = {
    val nBits = 6; val nTables = 24
    val flat = makePlanes(nBits * nTables, Dim).flatten
    val lit = flat.map(d => java.lang.Double.toString(d)).mkString(",")
    s"""WITH pf AS (SELECT [$lit]::DOUBLE[] AS w),
       |planes AS (
       |  SELECT p // $nBits AS tbl, p % $nBits AS bit,
       |         w[p*$Dim+1 : (p+1)*$Dim] AS pl
       |  FROM pf, range(${nBits * nTables}) r(p)),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sigs AS (
       |  SELECT e.vec_id, p.tbl,
       |    CAST(sum(CASE WHEN list_dot_product(e.v, p.pl) >= 0
       |                  THEN (1 << p.bit) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM e, planes p GROUP BY 1, 2),
       |coll AS (
       |  SELECT q.vec_id AS query_id, s.vec_id, min(s.tbl) AS min_table
       |  FROM sigs q JOIN sigs s USING (tbl, bucket)
       |  WHERE q.vec_id < 10 AND s.vec_id <> q.vec_id
       |  GROUP BY 1, 2),
       |sc AS (
       |  SELECT c.query_id, c.vec_id, c.min_table,
       |    round(list_cosine_similarity(eq.v, ec.v), 4) AS cosine
       |  FROM coll c
       |  JOIN e eq ON eq.vec_id = c.query_id
       |  JOIN e ec ON ec.vec_id = c.vec_id),
       |g(n_tables) AS (VALUES (4), (8), (16), (24)),
       |pt AS (SELECT g.n_tables, sc.* FROM sc, g WHERE sc.min_table < g.n_tables),
       |nc AS (SELECT n_tables, CAST(count(*) AS BIGINT) AS n_candidates
       |  FROM pt GROUP BY 1),
       |tops AS (SELECT n_tables, query_id, vec_id FROM (
       |  SELECT n_tables, query_id, vec_id, row_number() OVER (
       |    PARTITION BY n_tables, query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM pt) WHERE rank <= 5),
       |bscored AS (
       |  SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(q.v, t.v), 4) AS cosine
       |  FROM e q JOIN e t ON t.vec_id <> q.vec_id WHERE q.vec_id < 10),
       |btr AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS rank FROM bscored) WHERE rank <= 5),
       |tq AS (SELECT CAST(count(*) AS BIGINT) AS n_truth,
       |              CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries FROM btr),
       |h AS (SELECT n_tables, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM tops JOIN btr ON tops.query_id = btr.query_id
       |    AND tops.vec_id = btr.neighbor_id GROUP BY 1)
       |SELECT nc.n_tables, nc.n_candidates,
       |  round(CAST(nc.n_candidates AS DOUBLE) / tq.n_queries, 2) AS mean_candidates,
       |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / tq.n_truth, 4) AS recall_at_5
       |FROM nc LEFT JOIN h USING (n_tables), tq
       |ORDER BY n_tables""".stripMargin
  }

  /** IVF-style ANN, FAISS-shaped: the coarse quantizer is trained on a
    * deterministic systematic SAMPLE collected to the driver (k-means on
    * a bounded sample — never a full-corpus shuffle; the quantizer is
    * O(cells×dim) regardless of corpus size), then the corpus is
    * assigned to its nearest cell by a map-side argmin over the trained
    * centroid table and queries probe the nProbe nearest cells. No
    * corpus shuffle anywhere: cell assignment is an expression, and the
    * probe side of the candidate join is broadcast.
    */
  def ivfTopK(embs: DataFrame, nQueries: Int = 10, k: Int = 5,
              nCells: Int = 16, nProbe: Int = 4, trainSize: Int = 4096): DataFrame = {
    trainFromCorpus(embs, nCells, trainSize) match {
      case None =>
        // empty corpus → empty result with the contract schema (instead
        // of an out-of-bounds read while seeding centroids)
        emptyTopK(embs)
      case Some(refined) =>
        probeCells(withNearestCell(embs, refined), refined,
          embs.filter(col("vec_id") < nQueries), k, nProbe)
    }
  }

  /** Train the coarse quantizer from a bounded systematic sample of the
    * corpus (None on an empty corpus).
    */
  private def trainFromCorpus(embs: DataFrame, nCells: Int, trainSize: Int)
      : Option[Array[(Int, Array[Double])]] = {
    val sample = corpusSample(embs, trainSize)
    if (sample.isEmpty) None else Some(trainCentroids(sample, nCells, iters = 3))
  }

  /** Bounded deterministic systematic sample of the corpus, collected
    * to the driver (quantizer training data — O(trainSize×dim)
    * regardless of corpus size).
    */
  private def corpusSample(embs: DataFrame, trainSize: Int): Array[Array[Double]] = {
    val n = embs.count()
    val stride = math.max(n / trainSize, 1L)
    embs.filter(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").cast("long"), col("embedding"))
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).toArray.map(_.toDouble))
  }

  /** Probe: per query keep the nProbe nearest cells, score candidates in
    * those cells only, rank top-k. The probe set broadcasts; the
    * assigned corpus never shuffles.
    */
  private def probeCells(assigned: DataFrame, refined: Array[(Int, Array[Double])],
                         queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val qCells = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
      .withColumn("cell",
        explode(transform(slice(array_sort(cellDistances(col("q"), refined)), 1, nProbe),
          s => s.getField("cell"))))
      .select("query_id", "q", "cell")
    val cand = assigned.join(broadcast(qCells), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", round(cosine(col("q"), col("embedding")), 4))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    cand
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  // ------------------------------------------------------------------
  // Persistable IVF index — the incremental-corpus pattern for ANN,
  // parallel to Dedup.lshBandIndex: train the coarse quantizer ONCE,
  // persist the centroid table + cell-assigned inverted lists; new
  // embedding batches assign cells map-side against the PERSISTED
  // centroids (no retraining, no old-corpus access), and probing works
  // identically over the combined lists.
  // ------------------------------------------------------------------

  /** (centroid table, cell-assigned corpus): both persistable as
    * parquet. The centroid table is O(cells×dim) rows; the assignment
    * frame is the corpus's inverted-list form (vec_id, embedding, cell).
    * Returns empty frames for an empty corpus.
    */
  def ivfIndex(embs: DataFrame, nCells: Int = 16, trainSize: Int = 4096)
      : (DataFrame, DataFrame) = {
    val spark = embs.sparkSession
    import spark.implicits._
    trainFromCorpus(embs, nCells, trainSize) match {
      case None =>
        (Seq.empty[(Int, Seq[Double])].toDF("cell", "centroid"),
          embs.select(col("vec_id"), col("embedding"), lit(0).as("cell")).limit(0))
      case Some(refined) =>
        (refined.toSeq.map { case (c, v) => (c, v.toSeq) }.toDF("cell", "centroid"),
          withNearestCell(embs, refined))
    }
  }

  /** Driver-side literal form of a persisted centroid table (bounded:
    * cells×dim, like the training sample).
    */
  private def centroidTable(centroids: DataFrame): Array[(Int, Array[Double])] =
    centroids.select(col("cell"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)

  /** Assign a NEW embedding batch to cells of a persisted centroid
    * table — map-side argmin, no retraining, cost scales with the
    * batch. Append the result to the persisted assignment lists. An
    * empty centroid table (index of an empty corpus) assigns nothing —
    * a zero-element literal array would otherwise fail to type-check
    * in the argmin expression.
    */
  def assignCells(centroids: DataFrame, newEmbs: DataFrame): DataFrame = {
    val table = centroidTable(centroids)
    if (table.isEmpty)
      newEmbs.select(col("vec_id"), col("embedding"), lit(0).as("cell")).limit(0)
    else withNearestCell(newEmbs, table)
  }

  /** Overlapping (soft) cell assignment: each vector lands in its
    * `nAssign` nearest cells. The standard recall lever for
    * cell-bounded pairwise work (SemDeDup-style dedup): a near-dup
    * pair straddling a cell boundary meets in the second-nearest
    * cell. Cost is nAssign rows per vector into the downstream
    * cell-keyed join; assignment itself stays a map-side argmin scan.
    */
  def assignCellsMulti(centroids: DataFrame, embs: DataFrame, nAssign: Int): DataFrame = {
    val table = centroidTable(centroids)
    if (table.isEmpty)
      embs.select(col("vec_id"), col("embedding"), lit(0).as("cell")).limit(0)
    else embs.select(col("vec_id"), col("embedding"),
      explode(transform(slice(array_sort(cellDistances(col("embedding"), table)), 1, nAssign),
        s => s.getField("cell"))).as("cell"))
  }

  /** Top-k probe over a persisted index (centroids + assigned lists).
    * Empty index → empty contract-schema result (see [[assignCells]]).
    */
  def ivfTopKFromIndex(centroids: DataFrame, assigned: DataFrame, queries: DataFrame,
                       k: Int = 5, nProbe: Int = 4): DataFrame = {
    val table = centroidTable(centroids)
    if (table.isEmpty) emptyTopK(queries)
    else probeCells(assigned, table, queries, k, nProbe)
  }

  /** Driver entry for the incremental pattern: even vec_ids play the
    * already-indexed corpus (quantizer trained on them alone), odd ids
    * the new batch assigned against the persisted centroids without
    * retraining. Oracle-certified: [[ivfIncrementalSql]] replays the
    * even-trained quantizer verbatim; equality with the monolithic
    * index path is additionally spec-asserted.
    */
  def ivfIncremental(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    val (centroids, oldAssigned) = ivfIndex(embs.filter(pmod(col("vec_id"), lit(2L)) === 0))
    val newAssigned = assignCells(centroids, embs.filter(pmod(col("vec_id"), lit(2L)) === 1))
    ivfTopKFromIndex(centroids, oldAssigned.unionByName(newAssigned),
      embs.filter(col("vec_id") < 10))
  }

  /** Memoized full-corpus IVF index for the driver faces that consume
    * the SAME quantizer + assignment (corpus_buckets, balanced_sample)
    * — without sharing, each re-trains the centroids and re-assigns the
    * corpus per pass. Both frames checkpoint-materialize; scoping and
    * staleness semantics in [[graft.SessionCache]].
    */
  def cachedIvfIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    graft.SessionCache.getOrElseUpdate(spark, ("ivfIndexFull", dir)) {
      val (c, a) = ivfIndex(Tables.embeddings(spark, dir))
      (c.localCheckpoint(true), a.localCheckpoint(true))
    }

  /** Semantic corpus bucketing — the "shard the corpus by embedding
    * cluster" pass training-mix pipelines run for curriculum/domain
    * balance and per-bucket subsampling: the IVF cells double as
    * k-means buckets, and the output is per-bucket occupancy plus
    * dispersion (mean cosine distance to the centroid). Assignment is
    * the usual map-side argmin; the stats are one cell-keyed
    * aggregation with map-side partials. Rows-only (centroid-specific);
    * occupancy/dispersion invariants are spec'd.
    */
  def corpusBuckets(spark: SparkSession, dir: String): DataFrame = {
    val (centroids, assigned) = cachedIvfIndex(spark, dir)
    assigned
      .join(broadcast(centroids), "cell")
      .withColumn("dist",
        lit(1.0) - cosine(col("embedding"), col("centroid").cast("array<float>")))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("dist")), 4).as("mean_dist"),
        min(col("vec_id")).as("example_vec"))
      .orderBy("cell")
  }

  /** Balanced per-bucket subsampling — the training-mix step AFTER
    * semantic bucketing: every IVF bucket is capped at ~`target`
    * vectors with a deterministic per-bucket Bernoulli fraction
    * (oversized buckets downsample, small ones pass whole) — the
    * composition that turns "bucket the corpus" into "balance the
    * mix". The per-bucket counts are ≤ nCells rows (bounded collect,
    * like the centroid table itself); the sampling is one map-side
    * filter over the assigned corpus. Output is the per-bucket
    * accounting; rows-only (centroid-specific) with invariants spec'd.
    */
  def balancedSample(spark: SparkSession, dir: String, target: Long = 100): DataFrame = {
    // shares the memoized quantizer+assignment with corpus_buckets —
    // the checkpoint also serves the two reads below (counts + sample).
    // The per-row keep decision is the stratified_sample md5 coin
    // (r11, replacing Spark's seeded sampleBy): the oracle replays the
    // exact sample, so the whole entry hash-certifies, and the
    // per-cell fraction rides a broadcast join instead of a driver
    // collect — nothing leaves the cluster
    val (_, a) = cachedIvfIndex(spark, dir)
    val counts = a.groupBy("cell").agg(count(lit(1)).as("n_total"))
    val coin = conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 10000
    val sampled = a.join(broadcast(counts), "cell")
      .filter(coin < floor(least(lit(1.0),
        lit(target.toDouble) / col("n_total")) * 10000).cast("long"))
      .groupBy("cell").agg(count(lit(1)).as("n_sampled"))
    // LEFT join: a cell whose coin kept nothing still reports its row
    counts.join(sampled, Seq("cell"), "left")
      .select(col("cell"), col("n_total"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        round(coalesce(col("n_sampled"), lit(0L)).cast("double") /
          col("n_total"), 4).as("kept_frac"))
      .orderBy("cell")
  }

  /** balanced_sample replayed: per-cell occupancy from the certified
    * assignment CTEs, the md5 keep-coin, the same integer threshold
    * floor(min(1, target/n)·10⁴).
    */
  val balancedSampleSql: String =
    s"""WITH ${ivfQuantizerCtes()},
       |cnt AS (SELECT cell, count(*) AS n_total FROM asg GROUP BY cell),
       |kept AS (SELECT a.cell, count(*) AS n_sampled
       |  FROM asg a JOIN cnt USING (cell)
       |  WHERE ('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 8))::UBIGINT % 10000
       |    < CAST(floor(least(1.0, 100.0 / cnt.n_total) * 10000) AS BIGINT)
       |  GROUP BY a.cell)
       |SELECT cell, n_total, coalesce(n_sampled, 0) AS n_sampled,
       |  round(coalesce(n_sampled, 0) * 1.0 / n_total, 4) AS kept_frac
       |FROM cnt LEFT JOIN kept USING (cell) ORDER BY cell""".stripMargin

  /** Cell-bounded k-NN GRAPH over the whole corpus — every point's
    * top-k cosine neighbors among its IVF cellmates, the substrate
    * graph-based curation stands on (SemDeDup-style semantic dedup,
    * density/novelty scoring, label propagation over embeddings,
    * diversity-aware sampling all consume exactly this edge list).
    * The ANN faces answer "top-k for these FEW queries"; this face
    * answers it for EVERY corpus point at once, which is a different
    * plan: no broadcast query set, instead ONE cell-keyed self-join
    * whose pairwise work is Σ|cell|² — the SemDeDup bound already
    * carried by dedup_semantic, tuned by nCells (cells scale with the
    * corpus, so |cell| stays ~constant and the join stays linear-ish;
    * a boundary-straddling true neighbor is the recall cost, bought
    * back with [[assignCellsMulti]] soft assignment at higher cell
    * counts). Scoring/ranking is the certified brute discipline:
    * 4-dp cosine, neighbor-id tie-break, per-point row_number window
    * whose partition is bounded by the cell size.
    *
    * Rides the memoized [[cachedIvfIndex]] substrate (shared with
    * corpus_buckets / balanced_sample), so a verify pass trains the
    * quantizer once.
    */
  def knnGraph(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    cachedTier(spark, dir, "knnGraph") {
      val (_, assigned) = cachedIvfIndex(spark, dir)
      knnGraphEdges(assigned, k)
    }

  /** The edge list from an (vec_id, embedding, cell) assignment. */
  private[graft] def knnGraphEdges(assigned: DataFrame, k: Int = 5): DataFrame = {
    val a = assigned.select(col("vec_id"), col("embedding"), col("cell"))
    val b = assigned.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("__nv"), col("cell"))
    val w = Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("neighbor_id"))
    a.join(b, Seq("cell"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosine(col("embedding"), col("__nv")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("neighbor_id"), col("rank"), col("cosine"))
      .orderBy("vec_id", "rank")
  }

  /** The knn edge CTEs shared by every graph-face oracle: cell-keyed
    * self-join over the quantizer assignment + the brute ranking.
    */
  private val knnEdgeCtes: String =
    """cand AS (SELECT a.vec_id, b.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(ea.v, eb.v), 4) AS cosine
      |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id <> b.vec_id
      |  JOIN e ea ON ea.vec_id = a.vec_id
      |  JOIN e eb ON eb.vec_id = b.vec_id),
      |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
      |    ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank FROM cand),
      |edges AS (SELECT vec_id, neighbor_id, rank, cosine FROM ranked
      |          WHERE rank <= 5)""".stripMargin

  /** [[knnGraph]] replayed: the certified quantizer/assignment CTEs,
    * a cell-keyed self-join, and the brute tier's 4-dp cosine /
    * neighbor-id ranking — per corpus point this time, not per query.
    */
  val knnGraphSql: String =
    s"""WITH ${ivfQuantizerCtes()},
       |$knnEdgeCtes
       |SELECT vec_id, neighbor_id, rank, cosine FROM edges
       |ORDER BY vec_id, rank""".stripMargin

  /** Incremental k-NN-graph maintenance against a persisted index —
    * the ingestion story of [[knnGraph]]: the quantizer trains ONCE on
    * the already-indexed population (even ids — the persisted
    * centroids), a new batch (odd ids) cell-assigns map-side with NO
    * retraining, and only DIRTY cells (cells that received new points)
    * re-rank their edge lists — every other point's top-k provably
    * cannot change because candidates never cross cells. The spec
    * asserts exactly that: clean-cell edges carry over bit-identical,
    * so per-epoch cost is Σ|dirty cell|², not the corpus. Certified:
    * the oracle replays the even-trained quantizer (the
    * ann_ivf_incremental CTEs) + the knnGraph self-join over the full
    * assignment.
    */
  def knnGraphIncremental(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    val (centroids, oldAssigned) =
      ivfIndex(embs.filter(pmod(col("vec_id"), lit(2L)) === 0))
    val newAssigned = assignCells(centroids, embs.filter(pmod(col("vec_id"), lit(2L)) === 1))
    knnGraphEdges(oldAssigned.unionByName(newAssigned), k)
  }

  /** [[knnGraphIncremental]] replayed: the even-trained quantizer CTEs
    * with the full-corpus assignment, then the knnGraph ranking tail.
    */
  val knnGraphIncrementalSql: String =
    s"""WITH ${ivfQuantizerCtes(trainWhere = "vec_id % 2 = 0")},
       |$knnEdgeCtes
       |SELECT vec_id, neighbor_id, rank, cosine FROM edges
       |ORDER BY vec_id, rank""".stripMargin

  /** Acceptance readout over the [[knnGraph]] edge list — the three
    * numbers a curation pipeline checks before trusting a k-NN graph:
    * per rank, the edge count, the mean neighbor cosine (does
    * similarity decay sanely with rank?) and the MUTUALITY rate (the
    * fraction of a→b edges whose reverse b→a edge is also in the
    * graph — low mutuality means the cell partition is splitting true
    * neighborhoods and nCells/soft-assignment needs retuning; it is
    * also the signal SemDeDup-style pruning uses to pick which of a
    * near-dup pair to keep). One self-join of the k·n edge list on the
    * reversed key + a rank-keyed aggregation — edge-list-sized, never
    * corpus-pairwise.
    */
  def knnGraphStats(spark: SparkSession, dir: String): DataFrame = {
    val edges = knnGraph(spark, dir)
    val rev = edges.select(col("neighbor_id").as("vec_id"),
      col("vec_id").as("neighbor_id"), lit(1).as("__mutual"))
    edges.join(rev, Seq("vec_id", "neighbor_id"), "left")
      .groupBy("rank")
      .agg(count(lit(1)).as("n_edges"),
        // integer-quantized sufficient stats: the 4-dp cosines sum as
        // exact 1e-4 units (BIGINT), so the mean is one IEEE division
        // from exact integers — immune to FP summation order
        sum(round(col("cosine") * 10000).cast("long")).as("__cu"),
        sum(coalesce(col("__mutual"), lit(0)).cast("long")).as("__mu"))
      .select(col("rank"), col("n_edges"),
        round(col("__cu").cast("double") / (col("n_edges") * 10000), 4)
          .as("mean_cosine"),
        round(col("__mu").cast("double") / col("n_edges"), 4).as("mutual_rate"))
      .orderBy("rank")
  }

  /** [[knnGraphStats]] replayed over the [[knnGraphSql]] edge CTEs. */
  val knnGraphStatsSql: String =
    s"""WITH ${ivfQuantizerCtes()},
       |$knnEdgeCtes
       |SELECT CAST(e.rank AS INTEGER) AS rank, count(*) AS n_edges,
       |  round(sum(CAST(round(e.cosine * 10000) AS BIGINT)) * 1.0
       |    / (count(*) * 10000), 4) AS mean_cosine,
       |  round(sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
       |    / count(*), 4) AS mutual_rate
       |FROM edges e LEFT JOIN edges r
       |  ON r.vec_id = e.neighbor_id AND r.neighbor_id = e.vec_id
       |GROUP BY e.rank ORDER BY rank""".stripMargin

  /** Per-point embedding DENSITY over the [[knnGraph]] edge list — the
    * D4-style redundancy signal (Tirumala et al., 2023: dense regions
    * of embedding space are semantically duplicated; pruning them
    * beats random subsampling): each point's mean top-k neighbor
    * cosine (integer-quantized 1e-4 sufficient stats — one IEEE
    * division from exact BIGINTs) plus its corpus decile under the
    * (density, vec_id) total order, decile 10 = densest = first to
    * prune. The decile rides [[graft.functions.Ranks.globalNtile]] —
    * range partitions + exact ntile arithmetic, never a
    * single-partition window. Edge aggregation is one k·n-row keyed
    * agg with map-side partials; points with no cellmate have no
    * density and are absent (by construction on both engines).
    */
  def embeddingDensity(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Ranks
    val per = knnGraph(spark, dir)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_edges"),
        sum(round(col("cosine") * 10000).cast("long")).as("__cu"))
      .select(col("vec_id"), col("n_edges"),
        round(col("__cu").cast("double") / (col("n_edges") * 10000), 4)
          .as("density"))
    Ranks.globalNtile(per, 10, Seq(col("density"), col("vec_id")))
      .withColumnRenamed("bucket", "density_decile")
      .select("vec_id", "n_edges", "density", "density_decile")
      .orderBy("vec_id")
  }

  /** [[embeddingDensity]] replayed over the knn edge CTEs: the same
    * integer-unit mean and a plain ntile(10) — [[Ranks.globalNtile]]
    * is spec'd bit-identical to the naive global ntile, so the oracle
    * uses the naive form.
    */
  val embeddingDensitySql: String =
    s"""WITH ${ivfQuantizerCtes()},
       |$knnEdgeCtes,
       |per AS (SELECT vec_id, count(*) AS n_edges,
       |    round(sum(CAST(round(cosine * 10000) AS BIGINT)) * 1.0
       |      / (count(*) * 10000), 4) AS density
       |  FROM edges GROUP BY vec_id)
       |SELECT vec_id, n_edges, density,
       |  CAST(ntile(10) OVER (ORDER BY density, vec_id) AS INTEGER)
       |    AS density_decile
       |FROM per ORDER BY vec_id""".stripMargin

  /** Scalar-quantized (int8) ANN — the storage tier every production
    * vector store offers: the corpus is encoded to per-dimension affine
    * int8 codes (4× smaller than float32, which is what lets 4× more
    * corpus fit in executor memory / page cache at 100 TB).
    *
    * Plan shape: per-dim [min,max] bounds are one aggregation whose
    * map-side partials reduce every task to ≤ Dim rows before the
    * shuffle; the Dim-row result is collected (bounded, like the IVF
    * quantizer) and baked into the plan as literals. Encoding is a
    * map-side projection; scoring dequantizes on the fly and ranks by
    * cosine against the FLOAT query (asymmetric distance — the standard
    * SQ trick that keeps most of the accuracy). Approximate →
    * rows-only; recall and reconstruction floors in the spec.
    */
  def sqTopK(embs: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val (lo, span) = sqBounds(embs)
    // decode BELOW the join: the dequantized vector is projected once
    // per corpus row, not once per (corpus × query) joined row — the
    // interpreted HOF decode is the dominant per-row cost
    val corpus = embs.select(col("vec_id"),
      sqDecode(sqEncode(col("embedding"), lo, span), lo, span).as("vec"))
    val queries = broadcast(
      embs.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q")))
    val scored = corpus.join(queries, col("vec_id") =!= col("query_id"))
      .withColumn("cosine", round(cosine(col("q"), col("vec")), 4))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Per-dimension quantizer grid: (lo, span) literal arrays from one
    * partial-agg pass over the corpus (shared by sqTopK and its spec so
    * the spec always validates the production grid).
    */
  def sqBounds(embs: DataFrame): (Column, Column) = {
    val bounds: Array[(Double, Double)] = embs
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x").cast("double")).as("lo"), max(col("x").cast("double")).as("hi"))
      .collect().sortBy(_.getInt(0)).map(r => (r.getDouble(1), r.getDouble(2)))
    (array(bounds.toIndexedSeq.map(b => lit(b._1)): _*),
      array(bounds.toIndexedSeq.map(b => lit(math.max(b._2 - b._1, 1e-12))): _*))
  }

  /** code_i = round((x_i - lo_i) / span_i · 255) − 128 ∈ [-128, 127]. */
  def sqEncode(v: Column, lo: Column, span: Column): Column =
    transform(v, (x, i) =>
      (round((x.cast("double") - element_at(lo, i + 1)) / element_at(span, i + 1) * 255.0)
        - 128).cast("tinyint"))

  /** Affine inverse of [[sqEncode]] (float, feeds the cosine kernel). */
  def sqDecode(c: Column, lo: Column, span: Column): Column =
    transform(c, (q, i) =>
      ((q.cast("double") + 128.0) / 255.0 * element_at(span, i + 1)
        + element_at(lo, i + 1)).cast("float"))

  def sqTopK(spark: SparkSession, dir: String): DataFrame =
    cachedTier(spark, dir, "sq")(sqTopK(Tables.embeddings(spark, dir)))

  /** PCA-prefilter ANN — the dimensionality-reduction tier: corpus and
    * queries project into the top-`q` principal subspace (the [[Pca]]
    * moment pass + declarative projection), candidates rank by
    * REDUCED-space cosine (q/Dim of the scoring flops, and by
    * Eckart–Young the variance-optimal q-dim screen), and only the top
    * k·`candFactor` candidates per query pay the full-dimension exact
    * cosine rerank (tiny candidate set → broadcast into the corpus
    * scan, same refine shape as [[ivfpqRefineTopK]]). Approximate →
    * rows-only; recall vs brute spec-held.
    *
    * Defaults are sized for the SYNTHETIC corpus, whose spectrum is
    * near-flat (isotropic random vectors — top-32/64 components carry
    * only ~half the variance, the worst case for any spectral screen);
    * real embedding spectra decay fast, where q can drop to d/8 at the
    * same recall. The spectrum face (`embedding_pca`) is exactly the
    * diagnostic that picks q.
    */
  def pcaTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
              q: Int = 32, candFactor: Int = 8): DataFrame =
    cachedTier(spark, dir, "pca") {
      val packed = Pca.pcaProject(spark, dir, q)
        .groupBy("vec_id")
        .agg(sort_array(collect_list(struct(col("pc"), col("score")))).as("ps"))
        .select(col("vec_id"),
          transform(col("ps"), p => p.getField("score")).as("rvec"))
        .localCheckpoint(true)
      val rq = broadcast(packed.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("rvec").as("qr")))
      val wc = Window.partitionBy("query_id").orderBy(col("rscore").desc, col("vec_id"))
      val cands = packed.join(rq, col("vec_id") =!= col("query_id"))
        .withColumn("rscore", cosine(col("qr"), col("rvec")))
        .withColumn("crank", row_number().over(wc))
        .filter(col("crank") <= k * candFactor)
        .select("query_id", "vec_id")
      val embs = Tables.embeddings(spark, dir)
      val qfull = broadcast(embs.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
      val wr = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
      embs.join(broadcast(cands), "vec_id")
        .join(qfull, "query_id")
        .withColumn("cosine", round(cosine(col("qv"), col("embedding")), 4))
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
        .orderBy("query_id", "rank")
    }

  /** Product-quantized (PQ) ANN — the compression tier past SQ: the
    * vector splits into `nSub` subvectors, each stored as the id of its
    * nearest per-subspace codebook centroid, so Dim float32s become
    * nSub 4-bit codes (256 B → 8 B, 32× at the defaults) — the
    * FAISS-family trick that keeps a 100 TB corpus's codes
    * memory-resident.
    *
    * Codebooks are per-subspace k-means over the same bounded driver
    * sample as the IVF coarse quantizer, baked into the plan as
    * literals: encoding is a map-side argmin per subspace (same
    * struct<d,j>/array_min shape as cell assignment), decoding a
    * map-side codebook lookup — no join, no shuffle, corpus scanned
    * once. Scoring decodes BELOW the broadcast query join (the sqTopK
    * discipline: one decode per corpus row, not per joined pair) and
    * ranks by cosine against the FLOAT query (asymmetric distance).
    * Approximate → rows-only; recall + reconstruction floors in the
    * spec.
    */
  /** PQ top-k via ADC (asymmetric distance computation), the FAISS
    * scoring path: the corpus is encoded ONCE to nSub small codes and
    * its reconstructed norm² is folded to a scalar from a norm lookup
    * table — after that no pair ever touches a 64-dim vector again.
    * Each query precomputes dot(q_m, book[m][j]) for every (m, j) on
    * the driver (nSub×nCodes doubles — pure codebook math on the
    * already-bounded query set), so per-pair scoring is nSub table
    * lookups + one divide instead of decode + a 64-dim cosine: the
    * r4 bench measured 6.3 s → 2.2 s at sf0.1 (the remainder is the
    * one-time corpus encode, which a persisted index would amortize).
    * cosine(q, decode(code)) is reproduced exactly (up to FP grouping,
    * rounded 4dp): dot(q, concatₘ cₘ) = Σₘ dot(qₘ, cₘ).
    */
  def pqTopK(embs: DataFrame, nQueries: Int = 10, k: Int = 5,
             nSub: Int = 16, nCodes: Int = 16, trainSize: Int = 4096): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val books = pqCodebooks(embs, nSub, nCodes, trainSize)
    if (books.isEmpty) return emptyTopK(embs)
    val subDim = books.head.head.length

    // reconstructed norm² per corpus row: LUT[m][code] summed — map-side
    val normLut = array(books.toIndexedSeq.map(book =>
      array(book.toIndexedSeq.map(c => lit(c.map(x => x * x).sum)): _*)): _*)
    val corpus = embs.select(col("vec_id"),
        pqEncode(col("embedding"), books).as("codes"))
      .withColumn("dnorm2",
        aggregate(zip_with(normLut, col("codes"),
          (lut, c) => element_at(lut, c + 1)), lit(0.0), (a, v) => a + v))

    // per-query dot LUTs: the query set is bounded (vec_id < nQueries)
    // BY CONSTRUCTION — collecting it is the same driver payload the
    // previous broadcast shipped, now paired with codebook dot tables
    val qLuts = embs.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val (qnorm, lut) = adcQueryLut(r.getSeq[Float](1).toArray, books, subDim)
        (r.getLong(0), qnorm, lut)
      }.toSeq
    val queries = broadcast(qLuts.toDF("query_id", "qnorm", "dot_lut"))

    val scored = corpus.join(queries, col("vec_id") =!= col("query_id"))
      .withColumn("dot",
        aggregate(zip_with(col("dot_lut"), col("codes"),
          (lut, c) => element_at(lut, c + 1)), lit(0.0), (a, v) => a + v))
      .withColumn("cosine",
        round(when(col("qnorm") === 0.0 || col("dnorm2") === 0.0, 0.0)
          .otherwise(col("dot") / (col("qnorm") * sqrt(col("dnorm2")))), 4))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Driver-side ADC precomputation for one query: (‖q‖, dot LUT) where
    * `lut(m)(j) = dot(q_m, books(m)(j))` — per-pair scoring becomes nSub
    * table lookups instead of a Dim-wide cosine.
    */
  private def adcQueryLut(q: Array[Float], books: Array[Array[Array[Double]]], subDim: Int)
      : (Double, Seq[Seq[Double]]) = {
    val qnorm = math.sqrt(q.map(x => x.toDouble * x).sum)
    val lut = books.zipWithIndex.map { case (book, m) =>
      book.map(c => c.indices.map(i => q(m * subDim + i).toDouble * c(i)).sum).toSeq
    }.toSeq
    (qnorm, lut)
  }

  /** IVF-PQ — the deployable composition of the two index tiers, the
    * FAISS-standard shape for web-scale ANN: the coarse quantizer
    * bounds WHICH rows are scored (only the nProbe probed cells per
    * query, like [[ivfTopK]]) and PQ bounds WHAT a scored row costs
    * (nSub code lookups against the query's ADC table, like
    * [[pqTopK]]). Flat PQ scans every corpus code per query set; here
    * the scored fraction is ~nProbe/nCells, which is what keeps query
    * cost sublinear when the corpus is 100 TB.
    *
    * Plan shape: ONE corpus scan encodes cell + PQ codes + norm² map-
    * side (argmin and code LUTs are literal expressions — no join, no
    * shuffle); the probe side (query ADC tables × probed cells) is
    * built entirely on the driver from the two bounded artifacts
    * (centroid table, codebooks) and broadcast, so the only join is
    * broadcast-hash on `cell` and the only shuffle carries (query,
    * vec, score) scalars into the top-k window. Codes are
    * residual-free (raw-vector PQ): recall loss vs per-cell residual
    * codebooks is negligible at these code sizes and the codebooks
    * stay query-independent, which is what lets one persisted code
    * table serve any probe set. The default probes MORE cells than
    * flat IVF (6/16 vs 4/16) — the standard compressed-tier trade:
    * ADC-scored rows cost nSub lookups instead of a Dim-wide cosine,
    * so widening the probe set to absorb code error is cheaper than
    * the recall it buys back. Approximate → rows-only; recall floor
    * (≥ the flat-IVF tier's spec floor) in AnnSpec.
    */
  def ivfpqTopK(embs: DataFrame, nQueries: Int = 10, k: Int = 5,
                nCells: Int = 16, nProbe: Int = 6,
                nSub: Int = 16, nCodes: Int = 16, trainSize: Int = 4096): DataFrame =
    ivfpqTopKFromMachinery(
      ivfpqMachinery(embs, nCells, nSub, nCodes, trainSize, materialize = false),
      embs, nQueries, k, nProbe)

  /** Trained IVF-PQ machinery over an arbitrary corpus: coarse
    * centroids, PQ codebooks, encoded code table. The one-build-many-
    * consumers unit every ivfpq face shares — the embeddings driver
    * faces memoize it per dir ([[cachedIvfpqMachinery]]) and the
    * multimodal family memoizes its own over the decoded-raster
    * features (BinaryPipeline.cachedMmIvfpqMachinery), because the
    * training sample + corpus encode dominate a one-shot call.
    * `materialize` checkpoint-pins the code table — set it iff the
    * machinery outlives one query (a memo entry); a one-shot caller
    * streams the encode straight into scoring instead.
    */
  private[graft] def ivfpqMachinery(embs: DataFrame, nCells: Int, nSub: Int,
                                    nCodes: Int, trainSize: Int, materialize: Boolean)
      : Option[(Array[(Int, Array[Double])], Array[Array[Array[Double]]], DataFrame)] =
    trainFromCorpus(embs, nCells, trainSize).flatMap { refined =>
      val books = pqCodebooks(embs, nSub, nCodes, trainSize)
      if (books.isEmpty) None
      else {
        val codes = ivfpqEncode(embs, refined, books)
        Some((refined, books, if (materialize) codes.localCheckpoint(true) else codes))
      }
    }

  /** ADC-probe top-k over prebuilt [[ivfpqMachinery]] (None → the
    * empty-corpus contract result).
    */
  private[graft] def ivfpqTopKFromMachinery(
      machinery: Option[(Array[(Int, Array[Double])], Array[Array[Array[Double]]], DataFrame)],
      embs: DataFrame, nQueries: Int = 10, k: Int = 5, nProbe: Int = 6): DataFrame =
    machinery match {
      case None => emptyTopK(embs)
      case Some((refined, books, codes)) =>
        ivfpqScore(codes, refined, books,
          embs.filter(col("vec_id") < nQueries), k, nProbe)
    }

  /** Contract-schema empty top-k result (empty-corpus face of every
    * ANN tier).
    */
  private[graft] def emptyTopK(embs: DataFrame): DataFrame =
    embs.select(col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
      lit(1).as("rank"), lit(0.0).as("cosine")).limit(0)

  /** One corpus scan → (vec_id, cell, codes, dnorm2): cell argmin + PQ
    * codes + reconstructed norm², all map-side (literal centroid table,
    * native encode expression, norm LUT).
    */
  private def ivfpqEncode(embs: DataFrame, refined: Array[(Int, Array[Double])],
                          books: Array[Array[Array[Double]]]): DataFrame = {
    val normLut = array(books.toIndexedSeq.map(book =>
      array(book.toIndexedSeq.map(c => lit(c.map(x => x * x).sum)): _*)): _*)
    withNearestCell(embs, refined)
      .select(col("vec_id"), col("cell"), pqEncode(col("embedding"), books).as("codes"))
      .withColumn("dnorm2",
        aggregate(zip_with(normLut, col("codes"),
          (lut, c) => element_at(lut, c + 1)), lit(0.0), (a, v) => a + v))
  }

  /** Probe + ADC ranking over an already-encoded code table. Probe rows
    * = (query, probed cell) pairs with the query's ADC table — nQueries
    * × nProbe rows, assembled driver-side from the driver-resident
    * centroids/codebooks (no extra Spark pass) and broadcast. Cell
    * choice mirrors probeCells: nearest-l2², ties to the lowest cell id.
    */
  private def ivfpqScore(codes: DataFrame, refined: Array[(Int, Array[Double])],
                         books: Array[Array[Array[Double]]], queries: DataFrame,
                         k: Int, nProbe: Int): DataFrame = {
    val scored = ivfpqAdcScored(codes, refined, books, queries, nProbe)
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** The shared ADC probe pipeline: broadcast (query, probed-cell, ADC
    * LUT) rows, broadcast-hash join on `cell`, per-row table-lookup
    * cosine. Returns the scored candidate frame (query_id, vec_id,
    * cosine) for a consumer's own ranking step.
    */
  private def ivfpqAdcScored(codes: DataFrame, refined: Array[(Int, Array[Double])],
                             books: Array[Array[Array[Double]]], queries: DataFrame,
                             nProbe: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val subDim = books.head.head.length
    val probeRows = queries
      .select(col("vec_id"), col("embedding")).collect()
      .flatMap { r =>
        val id = r.getLong(0)
        val q = r.getSeq[Float](1).toArray
        val (qnorm, lut) = adcQueryLut(q, books, subDim)
        refined.map { case (cell, c) =>
          var d = 0.0; var i = 0
          while (i < c.length) { val t = q(i) - c(i); d += t * t; i += 1 }
          (d, cell)
        }.sortBy(identity).take(nProbe)
          .map { case (_, cell) => (id, qnorm, lut, cell) }
      }.toSeq
    val probes = broadcast(probeRows.toDF("query_id", "qnorm", "dot_lut", "cell"))

    codes.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("dot",
        aggregate(zip_with(col("dot_lut"), col("codes"),
          (lut, c) => element_at(lut, c + 1)), lit(0.0), (a, v) => a + v))
      .withColumn("cosine",
        round(when(col("qnorm") === 0.0 || col("dnorm2") === 0.0, 0.0)
          .otherwise(col("dot") / (col("qnorm") * sqrt(col("dnorm2")))), 4))
  }

  /** Trained quantizers + encoded code table shared by the DRIVER
    * faces of the ivfpq and ivfpq_refine tiers, memoized per dir. Both
    * tiers consume the identical machinery (same coarse centroids,
    * same codebooks, same corpus encode — refine only ADDS an exact
    * re-rank of ADC survivors), so building it twice would double the
    * dominant cost (training samples + the corpus encode scan) for no
    * informational difference; the persisted-index entries already
    * tell the amortization story, this is the same discipline inside
    * one process. Parameters are locked to the driver-face defaults
    * (nCells 16, nSub 16, nCodes 16, trainSize 4096) — keep in step or
    * the cache serves a foreign index. The code table is
    * localCheckpoint-materialized so both tiers read shuffle output.
    */
  private def cachedIvfpqMachinery(spark: SparkSession, dir: String)
      : Option[(Array[(Int, Array[Double])], Array[Array[Array[Double]]], DataFrame)] =
    graft.SessionCache.getOrElseUpdate(spark, ("ivfpqMachinery", dir)) {
      ivfpqMachinery(Tables.embeddings(spark, dir),
        nCells = 16, nSub = 16, nCodes = 16, trainSize = 4096, materialize = true)
    }

  def ivfpqTopK(spark: SparkSession, dir: String): DataFrame =
    cachedTier(spark, dir, "ivfpq") {
      ivfpqTopKFromMachinery(cachedIvfpqMachinery(spark, dir),
        Tables.embeddings(spark, dir), nQueries = 10, k = 5, nProbe = 6)
    }

  /** IVF-PQ with an exact re-rank tier — the standard FAISS refine step
    * (`IndexRefineFlat`; Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011, §V): ADC-score the probed
    * cells as usual, keep the top k′ = refineFactor·k CANDIDATES per
    * query by ADC score, re-rank only those k′ by exact cosine from the
    * raw vectors, emit the exact-ranked top k.
    *
    * This closes most of the code-quantization recall gap at bounded
    * extra cost: k′ exact distances per query — not |probed cells| —
    * so the compressed scan still does the heavy lifting and the exact
    * math touches a constant-sized survivor set. Candidate recall is
    * LIMITED by the probe set (a true neighbor in an unprobed cell
    * stays lost — same as plain IVF-PQ); what refine fixes is the
    * ADC-ordering error WITHIN the probed set, which is where most of
    * the loss at small k comes from.
    *
    * Plan shape: the ADC stage is the shared broadcast-probe pipeline
    * (one corpus scan, broadcast-hash join on `cell`); the survivor set
    * (nQueries·k′ ids) broadcasts back against the raw-vector table, so
    * the re-rank is a second corpus SCAN filtered by a broadcast hash
    * join — no shuffle of the corpus. A serving deployment would fetch
    * the k′ raw vectors from keyed storage instead of rescanning; the
    * scan form is the batch-engine equivalent (and what the driver
    * entry measures).
    */
  def ivfpqRefineTopK(embs: DataFrame, nQueries: Int = 10, k: Int = 5,
                      nCells: Int = 16, nProbe: Int = 6,
                      nSub: Int = 16, nCodes: Int = 16, trainSize: Int = 4096,
                      refineFactor: Int = 4): DataFrame =
    trainFromCorpus(embs, nCells, trainSize) match {
      case None => emptyTopK(embs)
      case Some(refined) =>
        val books = pqCodebooks(embs, nSub, nCodes, trainSize)
        if (books.isEmpty) emptyTopK(embs)
        else ivfpqRefineScore(embs, ivfpqEncode(embs, refined, books), refined, books,
          nQueries, k, nProbe, refineFactor)
    }

  /** The refine pipeline downstream of the shared machinery: ADC probe
    * over the encoded code table, keep k′ = refineFactor·k survivors
    * per query, exact-cosine re-rank from the raw vectors.
    */
  private def ivfpqRefineScore(embs: DataFrame, codes: DataFrame,
                               refined: Array[(Int, Array[Double])],
                               books: Array[Array[Array[Double]]],
                               nQueries: Int, k: Int, nProbe: Int,
                               refineFactor: Int): DataFrame = {
    val queries = embs.filter(col("vec_id") < nQueries)
    val adc = ivfpqAdcScored(codes, refined, books, queries, nProbe)
    val kPrime = refineFactor * k
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    val survivors = adc
      .withColumn("r", row_number().over(wAdc))
      .filter(col("r") <= kPrime)
      .select("query_id", "vec_id")
    val qVecs = broadcast(queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q")))
    val exact = embs.select(col("vec_id"), col("embedding"))
      .join(broadcast(survivors), "vec_id")
      .join(qVecs, "query_id")
      .withColumn("cosine", round(cosine(col("q"), col("embedding")), 4))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    exact
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  def ivfpqRefineTopK(spark: SparkSession, dir: String): DataFrame =
    cachedTier(spark, dir, "ivfpq_refine") {
      val embs = Tables.embeddings(spark, dir)
      cachedIvfpqMachinery(spark, dir) match {
        case None => emptyTopK(embs)
        case Some((refined, books, codes)) =>
          ivfpqRefineScore(embs, codes, refined, books,
            nQueries = 10, k = 5, nProbe = 6, refineFactor = 4)
      }
    }

  // ------------------------------------------------------------------
  // Persisted IVF-PQ index — the amortization tier: ~1/3 of a one-shot
  // ivfpqTopK is the corpus encode (measured at sf0.1/sf1), which a
  // real deployment pays ONCE. The three artifacts below are all plain
  // persistable tables; new embedding batches encode map-side against
  // the persisted quantizers with no retraining and no old-corpus
  // access — the PQ mirror of the flat ivfIndex/assignCells pattern.
  // ------------------------------------------------------------------

  /** (centroid table, codebook table, code table):
    *  - centroids (cell, centroid array<double>) — O(cells×dim) rows;
    *  - codebooks (sub, code, centroid array<double>) — nSub×nCodes rows;
    *  - codes (vec_id, cell, codes array<int>, dnorm2) — the corpus at
    *    ~4·nSub bytes a row instead of 4·dim.
    * Empty frames for an empty corpus.
    */
  def ivfpqIndex(embs: DataFrame, nCells: Int = 16, nSub: Int = 16,
                 nCodes: Int = 16, trainSize: Int = 4096)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = embs.sparkSession
    import spark.implicits._
    val emptyCodes = embs.select(col("vec_id"), lit(0).as("cell"),
      array().cast("array<int>").as("codes"), lit(0.0).as("dnorm2")).limit(0)
    trainFromCorpus(embs, nCells, trainSize) match {
      case None =>
        (Seq.empty[(Int, Seq[Double])].toDF("cell", "centroid"),
          Seq.empty[(Int, Int, Seq[Double])].toDF("sub", "code", "centroid"),
          emptyCodes)
      case Some(refined) =>
        val books = pqCodebooks(embs, nSub, nCodes, trainSize)
        val bookRows = for {
          (book, m) <- books.zipWithIndex
          (c, j) <- book.zipWithIndex
        } yield (m, j, c.toSeq)
        (refined.toSeq.map { case (c, v) => (c, v.toSeq) }.toDF("cell", "centroid"),
          bookRows.toSeq.toDF("sub", "code", "centroid"),
          ivfpqEncode(embs, refined, books))
    }
  }

  /** Driver-side literal form of a persisted codebook table (bounded:
    * nSub×nCodes×subDim, like the centroid table).
    */
  private def codebookTable(codebooks: DataFrame): Array[Array[Array[Double]]] =
    codebooks.select(col("sub"), col("code"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))

  /** Encode a NEW embedding batch against a persisted index's
    * quantizers — map-side, no retraining, cost scales with the batch.
    * Append the result to the persisted code table.
    */
  def ivfpqAssign(centroids: DataFrame, codebooks: DataFrame, newEmbs: DataFrame): DataFrame = {
    val cells = centroidTable(centroids)
    val books = codebookTable(codebooks)
    if (cells.isEmpty || books.isEmpty)
      newEmbs.select(col("vec_id"), lit(0).as("cell"),
        array().cast("array<int>").as("codes"), lit(0.0).as("dnorm2")).limit(0)
    else ivfpqEncode(newEmbs, cells, books)
  }

  /** Top-k probe over a persisted IVF-PQ index. Empty index → empty
    * contract-schema result.
    */
  def ivfpqTopKFromIndex(centroids: DataFrame, codebooks: DataFrame, codes: DataFrame,
                         queries: DataFrame, k: Int = 5, nProbe: Int = 6): DataFrame = {
    val cells = centroidTable(centroids)
    val books = codebookTable(codebooks)
    if (cells.isEmpty || books.isEmpty) emptyTopK(queries)
    else ivfpqScore(codes, cells, books, queries, k, nProbe)
  }

  /** Driver entry for the incremental IVF-PQ pattern: even vec_ids are
    * the already-indexed corpus (both quantizers trained on them
    * alone), odd ids the new batch encoded against the persisted
    * artifacts without retraining. Oracle-certified:
    * [[ivfpqIncrementalSql]] replays both even-trained quantizers;
    * equality with the monolithic same-artifacts path is additionally
    * spec-asserted.
    */
  def ivfpqIncremental(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    val (centroids, codebooks, oldCodes) =
      ivfpqIndex(embs.filter(pmod(col("vec_id"), lit(2L)) === 0))
    val newCodes = ivfpqAssign(centroids, codebooks,
      embs.filter(pmod(col("vec_id"), lit(2L)) === 1))
    ivfpqTopKFromIndex(centroids, codebooks, oldCodes.unionByName(newCodes),
      embs.filter(col("vec_id") < 10))
  }

  /** Per-subspace PQ codebooks from the bounded driver sample:
    * `books(m)(j)` is centroid j of subspace m. Empty on an empty
    * corpus. Public so the spec validates the production codebooks.
    */
  def pqCodebooks(embs: DataFrame, nSub: Int = 16, nCodes: Int = 16,
                  trainSize: Int = 4096): Array[Array[Array[Double]]] = {
    val sample = corpusSample(embs, trainSize)
    if (sample.isEmpty) return Array.empty
    val subDim = sample.head.length / nSub
    require(subDim * nSub == sample.head.length,
      s"dim ${sample.head.length} must divide into $nSub subspaces")
    Array.tabulate(nSub) { m =>
      val sub = sample.map(v => v.slice(m * subDim, (m + 1) * subDim))
      trainCentroids(sub, nCodes, iters = 3).map(_._2)
    }
  }

  /** Map-side PQ encode via the native [[graft.functions.VectorExpressions.pqEncodeCodes]]
    * expression: per subspace, argmin over the flat codebook, ties to
    * the lowest code id. Output array<int> of length nSub. The earlier
    * literal form (nSub×nCodes inlined struct<d,j> distances +
    * array_min) was value-identical but generated >64 KB of bytecode
    * once IVF cell assignment shared the projection, kicking the whole
    * stage out of codegen.
    */
  def pqEncode(v: Column, books: Array[Array[Array[Double]]]): Column = {
    val subDim = books.head.head.length
    graft.functions.VectorExpressions.pqEncodeCodes(
      v, books.flatten.flatten, books.length, books.head.length, subDim)
  }

  /** Codebook-lookup decode (inverse of [[pqEncode]] up to quantization
    * error): concat of each subspace's selected centroid.
    */
  def pqDecode(codes: Column, books: Array[Array[Array[Double]]]): Column =
    flatten(array(books.toIndexedSeq.zipWithIndex.map { case (book, m) =>
      element_at(
        array(book.toIndexedSeq.map(c => array(c.toIndexedSeq.map(lit): _*)): _*),
        element_at(codes, m + 1) + 1)
    }: _*))

  def pqTopK(spark: SparkSession, dir: String): DataFrame =
    cachedTier(spark, dir, "pq")(pqTopK(Tables.embeddings(spark, dir)))

  /** Driver-side Lloyd iterations over the training sample: systematic
    * seeds, `iters` assign/recompute rounds. Deterministic (no RNG);
    * empty cells keep their previous centroid.
    */
  private def trainCentroids(sample: Array[Array[Double]], nCells: Int, iters: Int)
      : Array[(Int, Array[Double])] = {
    val k = math.min(nCells, math.max(sample.length, 1))
    val dim = if (sample.nonEmpty) sample.head.length else 0
    val stride = math.max(sample.length / k, 1)
    // every centroid coordinate — seeds AND per-round means — is
    // quantized to 6 dp (the embedding_kmeans cross-engine
    // bit-stability rule): both engines then fold bit-identical
    // centroid tables forward, which is what lets the DuckDB oracle
    // replay the quantizer and certify ann_ivf_topk/corpus_buckets.
    // HALF_UP, matching Spark's round() and DuckDB's round().
    def q6(x: Double): Double =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    var centroids: Array[Array[Double]] =
      Array.tabulate(k)(c =>
        sample(math.min(c * stride, sample.length - 1)).map(q6))
    var it = 0
    while (it < iters && sample.nonEmpty) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - centroids(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else { val m = new Array[Double](dim); var i = 0
          while (i < dim) { m(i) = q6(sums(c)(i) / counts(c)); i += 1 }; m }
      }
      it += 1
    }
    centroids.zipWithIndex.map { case (v, c) => (c, v) }
  }

  /** array<struct<d, cell>> of squared distances from `v` to each centroid. */
  private def cellDistances(v: Column, centroids: Array[(Int, Array[Double])]): Column =
    array(centroids.toIndexedSeq.map { case (cell, c) =>
      struct(l2sq(v, array(c.toIndexedSeq.map(lit): _*)).as("d"), lit(cell).as("cell"))
    }: _*)

  /** Map-side argmin cell assignment: array_min over the literal centroid
    * table orders struct<d,cell> lexicographically — nearest distance,
    * ties to the lowest cell id. No join, no shuffle, stays in codegen.
    */
  private def withNearestCell(embs: DataFrame, centroids: Array[(Int, Array[Double])]): DataFrame =
    embs.select(col("vec_id"), col("embedding"),
      array_min(cellDistances(col("embedding"), centroids)).getField("cell").as("cell"))

  def ivfTopK(spark: SparkSession, dir: String): DataFrame =
    cachedTier(spark, dir, "ivf")(ivfTopK(Tables.embeddings(spark, dir)))

  /** Index-quality evaluation: recall@k of every approximate tier
    * against the exact brute-force ground truth, in ONE report — the
    * acceptance gate a real ANN deployment runs before switching
    * indexes. recall = |approx ∩ exact| / |exact| per method over the
    * shared query set.
    *
    * Scale: ground truth and each tier's result are top-k tables
    * (nQueries × k rows); everything after the tiers themselves is
    * joins of tiny tables (truth is checkpointed once, the comparison
    * is a semi join + two counts in one job). Evaluation cost is the
    * sum of the tiers being judged, not a new scan family.
    */
  /** IVF probe-width acceptance sweep — the tuning curve an ANN
    * deployment sizes FIRST: for each candidate nprobe, the exact
    * scan cost (candidates scored per query) against the recall@5 it
    * buys vs brute-force truth. Candidates are scored ONCE at the
    * widest probe (each corpus vector lives in exactly one cell, so a
    * narrower probe is a pure cell_rank filter — no rescoring, no
    * dedup); per-width top-k and the truth semi-probe are scalar-row
    * windows/joins. Every input is a certified replay (the quantized
    * k-means quantizer + the brute tier), so the whole sweep is
    * oracle-certified — integer counts and exact integer ratios only.
    */
  val ProbeWidths: Seq[Int] = Seq(1, 2, 4, 8)

  def ivfProbePlan(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val (centroids, assigned) = cachedIvfIndex(spark, dir)
    val refined = centroidTable(centroids)
    val maxProbe = ProbeWidths.max
    val truth = bruteForceTopK(spark, dir).select(col("query_id"), col("neighbor_id"))
    val queries = Tables.embeddings(spark, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val qCells = queries
      .select(col("query_id"), col("q"),
        posexplode(slice(array_sort(cellDistances(col("q"), refined)), 1, maxProbe))
          .as(Seq("pos", "s")))
      .select(col("query_id"), col("q"),
        (col("pos") + 1).as("cell_rank"), col("s").getField("cell").as("cell"))
    val cand = assigned.join(broadcast(qCells), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", round(cosine(col("q"), col("embedding")), 4))
      .select("query_id", "vec_id", "cell_rank", "cosine")
      .localCheckpoint(true)
    val perNp = cand
      .crossJoin(broadcast(ProbeWidths.toDF("nprobe")))
      .filter(col("cell_rank") <= col("nprobe"))
    val nCand = perNp.groupBy("nprobe").agg(count(lit(1)).as("n_candidates"))
    val w = Window.partitionBy("nprobe", "query_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    val top = perNp.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    val hits = top
      .join(truth, top("query_id") === truth("query_id") &&
        top("vec_id") === truth("neighbor_id"), "left_semi")
      .groupBy("nprobe").agg(count(lit(1)).as("n_hits"))
    val tq = broadcast(truth.agg(count(lit(1)).as("n_truth"),
      countDistinct(col("query_id")).as("n_queries")))
    nCand.join(hits, Seq("nprobe"), "left_outer").crossJoin(tq)
      .select(col("nprobe"), col("n_candidates"),
        round(col("n_candidates").cast("double") / col("n_queries"), 2)
          .as("mean_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_truth"), 4)
          .as("recall_at_5"))
      .orderBy("nprobe")
  }

  /** ivf_probe_plan replayed: the certified quantizer CTEs, the probe
    * grid as a cell_rank filter over once-scored candidates, the brute
    * truth replay, and integer-ratio recall — composed verbatim.
    */
  val ivfProbePlanSql: String =
    s"""WITH ${ivfQuantizerCtes()},
       |pr(nprobe) AS (VALUES (1), (2), (4), (8)),
       |qp AS (SELECT query_id, cell, rk AS cell_rank FROM (
       |  SELECT e.vec_id AS query_id, c.cid AS cell, row_number() OVER (
       |    PARTITION BY e.vec_id ORDER BY list_distance(e.v, c.cl), c.cid) AS rk
       |  FROM e, c3 c WHERE e.vec_id < 10) WHERE rk <= 8),
       |cand AS (SELECT qp.query_id, a.vec_id, qp.cell_rank,
       |    round(list_cosine_similarity(eq.v, ec.v), 4) AS cosine
       |  FROM qp JOIN asg a USING (cell)
       |  JOIN e eq ON eq.vec_id = qp.query_id
       |  JOIN e ec ON ec.vec_id = a.vec_id
       |  WHERE a.vec_id <> qp.query_id),
       |pn AS (SELECT pr.nprobe, c.* FROM cand c, pr WHERE c.cell_rank <= pr.nprobe),
       |nc AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS n_candidates FROM pn GROUP BY 1),
       |tops AS (SELECT nprobe, query_id, vec_id FROM (
       |  SELECT nprobe, query_id, vec_id, row_number() OVER (
       |    PARTITION BY nprobe, query_id ORDER BY cosine DESC, vec_id) AS rank FROM pn)
       |  WHERE rank <= 5),
       |bscored AS (
       |  SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(q.v, t.v), 4) AS cosine
       |  FROM e q JOIN e t ON t.vec_id <> q.vec_id WHERE q.vec_id < 10),
       |btr AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS rank FROM bscored) WHERE rank <= 5),
       |tq AS (SELECT CAST(count(*) AS BIGINT) AS n_truth,
       |              CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries FROM btr),
       |h AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM tops JOIN btr ON tops.query_id = btr.query_id
       |    AND tops.vec_id = btr.neighbor_id GROUP BY 1)
       |SELECT nc.nprobe, nc.n_candidates,
       |  round(CAST(nc.n_candidates AS DOUBLE) / tq.n_queries, 2) AS mean_candidates,
       |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / tq.n_truth, 4) AS recall_at_5
       |FROM nc LEFT JOIN h USING (nprobe), tq
       |ORDER BY nprobe""".stripMargin

  def recallReport(embs: DataFrame): DataFrame =
    recallReportFrom(bruteForceTopK(embs), Seq(
      "lsh" -> lshTopK(embs), "ivf" -> ivfTopK(embs),
      "sq" -> sqTopK(embs), "pq" -> pqTopK(embs),
      "ivfpq" -> ivfpqTopK(embs)))

  private[graft] def recallReportFrom(brute: DataFrame, tiers: Seq[(String, DataFrame)]): DataFrame = {
    val truth = brute
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
    // materialized: BOTH the hit semi-join and the returned-count agg
    // read this union, and without the checkpoint each consumer re-runs
    // every tier (Spark has no common-subplan elimination) —
    // measured ~2× the whole report's cost.
    val tagged = tiers
      .map { case (m, df) =>
        df.select(lit(m).as("method"), col("query_id"), col("neighbor_id")) }
      .reduce(_ unionByName _)
      .localCheckpoint(true)
    val hits = tagged
      .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("method").agg(count(lit(1)).as("n_hits"))
    tagged.groupBy("method").agg(count(lit(1)).as("n_returned"))
      .join(hits, Seq("method"), "left")
      .crossJoin(broadcast(truth.agg(count(lit(1)).cast("double").as("n_truth"))))
      .select(col("method"), col("n_returned"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / col("n_truth"), 4).as("recall_at_k"))
      .orderBy("method")
  }

  /** Driver face: the gate consumes the SAME memoized tier tables the
    * standalone entries serve, so a verify/bench pass computes each
    * tier once — the report's own cost shrinks to tiny-table joins.
    * Reports the five SQL-replayable tiers so the WHOLE report is
    * hash-certified ([[recallReportSql]] composes the five certified
    * tier CTE chains + the brute truth); the PCA tier's recall lives
    * on its own spectral-invariant specs (`ann_pca_topk` —
    * eigendecomposition is not SQL-expressible, so including it here
    * would demote the report back to rows-only).
    */
  def recallReport(spark: SparkSession, dir: String): DataFrame =
    recallReportFrom(bruteForceTopK(spark, dir), Seq(
      "lsh" -> lshTopK(spark, dir), "ivf" -> ivfTopK(spark, dir),
      "sq" -> sqTopK(spark, dir), "pq" -> pqTopK(spark, dir),
      "ivfpq" -> ivfpqTopK(spark, dir)))

  /** ann_recall_report replayed end-to-end: the five certified tier
    * oracles (each a complete WITH chain) composed as subquery CTEs,
    * unioned under their method tags, semi-probed against the brute
    * truth replay, and folded to the same integer-ratio recall — the
    * report machinery is certified because every input to it is.
    */
  lazy val recallReportSql: String =
    s"""WITH brute AS ($bruteForceSql),
       |t_lsh AS ($lshTopKSql),
       |t_ivf AS ($ivfTopKSql),
       |t_sq AS ($sqTopKSql),
       |t_pq AS ($pqTopKSql),
       |t_ivfpq AS ($ivfpqTopKSql),
       |tagged AS MATERIALIZED (
       |  SELECT 'lsh' AS method, query_id, neighbor_id FROM t_lsh
       |  UNION ALL SELECT 'ivf', query_id, neighbor_id FROM t_ivf
       |  UNION ALL SELECT 'sq', query_id, neighbor_id FROM t_sq
       |  UNION ALL SELECT 'pq', query_id, neighbor_id FROM t_pq
       |  UNION ALL SELECT 'ivfpq', query_id, neighbor_id FROM t_ivfpq),
       |truth AS (SELECT query_id, neighbor_id FROM brute),
       |tt AS (SELECT CAST(count(*) AS DOUBLE) AS n_truth FROM truth),
       |h AS (SELECT method, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM tagged JOIN truth USING (query_id, neighbor_id) GROUP BY 1),
       |r AS (SELECT method, CAST(count(*) AS BIGINT) AS n_returned
       |  FROM tagged GROUP BY 1)
       |SELECT r.method, r.n_returned,
       |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  round(coalesce(h.n_hits, 0) / tt.n_truth, 4) AS recall_at_k
       |FROM r LEFT JOIN h USING (method), tt
       |ORDER BY method""".stripMargin

  /** Per-label embedding health stats: count, L2-norm spread — the
    * sanity sweep before any similarity work (zero vectors, norm drift
    * between labels, truncated dims all show up here). One map-side
    * norm projection + one label-keyed agg.
    */
  def embeddingStats(embs: DataFrame): DataFrame = {
    embs
      .select(col("label"), l2norm(col("embedding")).as("norm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg("norm"), 4).as("avg_norm"),
        round(min("norm"), 4).as("min_norm"),
        round(max("norm"), 4).as("max_norm"))
      .orderBy("label")
  }

  def embeddingStats(spark: SparkSession, dir: String): DataFrame =
    embeddingStats(Tables.embeddings(spark, dir))

  /** Shared DuckDB replay of the IVF coarse quantizer — the exact
    * pipeline [[trainFromCorpus]]+[[withNearestCell]] runs, expressible
    * because every centroid coordinate (seeds and per-round means) is
    * 6-dp-quantized (the embedding_kmeans discipline): systematic
    * corpus sample → deterministic strided seeds → 3 Lloyd rounds
    * (assignment by list_distance with ties to the lower cell — the
    * same ordering as the fused l2sq argmin — empty cells keeping
    * their previous centroid) → full-corpus cell assignment. Produces
    * CTEs `e` (corpus as DOUBLE[]), `c3` (final centroid lists) and
    * `asg` (vec_id, cell).
    */
  private[graft] def ivfQuantizerCtes(nCells: Int = 16, trainSize: Int = 4096,
      trainWhere: String = "TRUE",
      eCte: String = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings")
      : String = {
    val rounds = (1 to 3).map { i =>
      s"""a$i AS (SELECT rn, cid FROM (
         |  SELECT s.rn, c.cid, row_number() OVER (PARTITION BY s.rn
         |    ORDER BY list_distance(s.v, c.cl), c.cid) AS rk
         |  FROM s, c${i - 1} c) WHERE rk = 1),
         |m$i AS (SELECT a.cid, sx.d, round(avg(sx.x), 6) AS m
         |  FROM a$i a JOIN sx ON sx.rn = a.rn GROUP BY 1, 2),
         |c$i AS (SELECT p.cid,
         |    coalesce(nl.cl, p.cl) AS cl
         |  FROM c${i - 1} p LEFT JOIN (
         |    SELECT cid, list(m ORDER BY d) AS cl FROM m$i GROUP BY cid) nl
         |  USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""e AS ($eCte),
       |p AS (SELECT greatest((SELECT count(*) FROM e
       |                       WHERE $trainWhere) // $trainSize, 1) AS stride),
       |s AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS rn, v
       |      FROM e, p WHERE ($trainWhere) AND vec_id % stride = 0),
       |sl AS (SELECT count(*) AS L FROM s),
       |kk AS (SELECT CAST(least($nCells, greatest(L, 1)) AS INT) AS k,
       |              greatest(L // least($nCells, greatest(L, 1)), 1) AS ss
       |       FROM sl),
       |sx AS (SELECT rn, CAST(unnest(generate_series(1, len(v))) AS INT) AS d,
       |              unnest(v) AS x FROM s),
       |c0 AS (SELECT ids.cid, list_transform(s.v, x -> round(x, 6)) AS cl
       |  FROM (SELECT CAST(unnest(generate_series(0, k - 1)) AS INT) AS cid FROM kk) ids,
       |       kk, sl, s
       |  WHERE s.rn = least(ids.cid * kk.ss, sl.L - 1)),
       |$rounds,
       |asg AS (SELECT vec_id, cell FROM (
       |  SELECT e.vec_id, c.cid AS cell, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY list_distance(e.v, c.cl), c.cid) AS rk
       |  FROM e, c3 c) WHERE rk = 1)""".stripMargin
  }

  /** ann_sq_topk replayed end-to-end — the scalar quantizer is pure
    * deterministic arithmetic both engines share bit-for-bit: per-dim
    * min/max bounds (exact — no FP accumulation), the affine int8
    * encode round((x−lo)/span·255)−128 (HALF_UP on both engines, range
    * provably in [-128,127]), the float32-cast decode, and the same
    * 4-dp cosine / vec_id ranking as the brute tier.
    */
  val sqTopKSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ex AS (SELECT vec_id, CAST(unnest(generate_series(1, len(v))) AS INT) AS d,
      |              unnest(v) AS x FROM e),
      |b AS (SELECT d, min(x) AS lo, greatest(max(x) - min(x), 1e-12) AS span
      |      FROM ex GROUP BY d),
      |dec AS (SELECT vec_id, d,
      |    CAST((round((x - lo) / span * 255.0) - 128 + 128.0) / 255.0 * span + lo
      |      AS FLOAT) AS y
      |  FROM ex JOIN b USING (d)),
      |vecs AS (SELECT vec_id, list(CAST(y AS DOUBLE) ORDER BY d) AS dv
      |         FROM dec GROUP BY vec_id),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |scored AS (SELECT q.query_id, vs.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(q.qv, vs.dv), 4) AS cosine
      |  FROM q JOIN vecs vs ON vs.vec_id <> q.query_id),
      |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank FROM scored)
      |SELECT query_id, neighbor_id, rank, cosine FROM ranked
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** ann_pq_topk replayed end-to-end — expressible for the same reason
    * as the IVF tier: the per-subspace codebooks (trained by the SAME
    * 6-dp-quantized strided-seed Lloyd pipeline, just on subvector
    * slices) are bit-identical across engines, and every ADC quantity
    * (code norms, query dot LUTs, the over-subspace folds) is an
    * INDEX-ORDERED sum replayed with ordered list folds
    * (list_aggregate / list_inner_product walk the list left-to-right
    * exactly as the Scala fold does). Encode ties go to the lowest
    * code id, matching the fused PqEncodeCodes argmin.
    */
  /** PQ codebook + ADC CTEs — consume the sample CTEs (e/s/sl/kk/sx)
    * emitted by [[ivfQuantizerCtes]]: per-subspace 3-round Lloyd
    * training on the same strided sample (6-dp-quantized seeds and
    * means, ties to the lower code — the PqEncodeCodes argmin),
    * full-corpus encode, code norms and per-query dot LUTs with
    * ORDERED list folds matching the Scala fold order. Produces
    * `codes` (vec_id, m, cid), `dn` (vec_id, dnorm2), `lut`
    * (query_id, m, cid, qnorm, dot).
    */
  private def pqAdcCtes(nSub: Int = 16, nQueries: Int = 10, dim: Int = Dim): String = {
    val subDim = dim / nSub
    val rounds = (1 to 3).map { i =>
      s"""pa$i AS (SELECT m, rn, cid FROM (
         |  SELECT sv.m, sv.rn, c.cid, row_number() OVER (PARTITION BY sv.m, sv.rn
         |    ORDER BY list_distance(sv.v, c.cl), c.cid) AS rk
         |  FROM sv, pc${i - 1} c WHERE c.m = sv.m) WHERE rk = 1),
         |pm$i AS (SELECT a.m, a.cid, x.sd, round(avg(x.x), 6) AS mu
         |  FROM pa$i a JOIN ssx x ON x.m = a.m AND x.rn = a.rn GROUP BY 1, 2, 3),
         |pc$i AS (SELECT p.m, p.cid, coalesce(nl.cl, p.cl) AS cl
         |  FROM pc${i - 1} p LEFT JOIN (
         |    SELECT m, cid, list(mu ORDER BY sd) AS cl FROM pm$i GROUP BY m, cid) nl
         |  USING (m, cid))""".stripMargin
    }.mkString(",\n")
    s"""ssx AS (SELECT rn, CAST((d - 1) // $subDim AS INT) AS m,
       |               CAST((d - 1) % $subDim + 1 AS INT) AS sd, x FROM sx),
       |sv AS (SELECT rn, m, list(x ORDER BY sd) AS v FROM ssx GROUP BY rn, m),
       |pc0 AS (SELECT sv.m, ids.cid, list_transform(sv.v, x -> round(x, 6)) AS cl
       |  FROM (SELECT CAST(unnest(generate_series(0, k - 1)) AS INT) AS cid FROM kk) ids,
       |       kk, sl, sv
       |  WHERE sv.rn = least(ids.cid * kk.ss, sl.L - 1)),
       |$rounds,
       |ex AS (SELECT vec_id, CAST(unnest(generate_series(1, len(v))) AS INT) AS d,
       |              unnest(v) AS x FROM e),
       |cvx AS (SELECT vec_id, CAST((d - 1) // $subDim AS INT) AS m,
       |               CAST((d - 1) % $subDim + 1 AS INT) AS sd, x FROM ex),
       |cv AS (SELECT vec_id, m, list(x ORDER BY sd) AS v FROM cvx GROUP BY vec_id, m),
       |codes AS (SELECT vec_id, m, cid FROM (
       |  SELECT cv.vec_id, cv.m, c.cid, row_number() OVER (PARTITION BY cv.vec_id, cv.m
       |    ORDER BY list_distance(cv.v, c.cl), c.cid) AS rk
       |  FROM cv, pc3 c WHERE c.m = cv.m) WHERE rk = 1),
       |nrm AS (SELECT m, cid,
       |    list_aggregate(list_transform(cl, x -> x * x), 'sum') AS n2 FROM pc3),
       |dn AS (SELECT vec_id,
       |    list_aggregate(list(n2 ORDER BY m), 'sum') AS dnorm2
       |  FROM codes JOIN nrm USING (m, cid) GROUP BY vec_id),
       |q AS (SELECT vec_id AS query_id, v,
       |    sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS qnorm
       |  FROM e WHERE vec_id < $nQueries),
       |qsub AS (SELECT query_id, m, qv, qnorm FROM (
       |  SELECT q.query_id, c.m, q.qnorm,
       |    list_slice(q.v, c.m * $subDim + 1, (c.m + 1) * $subDim) AS qv
       |  FROM q, (SELECT DISTINCT m FROM pc3) c)),
       |lut AS (SELECT qs.query_id, c.m, c.cid, qs.qnorm,
       |    list_inner_product(qs.qv, c.cl) AS dot
       |  FROM qsub qs JOIN pc3 c USING (m))""".stripMargin
  }

  /** The shared ADC cosine + rank tail over a `dotsX` CTE. */
  private def adcRankTail(dots: String, k: Int = 5): String =
    s"""scored AS (SELECT d.query_id, d.vec_id AS neighbor_id,
       |    round(CASE WHEN d.qnorm = 0 OR dn.dnorm2 = 0 THEN 0.0
       |      ELSE d.dot / (d.qnorm * sqrt(dn.dnorm2)) END, 4) AS cosine
       |  FROM $dots d JOIN dn ON dn.vec_id = d.vec_id),
       |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank FROM scored)
       |SELECT query_id, neighbor_id, rank, cosine FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  val pqTopKSql: String =
    s"""WITH ${ivfQuantizerCtes()},
       |${pqAdcCtes()},
       |dots AS (SELECT l.query_id, cd.vec_id, max(l.qnorm) AS qnorm,
       |    list_aggregate(list(l.dot ORDER BY l.m), 'sum') AS dot
       |  FROM codes cd JOIN lut l ON l.m = cd.m AND l.cid = cd.cid
       |  WHERE cd.vec_id <> l.query_id
       |  GROUP BY l.query_id, cd.vec_id),
       |${adcRankTail("dots")}""".stripMargin

  /** The nProbe-cell query probe over the trained coarse quantizer —
    * the same (distance, cell) ordering as the Scala sortBy. */
  private def probeCte(nProbe: Int): String =
    s"""qp AS (SELECT query_id, cell FROM (
       |  SELECT e.vec_id AS query_id, c.cid AS cell, row_number() OVER (
       |    PARTITION BY e.vec_id ORDER BY list_distance(e.v, c.cl), c.cid) AS rk
       |  FROM e, c3 c WHERE e.vec_id < 10) WHERE rk <= $nProbe)""".stripMargin

  /** The cell-restricted ADC dot fold shared by the IVF-PQ faces. */
  private val ivfpqDotsCte: String =
    """dotsp AS (SELECT l.query_id, cd.vec_id, max(l.qnorm) AS qnorm,
      |    list_aggregate(list(l.dot ORDER BY l.m), 'sum') AS dot
      |  FROM codes cd
      |  JOIN asg a ON a.vec_id = cd.vec_id
      |  JOIN qp ON qp.cell = a.cell
      |  JOIN lut l ON l.query_id = qp.query_id AND l.m = cd.m AND l.cid = cd.cid
      |  WHERE cd.vec_id <> qp.query_id
      |  GROUP BY l.query_id, cd.vec_id)""".stripMargin

  /** ann_ivfpq_topk replayed: the certified coarse-quantizer CTEs
    * (cells) composed with the certified PQ/ADC CTEs (codes, LUTs),
    * candidates restricted to each query's 6 probed cells.
    */
  val ivfpqTopKSql: String =
    s"""WITH ${ivfQuantizerCtes()},
       |${pqAdcCtes()},
       |${probeCte(6)},
       |$ivfpqDotsCte,
       |${adcRankTail("dotsp")}""".stripMargin

  /** ann_ivfpq_incremental replayed: the composed IVF-PQ pipeline with
    * BOTH quantizers trained on the even-id half only (the persisted
    * index); odd ids are encoded against those centroids/codebooks
    * without retraining, which is exactly the generic encode CTEs over
    * the even-trained tables.
    */
  val ivfpqIncrementalSql: String =
    s"""WITH ${ivfQuantizerCtes(trainWhere = "vec_id % 2 = 0")},
       |${pqAdcCtes()},
       |${probeCte(6)},
       |$ivfpqDotsCte,
       |${adcRankTail("dotsp")}""".stripMargin

  /** ann_ivfpq_refine replayed: the IVF-PQ ADC ranking keeps the top
    * refineFactor·k = 20 survivors per query, which pay the exact
    * full-dimension 4-dp cosine re-rank (the brute tier's certified
    * scoring) before the final top-5 slice.
    */
  val ivfpqRefineSql: String =
    s"""WITH ${ivfQuantizerCtes()},
       |${pqAdcCtes()},
       |${probeCte(6)},
       |$ivfpqDotsCte,
       |adc AS (SELECT d.query_id, d.vec_id,
       |    round(CASE WHEN d.qnorm = 0 OR dn.dnorm2 = 0 THEN 0.0
       |      ELSE d.dot / (d.qnorm * sqrt(dn.dnorm2)) END, 4) AS cosine
       |  FROM dotsp d JOIN dn ON dn.vec_id = d.vec_id),
       |sur AS (SELECT query_id, vec_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, vec_id) AS r FROM adc) WHERE r <= 20),
       |exact AS (SELECT s.query_id, s.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(eq.v, ec.v), 4) AS cosine
       |  FROM sur s JOIN e eq ON eq.vec_id = s.query_id
       |  JOIN e ec ON ec.vec_id = s.vec_id),
       |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank FROM exact)
       |SELECT query_id, neighbor_id, rank, cosine FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** ann_ivf_topk replayed end-to-end: quantizer CTEs, then each query
    * probes its nProbe nearest cells and ranks candidates by the same
    * 4-dp cosine / vec_id ordering the Spark tier uses.
    */
  /** The probe + exact-rescore + rank tail of the flat-IVF replay —
    * generic over whatever `e` the quantizer CTEs were built on.
    */
  private def ivfRankTail(nProbe: Int = 4, k: Int = 5): String =
    s"""qp AS (SELECT query_id, cell FROM (
       |  SELECT e.vec_id AS query_id, c.cid AS cell, row_number() OVER (
       |    PARTITION BY e.vec_id ORDER BY list_distance(e.v, c.cl), c.cid) AS rk
       |  FROM e, c3 c WHERE e.vec_id < 10) WHERE rk <= $nProbe),
       |cand AS (SELECT qp.query_id, a.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(eq.v, ec.v), 4) AS cosine
       |  FROM qp JOIN asg a USING (cell)
       |  JOIN e eq ON eq.vec_id = qp.query_id
       |  JOIN e ec ON ec.vec_id = a.vec_id
       |  WHERE a.vec_id <> qp.query_id),
       |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank FROM cand)
       |SELECT query_id, neighbor_id, rank, cosine FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  val ivfTopKSql: String =
    s"""WITH ${ivfQuantizerCtes()},
       |${ivfRankTail()}""".stripMargin

  /** The flat-IVF replay over an EXTERNAL vector source: `prefixCtes`
    * supplies whatever builds it, `eCte` the (vec_id, v DOUBLE[])
    * projection — how mm_similar_ivf composes the certified quantizer
    * over the byte-replayed stub features.
    */
  private[graft] def ivfTopKSqlWith(prefixCtes: String, eCte: String): String =
    s"""WITH $prefixCtes,
       |${ivfQuantizerCtes(eCte = eCte)},
       |${ivfRankTail()}""".stripMargin

  /** The IVF-PQ replay over an external vector source (the
    * mm_similar_ivfpq composition): same quantizer/codebook/ADC CTEs,
    * parameterized by the source dimension and subspace count.
    */
  private[graft] def ivfpqTopKSqlWith(prefixCtes: String, eCte: String,
      dim: Int, nSub: Int): String =
    s"""WITH $prefixCtes,
       |${ivfQuantizerCtes(eCte = eCte)},
       |${pqAdcCtes(nSub = nSub, dim = dim)},
       |${probeCte(6)},
       |$ivfpqDotsCte,
       |${adcRankTail("dotsp")}""".stripMargin

  /** ann_ivf_incremental replayed: identical pipeline to
    * [[ivfTopKSql]] except the quantizer trains on the EVEN-id half of
    * the corpus only (the already-indexed population); odd ids are
    * assigned to those centroids without retraining — which is exactly
    * what the generic assignment CTE over the even-trained c3 does.
    */
  val ivfIncrementalSql: String =
    s"""WITH ${ivfQuantizerCtes(trainWhere = "vec_id % 2 = 0")},
       |qp AS (SELECT query_id, cell FROM (
       |  SELECT e.vec_id AS query_id, c.cid AS cell, row_number() OVER (
       |    PARTITION BY e.vec_id ORDER BY list_distance(e.v, c.cl), c.cid) AS rk
       |  FROM e, c3 c WHERE e.vec_id < 10) WHERE rk <= 4),
       |cand AS (SELECT qp.query_id, a.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(eq.v, ec.v), 4) AS cosine
       |  FROM qp JOIN asg a USING (cell)
       |  JOIN e eq ON eq.vec_id = qp.query_id
       |  JOIN e ec ON ec.vec_id = a.vec_id
       |  WHERE a.vec_id <> qp.query_id),
       |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank FROM cand)
       |SELECT query_id, neighbor_id, rank, cosine FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** corpus_buckets replayed: the same quantizer + assignment CTEs,
    * then per-cell occupancy and mean cosine distance to the cell
    * centroid — the centroid round-tripped through FLOAT32 exactly as
    * the Spark face feeds [[VectorExpressions.cosine]].
    */
  val corpusBucketsSql: String =
    s"""WITH ${ivfQuantizerCtes()}
       |SELECT a.cell, count(*) AS n_vecs,
       |  round(avg(1.0 - list_cosine_similarity(e.v,
       |    CAST(CAST(c.cl AS FLOAT[]) AS DOUBLE[]))), 4) AS mean_dist,
       |  min(a.vec_id) AS example_vec
       |FROM asg a JOIN e ON e.vec_id = a.vec_id JOIN c3 c ON c.cid = a.cell
       |GROUP BY a.cell ORDER BY a.cell""".stripMargin

  val embeddingStatsSql: String =
    """WITH n AS (
      |  SELECT label,
      |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS norm
      |  FROM embeddings)
      |SELECT label, count(*) AS n_vecs,
      |  round(avg(norm), 4) AS avg_norm,
      |  round(min(norm), 4) AS min_norm,
      |  round(max(norm), 4) AS max_norm
      |FROM n GROUP BY label ORDER BY label""".stripMargin

  /** Embedding-distribution drift monitor: per label, the L2 distance
    * between the centroid of the FIRST half of the corpus (by vec_id —
    * ingestion order) and the SECOND half — the "did the feed shift
    * under me" check an embedding pipeline runs before trusting a
    * trained index/quantizer on new data (a large shift invalidates
    * IVF centroids and calibration).
    *
    * Determinism: the split bound is integer arithmetic on broadcast
    * min/max scalars; per-dim means ride the k-means-certified
    * `round(avg, 6)` quantization, so the shift arithmetic runs on
    * identical 6-dp values in both engines (4-dp final round).
    *
    * Plan: one posexplode pass partially aggregates (label, half, dim)
    * means map-side — the shuffle carries |labels|·2·dim rows, never
    * vectors; counts ride a second dims-sized aggregate of the same
    * scan.
    */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val bounds = e.agg(min("vec_id").as("lo"), max("vec_id").as("hi"))
    val halves = e.crossJoin(broadcast(bounds))
      .withColumn("half",
        when(col("vec_id") < expr("(lo + hi + 1) div 2"), 0).otherwise(1))
    val counts = halves.groupBy("label")
      .agg(count(when(col("half") === 0, 1)).as("n_first"),
        count(when(col("half") === 1, 1)).as("n_second"))
    val means = halves
      .select(col("label"), col("half"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy("label", "half", "d")
      .agg(round(avg(col("x").cast("double")), 6).as("m"))
    means
      .groupBy("label", "d")
      .agg(max(when(col("half") === 0, col("m"))).as("m0"),
        max(when(col("half") === 1, col("m"))).as("m1"))
      .groupBy("label")
      .agg(round(sqrt(sum((col("m0") - col("m1")) * (col("m0") - col("m1")))), 4)
        .as("centroid_shift"))
      .join(broadcast(counts), Seq("label"))
      .select(col("label"), col("n_first"), col("n_second"), col("centroid_shift"))
      .orderBy("label")
  }

  val embeddingDriftSql: String =
    """WITH b AS (SELECT min(vec_id) AS lo, max(vec_id) AS hi FROM embeddings),
      |h AS (
      |  SELECT label, vec_id, embedding,
      |    CASE WHEN vec_id < (lo + hi + 1) // 2 THEN 0 ELSE 1 END AS half
      |  FROM embeddings CROSS JOIN b),
      |ev AS (
      |  SELECT label, half,
      |    CAST(unnest(generate_series(1, len(embedding))) AS INT) AS d,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM h),
      |m AS (SELECT label, half, d, round(avg(x), 6) AS m FROM ev GROUP BY 1, 2, 3),
      |p AS (
      |  SELECT label, d,
      |    max(CASE WHEN half = 0 THEN m END) AS m0,
      |    max(CASE WHEN half = 1 THEN m END) AS m1
      |  FROM m GROUP BY 1, 2),
      |n AS (
      |  SELECT label,
      |    count(*) FILTER (WHERE half = 0) AS n_first,
      |    count(*) FILTER (WHERE half = 1) AS n_second
      |  FROM h GROUP BY 1)
      |SELECT label, n_first, n_second,
      |  round(sqrt(sum((m0 - m1) * (m0 - m1))), 4) AS centroid_shift
      |FROM p JOIN n USING (label)
      |GROUP BY label, n_first, n_second ORDER BY label""".stripMargin

  /** Reciprocal-rank fusion of the LEXICAL retriever
    * ([[graft.functions.TextFunctions.docSimilarTfidf]], sparse TF-IDF
    * cosine) and the SEMANTIC retriever ([[bruteForceTopK]], dense
    * embedding cosine) — the standard hybrid-search combiner:
    * rrf(q,d) = Σ_retrievers 1/([[RrfC]] + rank_r(q,d)) over each
    * retriever's top-[[RrfPoolK]] pool, re-ranked to the fused
    * top-[[RrfK]]. Rank fusion needs no score calibration between
    * heterogeneous retrievers, which is exactly why it's the default
    * hybrid combiner in retrieval stacks.
    *
    * Determinism: both pools rank by (4-dp cosine desc, id) — the
    * certified orderings of the two source entries — so pool
    * membership and ranks are engine-identical; the RRF sum has at
    * most TWO terms (IEEE addition of two doubles is commutative, so
    * no accumulation-order hazard), rounded at 6 dp BEFORE the fused
    * rank.
    *
    * Plan: both retrievers keep their own certified plan shapes
    * (broadcast probes, scalar-only shuffles); the fusion itself is
    * a union + one (query, neighbor)-keyed aggregate over ≤
    * 2·nQueries·[[RrfPoolK]] rows — dimension-sized regardless of
    * corpus scale.
    */
  def rankFusion(spark: SparkSession, dir: String): DataFrame = {
    val pool = (df: DataFrame) =>
      df.select(col("query_id"), col("neighbor_id"), col("rank"))
    // both retriever pools are rank faces over the memoized scored
    // substrates their standalone entries already built — the RRF
    // entry's marginal cost is two vocab/corpus-sized windows, not a
    // tf-idf posting join + a second full-corpus cosine scan
    val lex = pool(graft.functions.TextFunctions.docSimilarRankFace(
      graft.functions.TextFunctions.cachedDocSimilarScored(spark, dir), RrfPoolK))
    val sem = pool(bruteRankFace(cachedBruteScored(spark, dir), RrfPoolK))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col("neighbor_id"))
    lex.unionByName(sem)
      .groupBy("query_id", "neighbor_id")
      .agg(count(lit(1)).as("n_sources"),
        round(sum(lit(1.0) / (lit(RrfC) + col("rank"))), 6).as("rrf_score"))
      .withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= RrfK)
      .select(col("query_id"), col("neighbor_id"), col("fused_rank"),
        col("n_sources"), col("rrf_score"))
      .orderBy("query_id", "fused_rank")
  }

  val RrfC = 60
  val RrfPoolK = 20
  val RrfK = 10

  val rankFusionSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf FROM t
      |  WHERE token <> '' GROUP BY 1, 2),
      |dfs AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tok GROUP BY token),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_corpus FROM documents),
      |w AS (
      |  SELECT doc_id, token, tf * ln(n_corpus / df) AS w
      |  FROM tok JOIN dfs USING (token) CROSS JOIN n
      |  WHERE tf * ln(n_corpus / df) <> 0),
      |norms AS (SELECT doc_id, sqrt(sum(w * w)) AS norm FROM w GROUP BY doc_id),
      |q AS (
      |  SELECT w.doc_id AS query_id, token, w AS qw, norm AS qnorm
      |  FROM w JOIN norms USING (doc_id) WHERE doc_id < 10),
      |dots AS (
      |  SELECT query_id, w.doc_id AS neighbor_id, sum(w.w * q.qw) AS dot,
      |         any_value(q.qnorm) AS qnorm
      |  FROM w JOIN q ON w.token = q.token AND w.doc_id <> q.query_id
      |  GROUP BY 1, 2),
      |lx_scored AS (
      |  SELECT query_id, neighbor_id,
      |         round(dot / (norm * qnorm), 4) AS cosine
      |  FROM dots JOIN norms ON dots.neighbor_id = norms.doc_id),
      |lx_ranked AS (
      |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM lx_scored),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |vq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |sm_scored AS (
      |  SELECT vq.query_id, e.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(vq.qv, e.v), 4) AS cosine
      |  FROM vq JOIN e ON e.vec_id <> vq.query_id),
      |sm_ranked AS (
      |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM sm_scored),
      |pool AS (
      |  SELECT query_id, neighbor_id, rank FROM lx_ranked WHERE rank <= 20
      |  UNION ALL
      |  SELECT query_id, neighbor_id, rank FROM sm_ranked WHERE rank <= 20),
      |fused AS (
      |  SELECT query_id, neighbor_id, count(*) AS n_sources,
      |    round(sum(1.0 / (60 + rank)), 6) AS rrf_score
      |  FROM pool GROUP BY 1, 2),
      |final AS (
      |  SELECT query_id, neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY rrf_score DESC, neighbor_id) AS INTEGER) AS fused_rank,
      |    n_sources, rrf_score
      |  FROM fused)
      |SELECT query_id, neighbor_id, fused_rank, n_sources, rrf_score
      |FROM final WHERE fused_rank <= 10
      |ORDER BY query_id, fused_rank""".stripMargin
}
