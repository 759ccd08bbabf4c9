package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions

/** Deduplication operators for training-data pipelines.
  *
  * Scale contract: nothing here is O(n²) over the corpus. Candidate
  * generation always goes through a key (hash bucket / LSH band /
  * inverted token index) so the only shuffles are standard hash
  * aggregations and the verify step touches candidate pairs only.
  */
object Dedup {

  /** Normalized text used by all text dedup ops. */
  def normText(c: Column): Column = regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Word tokens of the normalized text. */
  private def toks(c: Column) = split(normText(c), " ")

  /** Word 3-shingles (distinct) from an ALREADY-MATERIALIZED token
    * array column. The staging matters enormously: interpreted
    * higher-order-function evaluation re-runs any non-attribute
    * expression a lambda captures once per array element, so shingling
    * straight off `split(regexp_replace(...))` re-tokenizes the doc for
    * every element_at — measured 20× slower than this two-projection
    * form. The multiple references to `t` here also stop
    * CollapseProject from inlining the tokenizer back in.
    *
    * Docs with fewer than 3 tokens contribute their whole text as a
    * single shingle (keeps ANSI-safe indexing and a non-empty set).
    */
  def shinglesOfToks(t: Column): Column = ngramsOfToks(t, 3)

  /** Distinct word n-grams from an already-materialized token array
    * (same staging contract as [[shinglesOfToks]]); docs with fewer
    * than n tokens contribute their whole text as a single gram.
    */
  def ngramsOfToks(t: Column, n: Int): Column =
    when(size(t) >= n,
      array_distinct(
        transform(sequence(lit(0), size(t) - n),
          i => concat_ws(" ", (0 until n).map(j => element_at(t, i + j + 1)): _*))))
      .otherwise(array(concat_ws(" ", t)))

  /** Single-expression convenience form; avoid in hot paths — see
    * [[shinglesOfToks]] for why (per-element re-tokenization).
    */
  def shingles(c: Column): Column = shinglesOfToks(toks(c))

  /** (doc_id, __sh: array<string>) with the tokenizer materialized in
    * its own projection so shingling touches attributes only.
    *
    * CAUTION — never `explode(col("__sh"))` off this frame: Spark's
    * InferFiltersFromGenerate infers `size(attr)>0 AND isnotnull(attr)`
    * for an explode-of-attribute ("cheap"), and predicate pushdown then
    * substitutes the attribute's defining expression and pushes the
    * result below any repartition — re-running the whole shingle
    * computation twice, interpreted, inside the (often single-task)
    * scan stage. Measured 20× on this path. Explode the *expression*
    * instead (the SPARK-33544 cheapness guard then skips inference),
    * as [[explodedShingles]] does.
    */
  private def shingled(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toks(col("text")).as("__t"))
      .select(col("doc_id"), shinglesOfToks(col("__t")).as("__sh"))

  /** (doc_id, sh: long) — one 64-bit-hashed shingle per row, safe plan
    * shape (explode of an expression over the materialized token
    * attribute; see [[shingled]] for the landmine this avoids).
    */
  private def explodedShingles(docs: DataFrame): DataFrame = explodedNgrams(docs, 3)

  /** (doc_id, sh: long) — one 64-bit-hashed word n-gram per row, same
    * safe plan shape as [[explodedShingles]].
    */
  private def explodedNgrams(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), toks(col("text")).as("__t"))
      .select(col("doc_id"), explode(ngramsOfToks(col("__t"), n)).as("s"))
      .filter(col("s") =!= "")
      .select(col("doc_id"), xxhash64(col("s")).as("sh"))

  // ------------------------------------------------------------------
  // 1. Exact dedup: hash-groupBy on normalized content.
  // ------------------------------------------------------------------

  /** Exact duplicate groups: keep the smallest doc_id per normalized
    * text. One hash aggregation — the 100 TB plan is a single shuffle
    * on md5(norm), with map-side partial agg.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(normText(col("text")).cast("binary")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
      .select("keep_id", "dup_count", "text_hash")
      .orderBy("keep_id")

  def exact(spark: SparkSession, dir: String): DataFrame =
    exact(Tables.documents(spark, dir))

  val exactSql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS dup_count,
      |       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash
      |FROM documents
      |GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      |ORDER BY keep_id""".stripMargin

  /** Corpus snapshot delta — CDC for corpora: classify every doc as
    * added / removed / changed / unchanged between two snapshots by
    * content hash. Hashes are map-side; the only shuffle is ONE
    * co-partitioned full-outer join on doc_id, so a daily diff of a
    * 100 TB corpus costs a single key shuffle of (id, hash) pairs —
    * the text itself never moves.
    */
  def corpusDelta(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    // presence is tracked with explicit markers, NOT hash nullness — a
    // doc present with NULL text would otherwise masquerade as absent;
    // the hash compare below is null-safe for the same reason
    val o = oldDocs.select(col("doc_id"), md5(col("text").cast("binary")).as("old_hash"),
      lit(true).as("in_old"))
    val n = newDocs.select(col("doc_id"), md5(col("text").cast("binary")).as("new_hash"),
      lit(true).as("in_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(!(col("old_hash") <=> col("new_hash")), "changed")
          .otherwise("unchanged"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("status")
  }

  /** Driver entry: simulate yesterday/today snapshots from the one
    * documents table — ids ≡0 (mod 10) are new today, ≡1 were removed,
    * ≡2 had their text edited. Deterministic, oracle-checked.
    */
  def corpusDelta(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val old = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0)
      .select(col("doc_id"), col("text"))
    val today = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 1)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(10L)) === 2, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    corpusDelta(old, today)
  }

  val corpusDeltaSql: String =
    """WITH o AS (
      |  SELECT doc_id, md5(text) AS h, TRUE AS in_old
      |  FROM documents WHERE doc_id % 10 <> 0),
      |n AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 10 = 2 THEN text || ' v2' ELSE text END) AS h,
      |    TRUE AS in_new
      |  FROM documents WHERE doc_id % 10 <> 1)
      |SELECT CASE WHEN in_old IS NULL THEN 'added'
      |            WHEN in_new IS NULL THEN 'removed'
      |            WHEN o.h IS DISTINCT FROM n.h THEN 'changed'
      |            ELSE 'unchanged' END AS status,
      |  count(*) AS n_docs
      |FROM o FULL OUTER JOIN n USING (doc_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // 2. Exact n-gram Jaccard via inverted index (the oracle-checkable
  //    exact near-dup baseline).
  // ------------------------------------------------------------------

  /** Default document-frequency cap for the inverted-index self-join:
    * a shingle present in more than this many documents generates no
    * candidates. Far above any true near-dup signal (a duplicate
    * cluster's shingles have df ≈ cluster size) but it bounds the
    * worst case: without it, one boilerplate shingle across k docs of
    * a web corpus creates k²/2 candidate pairs in a single join key.
    */
  val MaxShingleDf = 100

  /** Row cap for [[embeddingCosine]]'s driver-side corpus broadcast.
    * 1M vectors at 64-d float ≈ 300 MB of driver heap — the most a
    * "correctness baseline" tier should ever claim. Anything larger
    * must go through [[semanticDedup]] or the graft.similarity
    * candidate generators (the collect here is outside Spark's
    * broadcast-join accounting, so the cap is the only guard).
    */
  val MaxExactBroadcastRows = 1000000L

  /** Runtime override of [[MaxExactBroadcastRows]] — the
    * `graft.graph.maxBroadcastRows` discipline for the dedup family: a
    * deployment sizes the exact-tier cap to its executor budget via
    * `spark.conf.set("graft.dedup.maxExactBroadcastRows", n)` instead
    * of editing code, and a test pins it low to certify the refusal
    * path on a small corpus.
    */
  private[graft] def maxExactBroadcastRows(spark: SparkSession): Long =
    spark.conf.getOption("graft.dedup.maxExactBroadcastRows")
      .map(_.toLong).getOrElse(MaxExactBroadcastRows)

  /** Rare-shingle posting lists, materialized because every consumer
    * (pair generation AND per-doc sizes) reads them — Spark has no
    * common-subplan elimination, so leaving this lazy re-runs the
    * upstream once per reference (measured 3× on the r2 formulation,
    * whose `pruned` frame fed three joins).
    *
    * The plan, in order: the corpus is shingled ONCE and the exploded
    * (doc_id, sh) postings materialized (re-shingling is the dominant
    * CPU cost — cheaper to persist the hashed postings than compute
    * them twice); the df-cap is applied with a COUNT aggregation (O(1)
    * per-key state) and an anti-join BEFORE any posting list is
    * collected — grouping sets first and filtering on size would
    * accumulate an unbounded array for exactly the boilerplate mega-df
    * shingle the cap exists to bound; only then are the bounded lists
    * built. The join strategy for the hot-list prune is left to AQE:
    * on clean corpora the hot list is tiny and broadcasts, but its
    * size is bounded only by Σrows/maxDf, so a boilerplate-heavy
    * corpus legitimately shuffle-joins it.
    *
    * Posting elements carry the owning doc's rare-set SIZE
    * (packed with the id into ONE long — see [[packIdSz]]), attached
    * by a doc-keyed groupBy BEFORE the per-shingle grouping — so the
    * pair stage downstream aggregates the exploded pairs and is DONE:
    * no join, and critically no broadcast, after the
    * Θ(Σ min(df,cap)²) explosion. (The previous join-back-sizes
    * formulation died at 10× scale: with every partition's execution
    * memory held by the pair aggregation, the concurrent broadcast
    * build of the sizes side had nothing left to allocate from and the
    * whole family failed with a broadcast OOM — and on a real cluster
    * the per-doc sizes table is corpus-sized, which is not broadcast
    * material in the first place.)
    */
  private def postingsFrom(sh: DataFrame, maxDf: Int): DataFrame = {
    // df counts RAW postings (intra-doc repeats included) — the same
    // accounting the oracle's HAVING applies; keep it bit-identical
    val hot = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("sh")
    sh.join(hot, Seq("sh"), "left_anti")
      .groupBy("doc_id").agg(collect_set(col("sh")).as("shs"))
      // pack (doc_id, |rare set|) into one long per posting — the pair
      // stage explodes Θ(Σ df²) of these, so element width is THE
      // shuffle/alloc knob; collect_list is safe (shs is a set, each
      // doc lands once per shingle) and sort_array on packed longs
      // orders by (doc_id, sz) exactly as the former struct sort did
      .select(explode(col("shs")).as("sh"),
        packIdSz(col("doc_id"), size(col("shs"))).as("e"))
      .groupBy("sh").agg(sort_array(collect_list(col("e"))).as("ids"))
      // keep the shingle hash beside its posting list: ppjoin derives
      // its (df, sh)-sorted doc arrays straight from this table (df =
      // size(ids) — per-doc-distinct postings, so the raw count IS the
      // doc count), replacing a full-corpus df aggregation + a
      // posting-grain shuffle join; jaccard/containment consumers read
      // only `ids`, so the extra long per ROW (not per posting) is
      // noise against the array payload
      .select("sh", "ids")
      .localCheckpoint(true)
  }

  /** The materialized corpus shingle explode — the substrate every
    * n-gram pair build reads ([[postingsFrom]], [[snPairsFrom]]).
    */
  private def shinglesOf(docs: DataFrame): DataFrame =
    explodedShingles(docs).localCheckpoint(true)

  /** [[shinglesOf]] memoized per dir — shared by every df-cap postings
    * build (the quality-truth df-20 tier would otherwise re-shingle the
    * corpus the df-100 build already paid for) and the SN verify.
    */
  private def cachedShingles(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("explodedShingles", dir))(
      shinglesOf(Tables.documents(spark, dir)))

  /** Posting substrate of a docs frame (library/spec composition). */
  private[graft] def postingsOf(docs: DataFrame,
      maxDf: Int = MaxShingleDf): DataFrame = postingsFrom(shinglesOf(docs), maxDf)

  /** [[postingsOf]] memoized per (dir, maxDf): the posting build is the
    * shared substrate of BOTH exact pair families — jaccard (symmetric
    * near-dup) and containment (asymmetric subsumption) — and of
    * ppjoin, so each session pays the corpus shingling once however
    * many faces run.
    */
  private def cachedPostings(spark: SparkSession, dir: String,
                             maxDf: Int = MaxShingleDf): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("postings", dir, maxDf))(
      postingsFrom(cachedShingles(spark, dir), maxDf))

  /** Posting-element packing for the pair family: `doc_id << 20 | sz`.
    * 20 bits bound the per-doc RARE shingle set at ~1M distinct
    * shingles (a 1M-token document — far beyond any training-corpus
    * doc; longer docs belong to the chunking path) and leave 43 bits
    * (~8.8e12) for doc_id. Packing halves the exploded pair payload
    * (2 longs vs 4) and keeps the posting arrays primitive
    * (`array<long>`, no struct headers) — measured ~35% off the
    * dominant pair-stage artifact. Sort order of packed longs equals
    * the former struct(doc_id, sz) order, so pair generation and the
    * downstream id_a < id_b invariant are unchanged.
    */
  private val SzBits = 20
  private def packIdSz(id: Column, sz: Column): Column =
    shiftleft(id, SzBits) + sz.cast("long")
  private def unpackId(e: Column): Column = shiftright(e, SzBits)
  private def unpackSz(e: Column): Column = e.bitwiseAND(lit((1L << SzBits) - 1))

  /** All ordered (id_a < id_b) pairs within one sorted posting array,
    * generated map-side: with df ≤ maxDf the expansion is ≤ maxDf²/2
    * pairs per shingle — bounded by construction, no self-join.
    */
  private[graft] def postingPairs(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)),
        y => struct(x.as("id_a"), y.as("id_b")))))

  /** Candidate pairs sharing at least one RARE (df ≤ maxDf) shingle —
    * pairs expand map-side from the grouped posting lists; the only
    * shuffles are the posting groupBy and the pair distinct.
    */
  def ngramCandidates(docs: DataFrame, maxDf: Int = MaxShingleDf): DataFrame =
    postingsOf(docs, maxDf)
      .filter(size(col("ids")) >= 2)
      .select(explode(postingPairs(col("ids"))).as("p"))
      .select(unpackId(col("p.id_a")).as("id_a"), unpackId(col("p.id_b")).as("id_b"))
      .distinct()

  /** All pairs with 3-shingle Jaccard ≥ threshold over the RARE
    * (df ≤ maxDf) shingle sets: hot shingles are dropped before BOTH
    * candidate generation and scoring, so the score is the
    * boilerplate-insensitive Jaccard (standard stop-shingle practice —
    * a sentence shared by 1% of the corpus should neither blow up the
    * self-join nor inflate similarity). Plan: the corpus is shingled
    * once ([[postingsFrom]]: count-based df-cap, then bounded posting
    * groupBy), then [[pairScoresFrom]] — no shingle self-join at all
    * (the only sh-keyed join is the hot-list anti-join); an all-hot doc
    * contributes nothing. At the test corpus max df ≪ cap, so output ≡
    * the uncapped formulation; the oracle applies the identical rule.
    * (An earlier candidate-then-verify-full-sets variant re-shuffled the
    * corpus's shingle arrays twice and benched 7× slower — scoring over
    * the grouped postings keeps the shuffle payload at (long, long)
    * rows.)
    */
  def ngramJaccard(docs: DataFrame, threshold: Double = 0.5,
                   maxDf: Int = MaxShingleDf): DataFrame =
    ngramJaccardPairs(docs, threshold, maxDf).orderBy("id_a", "id_b")

  /** [[ngramJaccard]] without the final presentation sort — feed this
    * to downstream consumers (clustering) that don't need ordering.
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.5,
                        maxDf: Int = MaxShingleDf): DataFrame =
    pairScoresFrom(postingsOf(docs, maxDf), threshold, Off, sizeRatioPrune(threshold))
      .select("id_a", "id_b", "jaccard")

  /** The pair scores of the default dir faces, memoized per dir: ONE
    * unpruned [[pairScoresFrom]] serving BOTH exact pair families
    * (r17) — pairs that clear EITHER default threshold, so both outputs
    * are sparse and the checkpoint is KB not GB. Before r17 the jaccard and containment
    * tables each ran their own Θ(Σ min(df,cap)²) explosion — the two
    * most expensive artifact lines in the roster (26.3 s + 23.6 s at
    * sf1). The price is losing the jaccard-only [[sizeRatioPrune]] on
    * the shared explosion; the containment face cannot take that prune
    * (the asymmetric metric lives at extreme size ratios), so the
    * UNPRUNED explosion was already being paid in full — sharing it
    * deletes the second, pruned one. The prune only ever drops pairs
    * the `jaccard >= jt` filter drops anyway, so the derived jaccard
    * face is row-identical to the docs face — certified by the oracle
    * and DedupSpec's dir-vs-docs identities.
    */
  private def cachedPairScores(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("pairScores", dir))(
      pairScoresFrom(cachedPostings(spark, dir), 0.5, 0.8).localCheckpoint(true))

  /** Scale-adaptive fan-out for a posting-array pair explosion (guide
    * §2: partitioning must derive from the data, not a constant tuned
    * for one box): each map task of the pair aggregation holds a
    * partial-agg hash map keyed by the exploded pairs, so its state is
    * bounded by the pair mass Σ¦ids¦² landing in that task. At the
    * default 32 partitions an sf1-shaped corpus (~132M candidate
    * pairs) put ~4M entries ≈ 160 MB of agg state in EVERY concurrent
    * task — spill/GC pressure that doubled the artifact line inside
    * the (memory-crowded) bench JVM vs a fresh probe JVM. One cheap
    * aggregation over the (checkpointed, posting-count-sized) posting
    * table sizes the explosion so a task explodes ~[[PairsPerTask]]
    * pairs; the repartition itself shuffles only the posting rows (KBs
    * per row).
    *
    * Fan-outs are memoized per posting FRAME (reference identity — every
    * caller passes a checkpointed table, so the same frame always has
    * the same mass): the sizing aggregation is a driver-blocking Spark
    * job at plan-construction time, and without the memo every
    * re-derivation of a plan over the same memoized postings re-ran it
    * (r17 verdict #5). WEAK keys so a per-call (non-memoized) posting
    * frame's checkpoint blocks are not pinned forever by its fan-out
    * entry.
    */
  private val fanoutMemo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, java.lang.Long]())

  /** Measured pair mass Σ¦ids¦² of a posting frame, memoized per frame
    * (reference identity — callers pass checkpointed tables).
    */
  private def pairMass(postings: DataFrame): Long = {
    val hit = fanoutMemo.get(postings)
    if (hit != null) return hit.longValue
    val mass = postings
      .agg(sum(size(col("ids")).cast("long") * size(col("ids"))))
      .head.getLong(0)
    fanoutMemo.put(postings, mass)
    mass
  }

  /** Pairs each explosion task aggregates (partial-agg hash state is
    * proportional — this keeps each task's agg map ~tens of MB). r18
    * measured fan-outs from 0.2M to 3M pairs per task at sf1 and found
    * no difference, so it is a constant, not a knob.
    */
  private val PairsPerTask = 1500000L

  private def pairFanout(postings: DataFrame): Int = {
    val mass = pairMass(postings)
    val base = postings.sparkSession.sparkContext.defaultParallelism.toLong
    math.min(4096L, math.max(base, mass / PairsPerTask)).toInt
  }

  /** Threshold that switches one metric's clause off in
    * [[pairScoresFrom]] (both scores are ≤ 1).
    */
  private val Off = 2.0

  /** PPJoin-style size-ratio prune over exploded packed pairs: jaccard
    * ≤ min(sz)/max(sz) (intersection is at most the smaller set), so a
    * pair whose size ratio can't reach the threshold can't survive the
    * final filter — drop it before it costs shuffle bytes and
    * aggregation state. The 1e-4 slack keeps pairs whose true jaccard
    * rounds UP to the threshold at the 4dp presentation rounding
    * (provably no result change).
    */
  private def sizeRatioPrune(threshold: Double): Column =
    least(unpackSz(col("p.id_a")), unpackSz(col("p.id_b"))) >=
      (greatest(unpackSz(col("p.id_a")), unpackSz(col("p.id_b"))) * lit(threshold - 1e-4))

  /** The ONE pair-scores build of the exact n-gram pair family: pairs
    * expand map-side from the sorted posting arrays at a mass-adaptive
    * fan-out ([[pairFanout]]), `pairFilter` prunes the exploded packed
    * pairs (`p.id_a`, `p.id_b`) map-side BEFORE the exchange (the
    * jaccard faces pass [[sizeRatioPrune]], the incremental containment
    * face its parity cut — excluded pairs never cost shuffle bytes),
    * and ONE aggregation keyed on the two PACKED longs counts the
    * intersection (sz is a function of id, so grouping on the packed
    * value adds no cardinality and the agg hashes 16 key bytes, not
    * 32). The set sizes ride packed in the posting elements, so the
    * union size is in hand the moment the pair count lands and the
    * family is done: (id_a, id_b, jaccard, containment) for every pair
    * with jaccard ≥ jt OR containment ≥ ct (pass [[Off]] to drop a
    * clause).
    */
  private def pairScoresFrom(postings: DataFrame, jt: Double, ct: Double,
                             pairFilter: Column = lit(true)): DataFrame =
    postings
      .filter(size(col("ids")) >= 2)
      .repartition(pairFanout(postings))
      .select(explode(postingPairs(col("ids"))).as("p"))
      .filter(pairFilter)
      .groupBy(col("p.id_a").as("a"), col("p.id_b").as("b"))
      .agg(count(lit(1)).as("inter"))
      .select(unpackId(col("a")).as("id_a"), unpackId(col("b")).as("id_b"),
        round(col("inter").cast("double") /
          (unpackSz(col("a")) + unpackSz(col("b")) - col("inter")), 4).as("jaccard"),
        round(col("inter").cast("double") /
          least(unpackSz(col("a")), unpackSz(col("b"))), 4).as("containment"))
      .filter(col("jaccard") >= jt || col("containment") >= ct)

  /** PPJoin-style prefix-filtered exact Jaccard pairs — the THIRD
    * candidate-generation plan for the same certified pair set
    * (prefix filtering: Chaudhuri et al., ICDE 2006; PPJoin: Xiao et
    * al., WWW 2008): order every doc's rare-shingle set by GLOBAL
    * ascending document frequency (df, then shingle hash — rarest
    * first), index only each doc's PREFIX of length
    * |x| − ⌈t′·|x|⌉ + 1, and expand candidates from prefix postings
    * alone. Completeness: jac(A,B) ≥ t ⟹ |A∩B| ≥ ⌈t·max(|A|,|B|)⌉,
    * and an intersection that large cannot hide entirely in both
    * suffixes (pigeonhole over the shared total order), so every
    * qualifying pair collides on a prefix token; t′ = t − 1e-4 keeps
    * the pairs that ROUND up to t at the 4-dp presentation rounding
    * (the [[sizeRatioPrune]] slack, applied to the prefix too).
    *
    * Same posting-array pair expansion and size-ratio prune as the
    * df-cap plan, but the posting volume is prefix-bounded: a doc with
    * 200 rare shingles indexes ~101 at t=0.5 — and because the global
    * order is ASCENDING df, the prefix postings are the rarest
    * shingles, so per-posting fan-out shrinks twice over. Verification
    * is exact (per-doc set arrays, map-side `array_intersect`), so the
    * OUTPUT is row-identical to [[ngramJaccard]] and rides the same
    * DuckDB oracle; the spec asserts the identity plus the
    * candidate-volume reduction vs the df-cap plan.
    */
  def ppjoinJaccard(spark: SparkSession, dir: String,
                    threshold: Double = 0.5,
                    maxDf: Int = MaxShingleDf): DataFrame =
    cachedPpjoinPairs(spark, dir, threshold, maxDf).orderBy("id_a", "id_b")

  /** The PPJoin pair table memoized per (dir, threshold, maxDf) —
    * shared by the driver face and [[blockingReport]].
    */
  private[graft] def cachedPpjoinPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.5, maxDf: Int = MaxShingleDf): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("ppjoinPairs", dir, threshold, maxDf))(
      ppjoinPairs(cachedPostings(spark, dir, maxDf), threshold).localCheckpoint(true))

  /** Force the PPJoin pair table (bench artifact hook). */
  def prewarmPpjoinPairs(spark: SparkSession, dir: String): Unit = {
    cachedPpjoinPairs(spark, dir); ()
  }

  private def ppjoinPairs(postings: DataFrame, threshold: Double): DataFrame = {
    // ONE doc-grain pass serves both the prefix expansion and the
    // verify sets (the checkpoint stops the candidate and verify
    // branches re-deriving the doc agg)
    val docArr = docArraysOf(postings).localCheckpoint(true)
    val cand = ppjoinCandidatesFromArr(docArr, threshold)
    // r17 (guide §3.1): the candidate set dwarfs the doc-array table
    // (32M candidate pairs vs 50k docs at sf1), and the default
    // sort-merge verify shuffled those 32M rows TWICE — the second
    // exchange dragging the already-attached sa arrays with it. While
    // the doc table fits the exact-tier broadcast budget, ship IT
    // instead and verify map-side (zero candidate exchanges); past the
    // budget, pin it as the build side of a co-partitioned shuffled
    // hash join so the arrays at least never pass through sort buffers.
    val docSets0 = docArr.select(col("doc_id"), col("arr").as("shs"))
    val docSets =
      if (docArr.count() <= maxExactBroadcastRows(postings.sparkSession)) broadcast(docSets0)
      else docSets0.hint("shuffle_hash")
    cand
      .select(unpackId(col("a")).as("id_a"), unpackSz(col("a")).as("sza"),
        unpackId(col("b")).as("id_b"), unpackSz(col("b")).as("szb"))
      .join(docSets.select(col("doc_id").as("id_a"), col("shs").as("sa")), "id_a")
      .join(docSets.select(col("doc_id").as("id_b"), col("shs").as("sb")), "id_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sza") + col("szb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Blocking-strategy acceptance report — the candidate-generation
    * counterpart of [[dedupQualityReport]]'s tier readout: each
    * alternative blocking plan's VERIFIED pair set measured against the
    * certified df-cap truth ([[ngramJaccard]]'s memoized pairs).
    * `ppjoin` must read precision = recall = 1.0 (the prefix filter is
    * complete and the verify exact — the driver gate re-certifies the
    * row-identity every round); `sorted_neighborhood` reads the
    * single-pass Merge/Purge recall, the number that tells a 100 TB
    * run how many passes (and which keys) the window plan needs before
    * it can replace a posting plan. All three pair tables are memoized
    * session substrates; the report itself is two pair-keyed joins of
    * tiny pair sets plus scalar arithmetic.
    */
  def blockingReport(spark: SparkSession, dir: String): DataFrame = {
    val truth = cachedJaccardPairs(spark, dir).select("id_a", "id_b")
      .withColumn("hit", lit(1))
    def pr(name: String, pairs: DataFrame): DataFrame =
      pairs.select("id_a", "id_b")
        .join(truth, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_pairs"), count(col("hit")).as("hits"))
        .select(lit(name).as("strategy"), col("n_pairs"), col("hits"))
    pr("ppjoin", cachedPpjoinPairs(spark, dir))
      .unionByName(pr("sorted_neighborhood", cachedSnPairs(spark, dir)))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(col("strategy"), col("n_pairs"), col("hits"), col("n_truth"),
        round(col("hits").cast("double") / col("n_pairs"), 4).as("precision"),
        round(col("hits").cast("double") / col("n_truth"), 4).as("recall"))
      .orderBy("strategy")
  }

  /** [[blockingReport]] replayed: the truth and SN pair sets rebuilt by
    * their own certified oracle chains, the ppjoin row read off the
    * truth itself (the identity IS the claim the Spark side must meet).
    */
  def blockingReportSql: String =
    s"""WITH truth AS ($ngramJaccardSql),
       |sn AS (${sortedNeighborhoodSql()}),
       |strat AS (
       |  SELECT 'ppjoin' AS strategy, id_a, id_b FROM truth
       |  UNION ALL
       |  SELECT 'sorted_neighborhood' AS strategy, id_a, id_b FROM sn),
       |agg AS (
       |  SELECT s.strategy, count(*) AS n_pairs, count(t.id_a) AS hits
       |  FROM strat s LEFT JOIN truth t
       |    ON s.id_a = t.id_a AND s.id_b = t.id_b
       |  GROUP BY s.strategy),
       |tot AS (SELECT count(*) AS n_truth FROM truth)
       |SELECT strategy, n_pairs, hits, n_truth,
       |  round(hits * 1.0 / n_pairs, 4) AS precision,
       |  round(hits * 1.0 / n_truth, 4) AS recall
       |FROM agg, tot ORDER BY strategy""".stripMargin

  /** (doc_id, arr: array<long> of shingle hashes sorted rarest-first
    * by (df, sh), sz) — the shared doc-grain substrate of the prefix
    * expansion and the verify sets, derived from the grouped postings
    * (r17): each posting row carries its shingle's full rare posting
    * list, so df = size(ids) (the postings are per-doc-distinct) and
    * one explode + doc-grain groupBy yields the
    * (df asc, sh asc) global order with no df aggregation and no
    * posting-grain shuffle join. The df rides only the per-doc sort and
    * is dropped from the output: the materialized arrays and every
    * downstream join payload carry bare longs (halves the artifact, the
    * packed-posting discipline).
    */
  private def docArraysOf(postings: DataFrame): DataFrame =
    postings
      .select(col("sh"), size(col("ids")).cast("long").as("df"),
        explode(col("ids")).as("e"))
      .groupBy(unpackId(col("e")).as("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("arr0"))
      .select(col("doc_id"),
        transform(col("arr0"), s => s.getField("sh")).as("arr"),
        size(col("arr0")).cast("long").as("sz"))

  /** Distinct packed candidate pairs from the prefix postings (exposed
    * for the spec's candidate-volume comparison vs [[ngramCandidates]]).
    */
  private[graft] def ppjoinCandidates(postings: DataFrame,
                                      threshold: Double): DataFrame =
    ppjoinCandidatesFromArr(docArraysOf(postings), threshold)

  private def ppjoinCandidatesFromArr(docArr: DataFrame,
                                      threshold: Double): DataFrame = {
    val tSlack = threshold - 1e-4
    val prefixLen = (col("sz") - ceil(col("sz") * lit(tSlack)) + 1).cast("int")
    // checkpointed so the fan-out sizing pass below reads materialized
    // arrays instead of re-running the prefix explode + groupBy
    val prefixPostings = docArr
      .select(packIdSz(col("doc_id"), col("sz")).as("e"),
        explode(slice(col("arr"), lit(1), prefixLen)).as("sh"))
      .groupBy("sh").agg(sort_array(collect_list(col("e"))).as("ids"))
      .localCheckpoint(true)
    prefixPostings
      .filter(size(col("ids")) >= 2)
      // mass-adaptive explosion fan-out — see pairFanout
      .repartition(pairFanout(prefixPostings))
      .select(explode(postingPairs(col("ids"))).as("p"))
      .filter(sizeRatioPrune(threshold))
      .select(col("p.id_a").as("a"), col("p.id_b").as("b"))
      .distinct()
  }

  /** Exact n-gram CONTAINMENT pairs — the asymmetric partial-dup
    * metric: C(A,B) = ¦grams(A) ∩ grams(B)¦ / min(¦grams(A)¦,
    * ¦grams(B)¦). Jaccard misses subsumption (a short doc quoted
    * whole inside a long one has inter/union ≈ ¦A¦/¦B¦ → 0), which is
    * exactly the boilerplate-wrap / quotation / version-append
    * duplication mode web corpora carry; containment scores it 1.0.
    * Broder's resemblance-vs-containment distinction (SEQUENCES '97,
    * public).
    *
    * Plan: the SAME df-capped posting substrate and [[pairScoresFrom]]
    * as the jaccard family (one shuffle keyed on the two packed ids),
    * but NO size-ratio prune — the asymmetric metric is precisely about
    * extreme size ratios, so the prune that is sound for jaccard would
    * delete the containment signal. The df cap is the worst-case bound,
    * as in the jaccard face.
    */
  def ngramContainmentPairs(docs: DataFrame, threshold: Double = 0.8,
                            maxDf: Int = MaxShingleDf): DataFrame =
    pairScoresFrom(postingsOf(docs, maxDf), Off, threshold)
      .select("id_a", "id_b", "containment")

  /** The default containment pair table memoized per dir — a filter
    * over the session's shared [[cachedPairScores]], so the exact face
    * and the incremental rollup add no pair explosion of their own.
    */
  private def cachedContainmentPairs(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("containmentPairs", dir))(
      cachedPairScores(spark, dir).filter(col("containment") >= 0.8)
        .select("id_a", "id_b", "containment").localCheckpoint(true))

  /** Force the shared containment pair table (bench artifact hook). */
  def prewarmContainmentPairs(spark: SparkSession, dir: String): Unit = {
    cachedContainmentPairs(spark, dir); ()
  }

  def ngramContainment(spark: SparkSession, dir: String): DataFrame =
    cachedContainmentPairs(spark, dir).orderBy("id_a", "id_b")

  /** Incremental containment — the daily-batch pattern for the
    * asymmetric metric (the subsumption check a scrape pipeline runs:
    * is today's batch quoted whole inside — or quoting whole — the
    * existing corpus?). Even doc_ids play the already-indexed corpus,
    * odd ids the new batch; corpus-internal (even, even) pairs are cut
    * MAP-SIDE at pair expansion (the [[pairScoresFrom]] pair filter),
    * so the shuffle carries only batch-touching pairs — cost scales
    * with the batch's pair mass, exactly as [[incrementalCandidates]]
    * scales with the batch's band mass. Rolled up per origin
    * (batch_vs_corpus / within_batch) — the dedup_incremental output
    * shape. Takes the persisted posting substrate (nothing old is
    * re-shingled).
    */
  def ngramContainmentIncrementalFrom(postings: DataFrame,
                                      threshold: Double = 0.8): DataFrame = {
    val touchesBatch = !(pmod(unpackId(col("p.id_a")), lit(2L)) === 0 &&
      pmod(unpackId(col("p.id_b")), lit(2L)) === 0)
    incrementalRollup(pairScoresFrom(postings, Off, threshold, touchesBatch))
  }

  /** The dir face applies the parity cut to the session's SHARED
    * containment table instead of re-exploding — result-identical (the
    * cut commutes with the containment threshold; asserted in spec),
    * and it keeps the family at ONE pair explosion per session.
    */
  def ngramContainmentIncremental(spark: SparkSession, dir: String): DataFrame =
    incrementalRollup(cachedContainmentPairs(spark, dir)
      .filter(!(pmod(col("id_a"), lit(2L)) === 0 &&
        pmod(col("id_b"), lit(2L)) === 0)))

  private def incrementalRollup(pairs: DataFrame): DataFrame =
    pairs
      .select(
        when(pmod(col("id_a"), lit(2L)) =!= pmod(col("id_b"), lit(2L)),
          "batch_vs_corpus").otherwise("within_batch").as("origin"),
        col("id_b"))
      .groupBy("origin")
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("id_b")).as("n_docs_b"))
      .orderBy("origin")

  /** The DuckDB replay of [[postingsOf]] shared by the exact pair-family
    * oracles: word 3-shingles (`sh`), the df-cap prune (`pruned`) and
    * the rare-set sizes (`sizes`).
    */
  private def postingCtes: String =
    s"""$shingleBaseCtes,
       |hot AS (SELECT sh FROM df WHERE n > $MaxShingleDf),
       |pruned AS (SELECT * FROM sh WHERE sh NOT IN (SELECT sh FROM hot)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM pruned GROUP BY doc_id)""".stripMargin

  /** [[ngramContainmentSql]]'s posting chain with the parity cut in the
    * pair join and the origin rollup tail.
    */
  val ngramContainmentIncrementalSql: String =
    s"""WITH $postingCtes,
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM pruned a JOIN pruned b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  WHERE NOT (a.doc_id % 2 = 0 AND b.doc_id % 2 = 0)
       |  GROUP BY 1, 2),
       |kept AS (
       |  SELECT id_a, id_b FROM pairs
       |   JOIN sizes sa ON sa.doc_id = id_a
       |   JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE round(inter * 1.0 / least(sa.sz, sb.sz), 4) >= 0.8)
       |SELECT CASE WHEN id_a % 2 <> id_b % 2 THEN 'batch_vs_corpus'
       |            ELSE 'within_batch' END AS origin,
       |  count(*) AS n_pairs, count(DISTINCT id_b) AS n_docs_b
       |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin

  /** dedup_containment replayed: the jaccard oracle's posting CTEs
    * with the containment formula in place of inter/union.
    */
  val ngramContainmentSql: String =
    s"""WITH $postingCtes,
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM pruned a JOIN pruned b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  round(inter * 1.0 / least(sa.sz, sb.sz), 4) AS containment
       |FROM pairs
       | JOIN sizes sa ON sa.doc_id = id_a
       | JOIN sizes sb ON sb.doc_id = id_b
       |WHERE round(inter * 1.0 / least(sa.sz, sb.sz), 4) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  /** Posting-sampling probability (percent) for the approximate
    * containment tier. p=50 halves posting volume and quarters the
    * pair-explosion mass while keeping the estimator tight on the
    * ≥0.8-containment pairs the face reports (a 0.8·min-sz
    * intersection at the corpus's shingle-set sizes concentrates well
    * within the rounding at p²=0.25 expected retention).
    */
  val ContainmentSamplePct = 50

  /** Approximate n-gram containment — the SCALE TIER of
    * [[ngramContainment]]. The exact face cannot take the PPJoin
    * size-ratio prune (the asymmetric metric is precisely about
    * extreme size ratios), so its pair explosion is the full
    * Θ(Σ min(df,cap)²) — the steepest certified cost in the roster at
    * 10× data. This face is the DOULION treatment (Tsourakakis et al.,
    * KDD '09 — the same recipe as [[graft.queries.Graph.triangleCountApprox]]):
    * sample each RARE posting (doc, shingle) independently with
    * probability p via a deterministic salted md5 coin on the SHINGLE
    * STRING (replayable in both engines), count pair intersections
    * EXACTLY on the sampled postings, and scale by 1/p² (a shared
    * shingle survives for a pair iff both its postings survive —
    * probability p²). The denominator min(¦A¦, ¦B¦) uses the EXACT
    * rare-set sizes (one cheap doc-keyed aggregation, no pair cost),
    * so only the intersection is estimated. Posting volume shrinks ~p
    * and pair mass ~p² — the knob that makes containment runnable at
    * 100 TB without changing the metric's semantics the way a df-cap
    * tightening would.
    *
    * p=100 degenerates bit-equal to the exact face (coin always true,
    * 1/p² = 1) — asserted in spec; the estimator-vs-exact concentration
    * is spec'd at the default p. Hash-certified: the oracle replays the
    * coin and the sampled count verbatim.
    */
  def ngramContainmentApprox(spark: SparkSession, dir: String,
      threshold: Double = 0.8, pPct: Int = ContainmentSamplePct,
      salt: Int = 0, maxDf: Int = MaxShingleDf): DataFrame = {
    // coin needs the shingle STRING (the cross-engine-replayable key),
    // so this face re-shingles rather than reading cachedShingles'
    // already-hashed postings — ONE memoized corpus pass per
    // (dir, p, salt), the cachedShingles discipline; the pair stage it
    // feeds is the part that matters at scale
    val sh = graft.SessionCache.getOrElseUpdate(
        spark, ("coinShingles", dir, pPct, salt))(
      Tables.documents(spark, dir)
        .select(col("doc_id"), toks(col("text")).as("__t"))
        .select(col("doc_id"), explode(ngramsOfToks(col("__t"), 3)).as("s"))
        .filter(col("s") =!= "")
        .select(col("doc_id"), xxhash64(col("s")).as("sh"),
          (conv(substring(md5(concat_ws(":", col("s"), col("doc_id"), lit(salt))),
            1, 8), 16, 10).cast("long") % 100 < pPct).as("keep"))
        .localCheckpoint(true))
    val hot = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("sh")
    // pack the EXACT rare-set size with the id; posting arrays keep
    // only the coin-surviving elements (the ~p-thinned explosion)
    val postings = sh.join(hot, Seq("sh"), "left_anti")
      .groupBy("doc_id")
      .agg(collect_list(struct(col("sh"), col("keep"))).as("es"))
      .select(explode(filter(col("es"), e => e.getField("keep"))).as("e"),
        packIdSz(col("doc_id"), size(col("es"))).as("packed"))
      .select(col("e.sh").as("sh"), col("packed"))
      .groupBy("sh").agg(sort_array(collect_list(col("packed"))).as("ids"))
      .select("ids")
      // checkpointed for the mass-adaptive fan-out pass (pairFanout) —
      // the thinned explosion still carries ~p²·Σdf² pair mass into
      // its partial aggregation
      .localCheckpoint(true)
    val p = pPct / 100.0
    postings
      .filter(size(col("ids")) >= 2)
      .repartition(pairFanout(postings))
      .select(explode(postingPairs(col("ids"))).as("p"))
      .groupBy(col("p.id_a").as("a"), col("p.id_b").as("b"))
      .agg(count(lit(1)).as("inter"))
      .select(unpackId(col("a")).as("id_a"), unpackId(col("b")).as("id_b"),
        col("inter").as("n_sampled"),
        round(col("inter").cast("double") / lit(p * p) /
          least(unpackSz(col("a")), unpackSz(col("b"))), 4).as("containment_est"))
      .filter(col("containment_est") >= threshold)
      .orderBy("id_a", "id_b")
  }

  /** [[ngramContainmentSql]] with the posting sample + 1/p² scaling
    * spliced in — the coin replayed verbatim on the string shingle.
    */
  val ngramContainmentApproxSql: String = {
    val pPct = ContainmentSamplePct
    val p2 = pPct / 100.0 * (pPct / 100.0)
    s"""WITH $postingCtes,
       |samp AS (
       |  SELECT * FROM pruned
       |  WHERE ('0x' || substr(md5(sh || ':' || CAST(doc_id AS VARCHAR) || ':0'),
       |    1, 8))::UBIGINT % 100 < $pPct),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM samp a JOIN samp b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, inter AS n_sampled,
       |  round(inter / $p2 / least(sa.sz, sb.sz), 4) AS containment_est
       |FROM pairs
       | JOIN sizes sa ON sa.doc_id = id_a
       | JOIN sizes sb ON sb.doc_id = id_b
       |WHERE round(inter / $p2 / least(sa.sz, sb.sz), 4) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Force the shared pair table into [[graft.SessionCache]] — the
    * bench's artifact-attribution hook (graft.Artifacts): building it
    * here means the per-query numbers for its three consumers are
    * marginal costs, and a regression in pair generation shows up on
    * the artifact line, not on whichever consumer runs first.
    */
  def prewarmPairs(spark: SparkSession, dir: String): Unit = {
    cachedJaccardPairs(spark, dir); ()
  }

  /** Force the shared LSH band index + per-doc shingle arrays into the
    * session cache (graft.Artifacts attribution — three driver faces
    * consume them).
    */
  def prewarmLshIndex(spark: SparkSession, dir: String): Unit = {
    cachedBandIndex(spark, dir); cachedShingledDocs(spark, dir); ()
  }

  /** Near-dup pair table (jaccard ≥ 0.5) memoized per dir — a filter
    * over the session's shared [[cachedPairScores]]. The entries
    * that consume it (`dedup_ngram_jaccard`, `dedup_clusters`,
    * `near_dedup_keep`, the planning and quality reports) share ONE
    * materialized pair generation per pass instead of re-running the
    * posting build and pair expansion each (the pair stage is the
    * family's Θ(Σ min(df,cap)²) cost); the localCheckpoint means every
    * consumer reads shuffle output, not lineage.
    */
  private def cachedJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("jaccardPairs", dir))(
      cachedPairScores(spark, dir).filter(col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard").localCheckpoint(true))

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    cachedJaccardPairs(spark, dir).orderBy("id_a", "id_b")

  /** Dedup-aggressiveness planning sweep: per Jaccard threshold
    * ∈ {0.5 … 0.9}, how many near-dup pairs survive and how many
    * documents are touched by at least one — the cost/recall curve a
    * curation run reads to pick its cut before committing to a
    * keep-list. Score-once/filter-per-config (the band_recall_plan
    * discipline): every threshold row filters the ONE memoized
    * ≥ 0.5 pair table, nothing is re-scored.
    */
  def jaccardThresholdPlan(spark: SparkSession, dir: String): DataFrame = {
    val pairs = cachedJaccardPairs(spark, dir)
    val ts = explode(array(Seq(0.5, 0.6, 0.7, 0.8, 0.9).map(lit): _*)).as("threshold")
    val tdf = pairs.sparkSession.range(1).select(ts)
    val np = tdf.join(pairs, col("jaccard") >= col("threshold"), "left")
      .groupBy("threshold").agg(count(col("id_a")).as("n_pairs"))
    val nd = tdf.join(
        pairs.select(col("jaccard"), explode(array(col("id_a"), col("id_b"))).as("doc")),
        col("jaccard") >= col("threshold"), "left")
      .groupBy("threshold").agg(countDistinct(col("doc")).as("n_docs_affected"))
    val total = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    np.join(nd, "threshold")
      .crossJoin(broadcast(total))
      .select(col("threshold"), col("n_pairs"), col("n_docs_affected"),
        round(col("n_docs_affected").cast("double") / col("n_docs"), 4).as("affected_frac"))
      .orderBy("threshold")
  }

  // lazy: interpolates ngramJaccardSql's pair chain (same init-order
  // discipline as the other composed oracles)
  lazy val jaccardThresholdPlanSql: String =
    s"""WITH p AS ($ngramJaccardSql),
       |t AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS threshold),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |np AS (
       |  SELECT t.threshold, CAST(count(p.id_a) AS BIGINT) AS n_pairs
       |  FROM t LEFT JOIN p ON p.jaccard >= t.threshold GROUP BY 1),
       |nd AS (
       |  SELECT t.threshold, CAST(count(DISTINCT d.doc) AS BIGINT) AS n_docs_affected
       |  FROM t LEFT JOIN (SELECT jaccard, unnest([id_a, id_b]) AS doc FROM p) d
       |    ON d.jaccard >= t.threshold
       |  GROUP BY 1)
       |SELECT np.threshold, np.n_pairs, nd.n_docs_affected,
       |  round(CAST(nd.n_docs_affected AS DOUBLE) / n.n_docs, 4) AS affected_frac
       |FROM np JOIN nd USING (threshold), n ORDER BY threshold""".stripMargin

  val ngramJaccardSql: String =
    s"""WITH $postingCtes,
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM pruned a JOIN pruned b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) AS jaccard
       |FROM pairs
       | JOIN sizes sa ON sa.doc_id = id_a
       | JOIN sizes sb ON sb.doc_id = id_b
       |WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  /** MinHash-LSH band-configuration acceptance planner: for each
    * candidate (bands, rows-per-band) layout, the analytic S-curve
    * detection probability 1-(1-s^r)^b EVALUATED OVER THIS CORPUS'S
    * exact near-dup truth pairs (the certified [[ngramJaccard]] set,
    * j ≥ 0.5) — i.e. the expected recall each signature budget buys on
    * the distribution that will actually be deduped, not on a uniform
    * assumption. The output is the up-front evidence a 100 TB run
    * needs to size its signature (b·r hashes/doc) before paying for
    * it; [[dedupQualityReport]] is the post-hoc measurement of the one
    * config that shipped, this is the a-priori sweep of the
    * alternatives. Cost: the truth pairs are the memoized pair-family
    * substrate; the sweep itself is arithmetic over (pairs × 6 configs)
    * scalar rows.
    */
  val BandConfigs: Seq[(Int, Int)] =
    Seq((8, 2), (16, 2), (8, 4), (16, 4), (32, 4), (16, 8))

  def bandRecallPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val truth = cachedJaccardPairs(spark, dir).select("jaccard")
    val cfgs = broadcast(BandConfigs.toDF("bands", "rows_per_band"))
    truth.crossJoin(cfgs)
      .withColumn("p_detect",
        lit(1.0) - pow(lit(1.0) - pow(col("jaccard"), col("rows_per_band")), col("bands")))
      .groupBy("bands", "rows_per_band")
      .agg(count(lit(1)).as("n_pairs"),
        avg(col("p_detect")).as("er"))
      .select(col("bands"), col("rows_per_band"),
        (col("bands") * col("rows_per_band")).as("sig_hashes"),
        round(pow(lit(1.0) / col("bands"), lit(1.0) / col("rows_per_band")), 4)
          .as("threshold_s"),
        col("n_pairs"),
        round(col("er"), 4).as("expected_recall"))
      .orderBy("bands", "rows_per_band")
  }

  val bandRecallPlanSql: String =
    """WITH cfg(bands, rows_per_band) AS (
      |  VALUES (8,2),(16,2),(8,4),(16,4),(32,4),(16,8)),
      |l AS (
      |  SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS l
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(CASE WHEN len(l) >= 3 THEN list_distinct(
      |    [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN range(1, len(l) - 1)])
      |    ELSE [array_to_string(l, ' ')] END) AS sh FROM l),
      |hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 100),
      |pruned AS (SELECT * FROM sh WHERE sh NOT IN (SELECT sh FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM pruned GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |  FROM pruned a JOIN pruned b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |truth AS (
      |  SELECT round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) AS jaccard
      |  FROM pairs
      |   JOIN sizes sa ON sa.doc_id = id_a
      |   JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) >= 0.5)
      |SELECT bands, rows_per_band, bands * rows_per_band AS sig_hashes,
      |  round(pow(CAST(1.0 AS DOUBLE) / bands, CAST(1.0 AS DOUBLE) / rows_per_band), 4) AS threshold_s,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  round(avg(1.0 - pow(1.0 - pow(jaccard, rows_per_band), bands)), 4) AS expected_recall
      |FROM truth, cfg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Per-document n-gram NOVELTY — the redundancy-ordering curation
    * signal: scanning the corpus in doc_id order, which fraction of
    * each document's distinct 3-gram shingles appears here FIRST
    * (min-doc_id attribution)? Early docs score high, boilerplate-heavy
    * late docs low; dedup-aware sampling pipelines rank ingestion order
    * by exactly this curve, and a corpus-wide novelty collapse is the
    * classic crawl-loop symptom.
    *
    * Plan: the corpus shingles once into hashed (doc_id, sh) postings
    * (materialized — both the first-occurrence aggregate and the
    * attribution join read them); first occurrence is a MIN aggregation
    * on the gram key (O(1) state per key — never a sort or window over
    * the corpus), and the attribution join co-partitions on the same
    * gram key, so the exchange is reused. The final per-doc rollup
    * partials map-side. Shuffle payload is (long, long) rows — the
    * hashed-key discipline of the pair family; the oracle groups the
    * gram STRINGS, equivalent up to 64-bit hash collisions (the same
    * accounting equivalence every hashed-substrate oracle here relies
    * on).
    */
  def ngramNovelty(docs: DataFrame): DataFrame = {
    val sh = explodedShingles(docs).localCheckpoint(true)
    val first = sh.groupBy("sh").agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 4).as("novelty"))
      .orderBy("doc_id")
  }

  def ngramNovelty(spark: SparkSession, dir: String): DataFrame =
    ngramNovelty(Tables.documents(spark, dir))

  val ngramNoveltySql: String =
    """WITH l AS (
      |  SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS l
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(CASE WHEN len(l) >= 3 THEN list_distinct(
      |    [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN range(1, len(l) - 1)])
      |    ELSE [array_to_string(l, ' ')] END) AS sh FROM l),
      |flt AS (SELECT doc_id, sh FROM sh WHERE sh <> ''),
      |f AS (SELECT sh, min(doc_id) AS first_doc FROM flt GROUP BY sh)
      |SELECT s.doc_id, count(*) AS n_grams,
      |  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel,
      |  round(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) * 1.0
      |    / count(*), 4) AS novelty
      |FROM flt s JOIN f USING (sh)
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  /** Span-level duplication accounting — the "duplicate text fraction"
    * curation signal: for each document, how many of its distinct
    * `n`-token spans also appear in at least one OTHER document. High
    * fractions flag docs that are mostly assembled from text duplicated
    * elsewhere even when no whole-document pair crosses a Jaccard
    * threshold (the passage-level view that document-level dedup
    * misses).
    *
    * Plan: one span explode (map-side, hashed), postings materialized
    * once (they feed the df aggregation AND the join back), one df
    * aggregation, one hash-keyed join, one per-doc aggregation — all
    * shuffle payloads are (long, long).
    */
  def dupSpanStats(docs: DataFrame, n: Int = 20): DataFrame = {
    val grams = explodedNgrams(docs, n).localCheckpoint(true)
    val dfs = grams.groupBy("sh").agg(countDistinct(col("doc_id")).as("df"))
    grams.join(dfs, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_frac",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 4))
      .orderBy("doc_id")
  }

  def dupSpanStats(spark: SparkSession, dir: String): DataFrame =
    dupSpanStats(Tables.documents(spark, dir))

  val dupSpanStatsSql: String =
    """WITH l AS (
      |  SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS l
      |  FROM documents),
      |g0 AS (
      |  SELECT doc_id, unnest(CASE WHEN len(l) >= 20 THEN list_distinct(
      |    [array_to_string(l[i:i+19], ' ') FOR i IN range(1, len(l) - 18)])
      |    ELSE [array_to_string(l, ' ')] END) AS g FROM l),
      |g AS (SELECT * FROM g0 WHERE g <> ''),
      |d AS (SELECT g, count(DISTINCT doc_id) AS df FROM g GROUP BY g)
      |SELECT doc_id, count(*) AS n_spans,
      |  CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
      |  round(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS dup_frac
      |FROM g JOIN d USING (g)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Span-level duplicate REMOVAL — the rewrite face of
    * [[dupSpanStats]] (which only measures): drop from every document
    * the `n`-token spans that also appear in an EARLIER document,
    * keeping the first occurrence. This is the passage-granular exact
    * dedup a training corpus needs when whole-document dedup passes
    * but boilerplate passages are copied across documents — the
    * measured signal becomes an applied transformation.
    *
    * Semantics (deterministic, oracle-checkable):
    *   - spans are sliding windows of `n` normalized tokens (stride 1,
    *     ALL positions, not per-doc distinct — every occurrence in a
    *     non-keeper doc is removed); docs shorter than `n` tokens are
    *     one whole-doc span;
    *   - the KEEPER of a span text is the minimum doc_id containing it;
    *     keepers keep all their occurrences (a span duplicated only
    *     within one doc is untouched);
    *   - a non-keeper doc drops the union of its removed spans' token
    *     ranges; surviving tokens re-join in order.
    *
    * Plan: one positional span explode, one span-keyed aggregation
    * (keeper, df), one join back for removal intervals, interval →
    * index explode + distinct (coverage union), one anti-join against
    * the positional tokens, one per-doc reassembly — every shuffle is
    * keyed by a 128-bit md5 of the span (computed map-side, so the
    * raw n-token string never crosses the wire — the 100 TB shape),
    * doc, or (doc, idx). md5, not xxhash64, because DuckDB has md5
    * too: the oracle groups on the identical key, so the entry stays
    * hash-certified rather than trusting collision-freeness of a
    * Spark-only hash.
    */
  def scrubDupSpans(docs: DataFrame, n: Int = 20): DataFrame = {
    val toks = docs.select(col("doc_id"),
        split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ").as("l"))
      .localCheckpoint(true) // feeds spans AND reconstruction
    val spans = toks.select(col("doc_id"), size(col("l")).as("sz"),
        posexplode(when(size(col("l")) >= n,
          expr(s"transform(sequence(0, size(l) - $n), i -> array_join(slice(l, i + 1, $n), ' '))"))
          .otherwise(array(array_join(col("l"), " "))))
          .as(Seq("pos", "g")))
      .filter(col("g") =!= "")
      .select(col("doc_id"), col("sz"), col("pos"),
        md5(col("g").cast("binary")).as("h"))
    val keep = spans.groupBy("h")
      .agg(min("doc_id").as("keeper"), countDistinct(col("doc_id")).as("df"))
    val rem = spans.join(keep, "h")
      .filter(col("df") >= 2 && col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), col("pos").as("st"),
        least(col("pos") + lit(n), col("sz")).as("e"))
    val cov = rem.select(col("doc_id"),
      explode(sequence(col("st"), col("e") - 1)).as("idx")).distinct()
    val toksIdx = toks.select(col("doc_id"), posexplode(col("l")).as(Seq("idx", "t")))
    val reb = toksIdx.join(cov, Seq("doc_id", "idx"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("idx"), col("t")))),
        x => x.getField("t")), " ").as("scrubbed"))
    val nrem = cov.groupBy("doc_id").agg(count(lit(1)).as("n_tokens_removed"))
    toks.select(col("doc_id"), size(col("l")).cast("long").as("n_tokens"))
      .join(nrem, Seq("doc_id"), "left")
      .join(reb, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_tokens_removed"), lit(0L)).as("n_tokens_removed"),
        coalesce(col("scrubbed"), lit("")).as("scrubbed"))
      .orderBy("doc_id")
  }

  def scrubDupSpans(spark: SparkSession, dir: String): DataFrame =
    scrubDupSpans(Tables.documents(spark, dir))

  val scrubDupSpansSql: String =
    """WITH l AS (
      |  SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS l
      |  FROM documents),
      |g0 AS (SELECT doc_id, len(l) AS sz,
      |  unnest(CASE WHEN len(l) >= 20 THEN
      |      [{'g': array_to_string(l[i:i+19], ' '), 'pos': i - 1} FOR i IN range(1, len(l) - 18)]
      |    ELSE [{'g': array_to_string(l, ' '), 'pos': 0}] END) AS s
      |  FROM l),
      |g AS (SELECT doc_id, sz, md5(s.g) AS h, s.pos AS pos FROM g0 WHERE s.g <> ''),
      |k AS (SELECT h, min(doc_id) AS keeper, count(DISTINCT doc_id) AS df FROM g GROUP BY h),
      |rem AS (SELECT doc_id, pos AS st, least(pos + 20, sz) AS e FROM g JOIN k USING (h)
      |        WHERE df >= 2 AND doc_id <> keeper),
      |cov AS (SELECT DISTINCT doc_id, idx
      |        FROM (SELECT doc_id, unnest(range(st, e)) AS idx FROM rem)),
      |tok AS (SELECT doc_id, s.idx AS idx, s.t AS t FROM
      |  (SELECT doc_id, unnest([{'t': l[i], 'idx': i - 1} FOR i IN range(1, len(l) + 1)]) AS s FROM l)),
      |kept AS (SELECT t.doc_id, t.idx, t.t FROM tok t LEFT JOIN cov c
      |         ON t.doc_id = c.doc_id AND t.idx = c.idx WHERE c.idx IS NULL),
      |reb AS (SELECT doc_id, string_agg(t, ' ' ORDER BY idx) AS scrubbed FROM kept GROUP BY doc_id),
      |nrem AS (SELECT doc_id, count(*) AS n_tokens_removed FROM cov GROUP BY doc_id)
      |SELECT l.doc_id, len(l.l) AS n_tokens,
      |  COALESCE(nrem.n_tokens_removed, 0) AS n_tokens_removed,
      |  COALESCE(reb.scrubbed, '') AS scrubbed
      |FROM l LEFT JOIN nrem USING (doc_id) LEFT JOIN reb USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // 3. MinHash + LSH banding (the scale path for near-dup).
  // ------------------------------------------------------------------

  val NumHashes = 64
  val BandRows = 4 // → 16 bands; s-curve threshold ≈ (1/16)^(1/4) ≈ 0.5

  /** Identity of the band-hash family. Persisted indexes
    * ([[lshBandIndex]] scaladoc, StreamingNearDedupJob) only join
    * meaningfully against bands of the SAME family. The string embeds a
    * digest of every parameter the band values depend on (permutation
    * coefficients — which fix the seed — the rehash prime, and the FNV
    * mixing constants), so ANY arithmetic change shifts the format
    * mechanically; no one has to remember to bump a version. v2 = fused
    * native minima + FNV-1a band mixing (v1 was xxhash64 over signature
    * slices cast to string).
    */
  val BandFormat: String = {
    val digest = java.util.Objects.hash(
      java.util.Arrays.hashCode(minhashA): Integer,
      java.util.Arrays.hashCode(minhashB): Integer,
      MinhashPrime: java.lang.Long,
      graft.functions.MinHashExpression.FnvOffset: java.lang.Long,
      graft.functions.MinHashExpression.FnvPrime: java.lang.Long)
    f"minhash-fnv-v2/$NumHashes/$BandRows/$digest%08x"
  }

  val MinhashPrime = 4294967311L // prime > 2^32
  private[graft] val (minhashA, minhashB) = {
    val rnd = new scala.util.Random(7L)
    val as = Array.fill(NumHashes)(1L + rnd.nextInt(Int.MaxValue - 1).toLong)
    val bs = Array.fill(NumHashes)(rnd.nextInt(Int.MaxValue).toLong)
    (as, bs)
  }

  /** 31-bit shingle hashes (bounded so the affine rehash (a·x+b) mod p
    * stays overflow-free under ANSI) from a materialized shingle array.
    */
  def shingleHashes(sh: Column): Column =
    transform(filter(sh, s => s =!= ""), s => pmod(xxhash64(s), lit(2147483647L)))

  /** K permutation-mins over an ALREADY-MATERIALIZED 31-bit hash array —
    * K array_min passes over attributes only, all native higher-order
    * funcs, entirely map-side.
    */
  def minhashFromHashes(h: Column): Column = {
    val aLit = array(minhashA.toIndexedSeq.map(lit): _*)
    val bLit = array(minhashB.toIndexedSeq.map(lit): _*)
    transform(sequence(lit(0), lit(NumHashes - 1)),
      k => array_min(transform(h,
        x => pmod(element_at(aLit, k + 1) * x + element_at(bLit, k + 1), lit(MinhashPrime)))))
  }

  /** Single-expression MinHash signature straight from text. Convenience
    * for specs/ad-hoc use; the LSH pipeline stages tokens → shingles →
    * hashes through materialized projections instead (each lambda here
    * captures the full tokenizer expression and re-runs it per element).
    */
  def minhashSignature(text: Column): Column =
    minhashFromHashes(shingleHashes(shingles(text)))

  /** (doc_id, band_id, band_hash) LSH index rows for a corpus slice —
    * the PERSISTABLE form of the MinHash index: write these ~16 rows/doc
    * to parquet once per corpus increment and new batches join against
    * them without ever re-shingling the old corpus (see
    * [[incrementalCandidates]]). Entirely map-side.
    */
  def lshBandIndex(docs: DataFrame): DataFrame =
    shingled(docs)
      .select(col("doc_id"), shingleHashes(col("__sh")).as("__h"))
      // the generator input is the native fused expression, NOT an
      // attribute: sign + band in one codegen'd pass (the K interpreted
      // array_min passes dominated this pipeline's CPU), and explode-of-
      // expression dodges the InferFiltersFromGenerate re-evaluation
      // landmine (see [[shingled]])
      .select(col("doc_id"),
        posexplode(graft.functions.MinHashExpression.minhashBandHashes(
          col("__h"), minhashA.toIndexedSeq, minhashB.toIndexedSeq,
          MinhashPrime, BandRows)).as(Seq("band_id", "band_hash")))

  /** Within-corpus LSH candidate pairs (id_a < id_b) from a band index. */
  def lshCandidatesFromIndex(bands: DataFrame): DataFrame =
    bands.alias("a").join(bands.alias("b"),
        col("a.band_id") === col("b.band_id") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()

  /** Incremental near-dup candidates — the daily-batch pattern: the
    * existing corpus is represented ONLY by its persisted band index;
    * the new batch computes its own bands map-side and band-joins them
    * against the index (batch-vs-corpus) plus itself (within-batch).
    * Cost scales with the batch, not the corpus — nothing old is
    * re-shingled or re-signed, and the batch's own index is
    * materialized ONCE (it feeds three join inputs; without the
    * checkpoint Spark would re-sign the batch per reference, since
    * there is no common-subplan elimination). Verify candidates with
    * the jaccard of choice downstream, exactly as [[minhashLsh]] does.
    */
  def incrementalCandidates(index: DataFrame, newDocs: DataFrame): DataFrame =
    incrementalCandidatesFromBands(index, lshBandIndex(newDocs).localCheckpoint(true))

  /** [[incrementalCandidates]] when the batch's bands are already
    * computed/persisted (pass a materialized frame — it feeds three
    * join inputs).
    */
  def incrementalCandidatesFromBands(index: DataFrame, newBands: DataFrame): DataFrame = {
    val vsCorpus = newBands.alias("a").join(index.alias("b"),
        col("a.band_id") === col("b.band_id") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
    val withinBatch = lshCandidatesFromIndex(newBands)
    vsCorpus.union(withinBatch).distinct()
  }

  /** LSH banding: signature → 16 band keys; docs sharing any band key
    * become candidates. The band-bucket groupBy is the only shuffle.
    * Output per doc: candidate count + best verified match (never empty
    * — docs with no candidates report n_candidates=0).
    */
  def minhashLsh(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    minhashLshFrom(docs, lshBandIndex(docs),
      shingled(docs).select(col("doc_id"), col("__sh").as("shingles")), threshold)

  /** The LSH index (~16 rows/doc, map-side signing) and the per-doc
    * shingle arrays, memoized per (session, dir): three driver faces
    * (`dedup_minhash_lsh`, `dedup_incremental`, `dedup_quality_report`)
    * consume one or both — without the cache each re-signs/re-shingles
    * the corpus (the dominant CPU of the family's map side).
    */
  private def cachedBandIndex(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("lshBandIndex", dir))(
      lshBandIndex(Tables.documents(spark, dir)).localCheckpoint(true))

  private def cachedShingledDocs(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("shingledDocs", dir))(
      shingled(Tables.documents(spark, dir))
        .select(col("doc_id"), col("__sh").as("shingles"))
        .localCheckpoint(true))

  private def minhashLshFrom(docs: DataFrame, bands: DataFrame,
      sh: DataFrame, threshold: Double): DataFrame = {
    val candidates = lshCandidatesFromIndex(bands)
    val verified = candidates
      .join(sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    // per-doc rollup (symmetric view so every doc reports). Explode the
    // two directions from ONE row instead of union-ing two selects of
    // the same subtree — Spark has no common-subplan elimination across
    // union branches, so the union form runs candidate+verify twice.
    val sym = verified.select(explode(array(
        struct(col("id_a").as("doc_id"), col("id_b").as("other"), col("jaccard")),
        struct(col("id_b").as("doc_id"), col("id_a").as("other"), col("jaccard")))).as("e"))
      .select("e.doc_id", "e.other", "e.jaccard")
    docs.select("doc_id")
      .join(sym, Seq("doc_id"), "left")
      .groupBy("doc_id")
      .agg(
        count(col("other")).as("n_dups"),
        max_by(col("other"), struct(col("jaccard"), -col("other"))).as("best_match_id"),
        max(col("jaccard")).as("best_jaccard"))
      .orderBy("doc_id")
  }

  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshFrom(Tables.documents(spark, dir),
      cachedBandIndex(spark, dir), cachedShingledDocs(spark, dir), 0.5)

  /** Driver entry for the incremental pattern: even doc_ids play the
    * already-indexed corpus, odd ids the new batch; LSH candidates
    * (batch-vs-corpus band join + within-batch self-join — nothing old
    * re-signed) are VERIFIED with exact shingle Jaccard before the
    * rollup, exactly as [[minhashLsh]] verifies. That turns the output
    * from hash-function-specific candidate counts into the TRUE
    * incremental near-dup pair counts, which the DuckDB oracle
    * reproduces relationally (same recall ≈ 1 premise as
    * `dedup_minhash_lsh`'s oracle, spec-held: candidates ⊇ true pairs
    * at this threshold) — the batch-vs-corpus composition is now
    * hash-certified, not merely spec-trusted.
    */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    // the corpus is signed/shingled ONCE per session (shared with the
    // lsh + quality-report faces); both roles (persisted index, new
    // batch) are parity slices of the same materialized band frame
    val bands = cachedBandIndex(spark, dir)
    val oldIndex = bands.filter(pmod(col("doc_id"), lit(2L)) === 0)
    val newBands = bands.filter(pmod(col("doc_id"), lit(2L)) === 1)
    val sh = cachedShingledDocs(spark, dir)
    incrementalCandidatesFromBands(oldIndex, newBands)
      .join(sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .filter(round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 4) >= 0.5)
      .withColumn("origin",
        when(pmod(col("id_a"), lit(2L)) =!= pmod(col("id_b"), lit(2L)), "batch_vs_corpus")
          .otherwise("within_batch"))
      .groupBy("origin")
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("id_b")).as("n_docs_b"))
      .orderBy("origin")
  }

  /** The relational definition of the incremental rollup: every true
    * Jaccard-≥0.5 pair touching the odd-id batch, classified by
    * parity origin.
    */
  val incrementalDedupSql: String =
    """WITH l AS (
      |  SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS l
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(CASE WHEN len(l) >= 3 THEN list_distinct(
      |    [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN range(1, len(l) - 1)])
      |    ELSE [array_to_string(l, ' ')] END) AS sh FROM l),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |verified AS (
      |  SELECT id_a, id_b
      |  FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) >= 0.5),
      |inc AS (
      |  SELECT id_a, id_b,
      |    CASE WHEN id_a % 2 <> id_b % 2 THEN 'batch_vs_corpus'
      |         ELSE 'within_batch' END AS origin
      |  FROM verified WHERE NOT (id_a % 2 = 0 AND id_b % 2 = 0))
      |SELECT origin, count(*) AS n_pairs, count(DISTINCT id_b) AS n_docs_b
      |FROM inc GROUP BY origin ORDER BY origin""".stripMargin

  /** Oracle for the ROLLUP shape of minhashLsh, computable exactly in
    * SQL because at threshold ≥ 0.5 LSH with 16 bands × 4 rows has
    * recall ≈ 1 on this data's separated Jaccard distribution (pairs
    * are either ≥0.9 or ≤0.1 — verified empirically; the spec asserts
    * LSH candidates ⊇ true pairs).
    */
  val minhashLshSql: String =
    """WITH l AS (
      |  SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS l
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(CASE WHEN len(l) >= 3 THEN list_distinct(
      |    [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN range(1, len(l) - 1)])
      |    ELSE [array_to_string(l, ' ')] END) AS sh FROM l),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |verified AS (
      |  SELECT id_a, id_b, round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) AS jaccard
      |  FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) >= 0.5),
      |sym AS (
      |  SELECT id_a AS doc_id, id_b AS other, jaccard FROM verified
      |  UNION ALL
      |  SELECT id_b AS doc_id, id_a AS other, jaccard FROM verified),
      |best AS (
      |  SELECT doc_id, other, jaccard,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, other ASC) AS rn
      |  FROM sym),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_dups, max(jaccard) AS best_jaccard FROM sym GROUP BY doc_id)
      |SELECT d.doc_id,
      |  coalesce(a.n_dups, 0) AS n_dups,
      |  b.other AS best_match_id,
      |  a.best_jaccard
      |FROM documents d
      | LEFT JOIN agg a ON d.doc_id = a.doc_id
      | LEFT JOIN (SELECT doc_id, other FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // 4. SimHash (hamming-space near-dup).
  // ------------------------------------------------------------------

  /** 64-bit SimHash per doc: per-token md5-derived 64-bit hash (the
    * oracle-reproducible key — see [[graft.functions.SimHashKernel]]),
    * each bit votes ±1, sign of the vote sum sets the bit. One fused
    * map-side pass via the native [[graft.functions.SimHash64]]
    * expression — a pure projection with ZERO shuffle (the previous
    * formulation exploded tokens and shuffled them through a
    * 64-conditional-sum groupBy).
    */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toks(col("text")).as("__t"))
      .select(col("doc_id"),
        graft.functions.SimHashExpression.simhash64(array_distinct(col("__t"))).as("simhash"))

  /** SimHash near-dup: candidates from 4×16-bit band pigeonhole
    * (hamming ≤ 3 ⇒ one band identical, so the banded candidate set
    * EQUALS the plain hamming filter — the bands are pure pruning),
    * verified with bit_count(xor). Hash-certified (r10): the token
    * hash is md5-derived ([[graft.functions.SimHashKernel]]), so the
    * oracle recomputes the identical signature bits and classifies
    * every pair by brute-force hamming — feasible on its side because
    * the oracle corpus is bounded, while the Spark side keeps the
    * banded plan that scales.
    */
  /** The (id_a < id_b, hamming) near-dup pair face of [[simhashDedup]]
    * — exposed for the quality report. */
  private[graft] def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sh = simhash(docs)
    val bands2 = sh.select(col("doc_id"), col("simhash"), expr(
      "explode(transform(sequence(0, 3), b -> struct(b AS band_id, " +
        "shiftright(simhash, b * 16) & 65535 AS band_val)))").as("x"))
      .select(col("doc_id"), col("simhash"), col("x.band_id"), col("x.band_val"))
    bands2.alias("a").join(bands2.alias("b"),
        col("a.band_id") === col("b.band_id") && col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("h_a"), col("b.simhash").as("h_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  def simhashDedup(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    simhashDedupFrom(docs, simhashPairs(docs, maxHamming))

  /** The hamming-pair table memoized per (session, dir, maxHamming):
    * both the dedup rollup face and the quality report's simhash tier
    * read one materialized band self-join instead of re-running it.
    */
  private def cachedSimhashPairs(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("simhashPairs", dir, maxHamming))(
      simhashPairs(Tables.documents(spark, dir), maxHamming).localCheckpoint(true))

  private def simhashDedupFrom(docs: DataFrame, cand: DataFrame): DataFrame = {
    val sh = simhash(docs)
    // single-evaluation symmetrization (see minhashLsh's sym note)
    val sym = cand.select(explode(array(
        struct(col("id_a").as("doc_id"), col("id_b").as("other")),
        struct(col("id_b").as("doc_id"), col("id_a").as("other")))).as("e"))
      .select("e.doc_id", "e.other")
    docs.select("doc_id")
      .join(sym, Seq("doc_id"), "left")
      .groupBy("doc_id")
      .agg(count(col("other")).as("n_near"), min(col("other")).as("nearest_id"))
      .join(sh, Seq("doc_id"))
      .select(col("doc_id"), format_string("%016x", col("simhash")).as("simhash_hex"),
        col("n_near"), col("nearest_id"))
      .orderBy("doc_id")
  }

  def simhashDedup(spark: SparkSession, dir: String): DataFrame =
    simhashDedupFrom(Tables.documents(spark, dir), cachedSimhashPairs(spark, dir))

  /** The identical signature arithmetic in SQL: md5-derived token
    * hashes, ±1 bit votes, bit_or-assembled signature, brute-force
    * hamming pairs (== the banded candidates by pigeonhole).
    */
  val simhashSql: String =
    """WITH tok AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, t AS token FROM (
      |    SELECT doc_id,
      |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
      |    FROM documents) WHERE t <> ''),
      |th AS MATERIALIZED (
      |  SELECT doc_id, ('0x' || substr(md5(token), 1, 16))::UBIGINT AS h FROM tok),
      |bits AS (SELECT CAST(range AS INT) AS b FROM range(0, 64)),
      |votes AS MATERIALIZED (
      |  SELECT doc_id, b,
      |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th CROSS JOIN bits GROUP BY 1, 2),
      |rawsig AS MATERIALIZED (
      |  SELECT doc_id,
      |    bit_or(CASE WHEN v > 0 THEN (CAST(1 AS UBIGINT) << b)
      |           ELSE CAST(0 AS UBIGINT) END) AS sh
      |  FROM votes GROUP BY doc_id),
      |sig AS MATERIALIZED (
      |  SELECT d.doc_id, coalesce(r.sh, CAST(0 AS UBIGINT)) AS sh
      |  FROM documents d LEFT JOIN rawsig r USING (doc_id)),
      |pairs AS MATERIALIZED (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
      |sym AS (SELECT id_a AS doc_id, id_b AS other FROM pairs
      |        UNION ALL SELECT id_b, id_a FROM pairs)
      |SELECT s.doc_id, lower(lpad(hex(s.sh), 16, '0')) AS simhash_hex,
      |  count(sym.other) AS n_near, min(sym.other) AS nearest_id
      |FROM sig s LEFT JOIN sym USING (doc_id)
      |GROUP BY 1, 2 ORDER BY s.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // 5. Embedding cosine near-dup.
  // ------------------------------------------------------------------

  /** Exact cosine near-dup pairs over the embeddings table.
    *
    * All-pairs similarity is inherently O(n²) in comparisons — the
    * question is only the constant. The corpus side is a Spark-managed
    * `broadcast()` build (BroadcastExchange in the plan, so the payload
    * lives in executor-accounted memory — no driver-side collect
    * anywhere) and the non-equi `id_a < id_b` condition makes it a
    * BroadcastNestedLoopJoin: each task streams its slice against the
    * broadcast relation, scoring with the codegen'd fused-loop
    * [[graft.functions.VectorExpressions.cosine]] (single pass for
    * dot/‖a‖/‖b‖ — no per-pair lambda allocation). Arithmetic
    * (per-element double accumulation in array order, dot/(‖a‖·‖b‖),
    * HALF_UP round to 4dp via `functions.round`) matches the DuckDB
    * oracle bit-for-bit.
    *
    * The 100 TB path is NOT this operator: use the LSH/IVF candidate
    * generators in graft.similarity and verify candidates only. This
    * exact tier assumes the embedding corpus fits a broadcast (it is
    * the correctness baseline / per-bucket verifier), and it ENFORCES
    * that assumption up front: corpora above [[MaxExactBroadcastRows]]
    * are refused with a pointer to the scale paths ([[semanticDedup]]'s
    * bounded IVF cells, or LSH/IVF candidates + per-bucket verify)
    * instead of timing out the broadcast build on an n² the operator
    * was never meant to run.
    */
  def embeddingCosine(embs: DataFrame, threshold: Double = 0.4,
                      maxRows: Long = MaxExactBroadcastRows): DataFrame = {
    val e = embs.select(col("vec_id").cast("int").as("vec_id"), col("embedding"))
    // bounded cap probe: scanning maxRows+1 rows answers "over the cap?"
    // without a full pass over the upstream plan (limit short-circuits
    // per partition)
    val capProbe = e.limit(math.min(maxRows + 1, Int.MaxValue.toLong).toInt).count()
    require(capProbe <= maxRows,
      s"embeddingCosine is the EXACT all-pairs tier and broadcasts the corpus " +
        s"to every executor: more than $maxRows rows exceeds the broadcast cap. Use the " +
        s"scale paths instead — semanticDedup (dedup_semantic: SemDeDup-style " +
        s"bounded IVF cells) or the graft.similarity LSH/IVF candidate " +
        s"generators with per-bucket exact verify.")
    val lhs = e.select(col("vec_id").as("id_a"), col("embedding").as("__ea"))
    val rhs = broadcast(e.select(col("vec_id").as("id_b"), col("embedding").as("__eb")))
    lhs.join(rhs, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(graft.functions.VectorExpressions.cosine(col("__ea"), col("__eb")), 4)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
      .orderBy("id_a", "id_b")
  }

  def embeddingCosine(spark: SparkSession, dir: String): DataFrame =
    embeddingCosine(Tables.embeddings(spark, dir),
      maxRows = maxExactBroadcastRows(spark))

  val embeddingCosineSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(a.v, b.v), 4) AS cosine
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4
      |ORDER BY id_a, id_b""".stripMargin

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the IVF coarse
    * quantizer, compare embeddings ONLY within a cluster, and drop
    * every vector that has a smaller-id in-cell neighbor at cosine ≥
    * threshold. This is the SCALE path next to [[embeddingCosine]]'s
    * exact all-pairs tier: the quadratic is bounded per cell
    * (Σ|cell|² ≈ (nAssign·n)²/nCells for balanced cells, and nCells
    * grows with the corpus), the only shuffle is the cell-keyed
    * self-join, and scoring is the native fused-loop cosine.
    * Assignment is SOFT (each vector in its `nAssign` nearest cells),
    * so a pair straddling a cell boundary still meets in the overlap —
    * the standard recall lever; remaining cross-cell misses are the
    * documented trade, measured in the spec against the exact tier
    * alongside the soundness assertion that every within-cell drop is
    * a true drop.
    *
    * Output: (vec_id, cell, keep) with the vector's PRIMARY (nearest)
    * cell — the keep-list face, array-free so the driver can hash it.
    * Oracle-certified: [[semanticDedupSql]] replays the certified IVF
    * quantizer, the soft assignment and the 4-dp cosine verbatim.
    */
  def semanticDedup(embs: DataFrame, threshold: Double = 0.4, nCells: Int = 16,
                    nAssign: Int = 2): DataFrame = {
    val (centroids, primary) = graft.similarity.Ann.ivfIndex(embs, nCells)
    // both sides of the self-join read the soft assignment — materialize once
    val multi = graft.similarity.Ann.assignCellsMulti(centroids, embs, nAssign)
      .localCheckpoint(true)
    val l = multi.select(col("cell"), col("vec_id").as("id_a"), col("embedding").as("va"))
    val r = multi.select(col("cell"), col("vec_id").as("id_b"), col("embedding").as("vb"))
    val dups = l.join(r, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(graft.functions.VectorExpressions.cosine(col("va"), col("vb")), 4)
        >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    primary.join(dups.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), coalesce(!col("dup"), lit(true)).as("keep"))
      .orderBy("vec_id")
  }

  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedup(Tables.embeddings(spark, dir))

  /** dedup_semantic replayed: the certified IVF quantizer CTEs
    * (graft.similarity.Ann.ivfQuantizerCtes — 6-dp-quantized Lloyd's,
    * bit-stable cross-engine) give the training and PRIMARY assignment;
    * the soft top-nAssign=2 assignment is the same rank window with
    * rk <= 2; within-cell pairs at round(cosine,4) >= 0.4 replay the
    * dedup_embedding_cosine arithmetic. A vector keeps iff no
    * smaller-id in-cell neighbor clears the threshold.
    */
  val semanticDedupSql: String =
    s"""WITH ${graft.similarity.Ann.ivfQuantizerCtes()},
       |m AS (SELECT vec_id, cell FROM (
       |  SELECT e.vec_id, c.cid AS cell, row_number() OVER (
       |    PARTITION BY e.vec_id ORDER BY list_distance(e.v, c.cl), c.cid) AS rk
       |  FROM e, c3 c) WHERE rk <= 2),
       |dup AS (SELECT DISTINCT b.vec_id
       |  FROM m a JOIN m b USING (cell)
       |  JOIN e ea ON ea.vec_id = a.vec_id
       |  JOIN e eb ON eb.vec_id = b.vec_id
       |  WHERE a.vec_id < b.vec_id
       |    AND round(list_cosine_similarity(ea.v, eb.v), 4) >= 0.4)
       |SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS keep
       |FROM asg a LEFT JOIN dup d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id""".stripMargin

  // ------------------------------------------------------------------
  // 6. Benchmark decontamination (test-set n-gram overlap).
  // ------------------------------------------------------------------

  /** Flag training documents that share any 5-token gram with a
    * benchmark document — the standard pretraining decontamination
    * check. The benchmark slice here is a deterministic held-out subset
    * (doc_id % 11 == 0), standing in for an external eval set.
    *
    * Scale shape: a real eval set is small and fixed-size (it doesn't
    * grow with the corpus — the %-slice here is only a deterministic
    * test stand-in), so its hashed gram set is broadcast and the 100 TB
    * corpus scan stays map-side — no corpus shuffle at all, just a
    * broadcast-hash join plus a per-doc count.
    */
  def decontaminate(docs: DataFrame, n: Int = 5): DataFrame = {
    val grams = explodedNgrams(docs, n)
    // gram the (small) bench slice directly — the filter reaches its own
    // scan, so building the broadcast side never grams the full corpus
    val benchGrams = explodedNgrams(
        docs.filter(pmod(col("doc_id"), lit(11L)) === 0), n)
      .select(col("doc_id").as("bench_id"), col("sh"))
    val hits = grams.join(broadcast(benchGrams), Seq("sh"))
      .filter(col("doc_id") =!= col("bench_id"))
      .groupBy("doc_id")
      .agg(countDistinct(col("bench_id")).as("n_bench_hits"))
    docs.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_bench_hits"))
      .withColumn("contaminated", col("n_bench_hits") > 0)
      .orderBy("doc_id")
  }

  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminate(Tables.documents(spark, dir))

  val decontaminateSql: String =
    """WITH l AS (
      |  SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS l
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(CASE WHEN len(l) >= 5 THEN list_distinct(
      |    [l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' || l[i+4]
      |     FOR i IN range(1, len(l) - 3)])
      |    ELSE [array_to_string(l, ' ')] END) AS sh FROM l),
      |b AS (SELECT doc_id AS bench_id, sh FROM g WHERE doc_id % 11 = 0),
      |hits AS (
      |  SELECT g.doc_id, count(DISTINCT b.bench_id) AS n_bench_hits
      |  FROM g JOIN b ON g.sh = b.sh AND g.doc_id <> b.bench_id
      |  GROUP BY g.doc_id)
      |SELECT d.doc_id,
      |  coalesce(h.n_bench_hits, 0) AS n_bench_hits,
      |  coalesce(h.n_bench_hits, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Fraction-overlap decontamination — the graded counterpart of
    * [[decontaminate]]'s any-hit flag: per training doc, the FRACTION
    * of its distinct n-grams that appear in any OTHER benchmark doc,
    * flagged at `minFrac`. The any-hit rule over-fires on one shared
    * idiom; production contamination audits (the GPT-3/PaLM appendix
    * methodology — published) gate on the overlap fraction instead.
    * Same broadcast bench-gram join as the any-hit face plus one
    * doc-keyed size aggregation; the fact table still never shuffles
    * at gram grain.
    */
  def decontaminateFrac(docs: DataFrame, n: Int = 5,
                        minFrac: Double = 0.1): DataFrame = {
    val grams = explodedNgrams(docs, n)
    val benchGrams = explodedNgrams(
        docs.filter(pmod(col("doc_id"), lit(11L)) === 0), n)
      .select(col("doc_id").as("bench_id"), col("sh"))
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val hits = grams.join(broadcast(benchGrams), Seq("sh"))
      .filter(col("doc_id") =!= col("bench_id"))
      .groupBy("doc_id").agg(countDistinct(col("sh")).as("n_hit"))
    sizes.join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_grams"), 4).as("frac_contaminated"))
      .withColumn("dirty", col("frac_contaminated") >= minFrac)
      .orderBy("doc_id")
  }
  def decontaminateFrac(spark: SparkSession, dir: String): DataFrame =
    decontaminateFrac(Tables.documents(spark, dir))

  /** decontaminate_frac replayed: the any-hit oracle's gram CTEs with
    * per-doc sizes and the distinct-hit fraction.
    */
  val decontaminateFracSql: String =
    """WITH l AS (
      |  SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS l
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(CASE WHEN len(l) >= 5 THEN list_distinct(
      |    [l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' || l[i+4]
      |     FOR i IN range(1, len(l) - 3)])
      |    ELSE [array_to_string(l, ' ')] END) AS sh FROM l),
      |b AS (SELECT doc_id AS bench_id, sh FROM g WHERE doc_id % 11 = 0),
      |sizes AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
      |hits AS (
      |  SELECT g.doc_id, count(DISTINCT g.sh) AS n_hit
      |  FROM g JOIN b ON g.sh = b.sh AND g.doc_id <> b.bench_id
      |  GROUP BY g.doc_id)
      |SELECT s.doc_id, s.n_grams,
      |  coalesce(h.n_hit, 0) AS n_hit,
      |  round(coalesce(h.n_hit, 0) * 1.0 / s.n_grams, 4) AS frac_contaminated,
      |  round(coalesce(h.n_hit, 0) * 1.0 / s.n_grams, 4) >= 0.1 AS dirty
      |FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
      |ORDER BY s.doc_id""".stripMargin

  /** End-to-end corpus-curation funnel — the audit every training-data
    * run publishes: how many documents each pipeline stage removed.
    * Stage 1 keeps the min-id doc per normalized-text hash (the
    * dedup_exact rule), stage 2 keeps near-dup cluster representatives
    * among stage-1 survivors (dedup_clusters' certified labels),
    * stage 3 drops fraction-contaminated docs (decontaminate_frac's
    * gate). All three flags land in ONE per-doc frame aggregated once
    * (three exact-integer conditional sums — no per-stage corpus
    * re-scan), and the three stage rows are a driver-free explode of
    * that single aggregate row. Composes three certified substrates,
    * so the whole funnel is DuckDB-replayable.
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val keepIds = docs
      .groupBy(md5(normText(col("text")).cast("binary")).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"), lit(true).as("ek"))
    val reps = dedupClusters(spark, dir)
      .select(col("doc_id"), (col("doc_id") === col("cluster_id")).as("rep"))
    val dirty = decontaminateFrac(spark, dir).select("doc_id", "dirty")
    val agg = docs.select("doc_id")
      .join(keepIds, Seq("doc_id"), "left")
      .join(reps, Seq("doc_id"))
      .join(dirty, Seq("doc_id"))
      .select(coalesce(col("ek"), lit(false)).as("exact_keep"),
        col("rep"), col("dirty"))
      .agg(count(lit(1)).as("n0"),
        sum(when(col("exact_keep"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("exact_keep") && col("rep"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("exact_keep") && col("rep") && !col("dirty"), 1L)
          .otherwise(0L)).as("n3"))
    agg.select(explode(array(
        struct(lit(1).as("stage"), lit("exact_dedup").as("step"),
          col("n0").as("n_in"), (col("n0") - col("n1")).as("n_removed"),
          col("n1").as("n_out")),
        struct(lit(2).as("stage"), lit("near_dedup").as("step"),
          col("n1").as("n_in"), (col("n1") - col("n2")).as("n_removed"),
          col("n2").as("n_out")),
        struct(lit(3).as("stage"), lit("decontaminate").as("step"),
          col("n2").as("n_in"), (col("n2") - col("n3")).as("n_removed"),
          col("n3").as("n_out")))).as("s"))
      .select(col("s.stage").as("stage"), col("s.step").as("step"),
        col("s.n_in").as("n_in"), col("s.n_removed").as("n_removed"),
        col("s.n_out").as("n_out"))
      .orderBy("stage")
  }

  /** curation_funnel replayed: the three certified substrates composed
    * — exact keep-ids, cluster representatives, the contamination
    * fraction gate — folded to one aggregate row and unioned into the
    * three stage rows (integer sums cast per the BIGINT rule).
    */
  lazy val curationFunnelSql: String =
    s"""WITH eh AS (SELECT min(doc_id) AS doc_id FROM documents
       |  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
       |fr AS (SELECT doc_id, doc_id = cluster_id AS rep FROM ($dedupClustersSql)),
       |dt AS (SELECT doc_id, dirty FROM ($decontaminateFracSql)),
       |flags AS (
       |  SELECT d.doc_id, (eh.doc_id IS NOT NULL) AS exact_keep, fr.rep, dt.dirty
       |  FROM documents d
       |  LEFT JOIN eh ON d.doc_id = eh.doc_id
       |  JOIN fr ON d.doc_id = fr.doc_id
       |  JOIN dt ON d.doc_id = dt.doc_id),
       |a AS (SELECT count(*) AS n0,
       |  CAST(sum(CASE WHEN exact_keep THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |  CAST(sum(CASE WHEN exact_keep AND rep THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |  CAST(sum(CASE WHEN exact_keep AND rep AND NOT dirty THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n3
       |  FROM flags)
       |SELECT 1 AS stage, 'exact_dedup' AS step, n0 AS n_in,
       |       n0 - n1 AS n_removed, n1 AS n_out FROM a
       |UNION ALL SELECT 2, 'near_dedup', n1, n1 - n2, n2 FROM a
       |UNION ALL SELECT 3, 'decontaminate', n2, n2 - n3, n3 FROM a
       |ORDER BY stage""".stripMargin

  /** Cross-source shingle-overlap matrix — pairwise Jaccard between
    * every pair of `source` groups over their distinct word-3-shingle
    * sets. The corpus-level contamination view: which sources are
    * near-copies of each other (mirror crawls, re-hosted dumps) BEFORE
    * any doc-level dedup runs, so a pipeline can drop a whole mirrored
    * source instead of paying doc-pair dedup for it.
    *
    * Plan: shingles hash map-side ([[explodedShingles]]'s safe explode
    * shape), then ONE shuffle — a gram-keyed groupBy whose per-key
    * state is the ≤|sources| source set — and the source pairs expand
    * map-side from the sorted set ([[postingPairs]], same trick as
    * n-gram Jaccard's posting lists). Never a gram-keyed self-join:
    * at 100 TB the grouped form shuffles each distinct gram once,
    * per-gram state is bounded by the source count (dozens, not
    * corpus-sized), and everything after the groupBy is a
    * |sources|²-row aggregate. The grouped frame is materialized once
    * because sizes AND intersections both read it.
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val grams = docs.select(col("source"), toks(col("text")).as("__t"))
      .select(col("source"), explode(shinglesOfToks(col("__t"))).as("s"))
      .filter(col("s") =!= "")
      .select(col("source"), xxhash64(col("s")).as("sh"))
    val bySh = grams.groupBy("sh")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .select("srcs")
      .localCheckpoint(true)
    val sizes = bySh.select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("sz"))
    val inter = bySh.filter(size(col("srcs")) >= 2)
      .select(explode(postingPairs(col("srcs"))).as("p"))
      .groupBy(col("p.id_a").as("src_a"), col("p.id_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.select(col("source").as("src_a"), col("sz").as("sz_a")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("sz").as("sz_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_shared")), 4).as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlap(Tables.documents(spark, dir))

  val sourceOverlapSql: String =
    """WITH l AS (
      |  SELECT source,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS l
      |  FROM documents),
      |sh AS (
      |  SELECT source, unnest(CASE WHEN len(l) >= 3 THEN list_distinct(
      |    [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN range(1, len(l) - 1)])
      |    ELSE [array_to_string(l, ' ')] END) AS sh FROM l),
      |d AS (SELECT DISTINCT source, sh FROM sh WHERE sh <> ''),
      |sizes AS (SELECT source, count(*) AS sz FROM d GROUP BY source),
      |inter AS (
      |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
      |  FROM d a JOIN d b ON a.sh = b.sh AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, n_shared,
      |  round(n_shared * 1.0 / (sa.sz + sb.sz - n_shared), 4) AS jaccard
      |FROM inter
      | JOIN sizes sa ON sa.source = src_a
      | JOIN sizes sb ON sb.source = src_b
      |ORDER BY src_a, src_b""".stripMargin

  /** KMV scale twin of [[sourceOverlap]] — the cross-source overlap
    * matrix from BOUNDED per-source sketches instead of the full
    * distinct-shingle table. The exact face materializes one row per
    * distinct corpus shingle (its `bySh` checkpoint is corpus-sized);
    * at 100 TB that intermediate is the job. This face reduces each
    * source to the k smallest 60-bit md5 shingle hashes (the
    * [[graft.functions.BottomKSketch]] aggregator — set-semantics
    * bottom-k, map-side partials, shard-union == direct), so the only
    * corpus-volume work is one map-side hash projection + one
    * |sources|-group aggregation with k-entry state; everything after
    * is |sources|²-pair arithmetic over k-long arrays.
    *
    * Estimators (Beyer et al., SIGMOD 2007): for a pair (A, B) the
    * union sketch is the k smallest of sketch(A) ∪ sketch(B) — itself
    * the KMV sketch of A∪B because both inputs retain every hash below
    * their k-th minimum; Jaccard ≈ |{x ∈ U : x ∈ A ∧ x ∈ B}| / |U|,
    * and the distinct-union size uses the (k−1)/u₍k₎ branch discipline
    * of `distinct_users_kmv` (exact when the union sketch is under k).
    * Every ingredient is the replayable md5 coin, so the DuckDB oracle
    * rebuilds each source's bottom-k list, the union cut, both match
    * counts and both estimator branches verbatim — a CERTIFIED sketch,
    * approximate as an ESTIMATE but deterministic as a computation.
    */
  def sourceOverlapKmv(docs: DataFrame,
                       k: Int = graft.functions.QuantileSketch.DefaultK): DataFrame = {
    import graft.functions.QuantileSketch
    val agg = QuantileSketch.bottomK(k)
    val sketches = docs
      .select(col("source"), toks(col("text")).as("__t"))
      .select(col("source"), explode(shinglesOfToks(col("__t"))).as("s"))
      .filter(col("s") =!= "")
      .select(col("source"), QuantileSketch.hashKey(col("s")).as("hk"))
      .groupBy("source")
      .agg(agg(col("hk"), lit(0.0)).as("sketch"))
      .select(col("source"),
        transform(col("sketch"), e => e.getField("_1")).as("keys"))
    val pairs = sketches.select(col("source").as("src_a"), col("keys").as("ka"))
      .join(sketches.select(col("source").as("src_b"), col("keys").as("kb")),
        col("src_a") < col("src_b"))
    // union sketch: k smallest of the merged key sets (arrays are
    // sorted ascending by construction; array_union dedups)
    val u = slice(array_sort(array_union(col("ka"), col("kb"))), 1, k)
    val nBoth = size(array_intersect(u, array_intersect(col("ka"), col("kb"))))
    val jac = nBoth.cast("double") / size(u).cast("double")
    // (k−1)/u_k with u_k normalized by the 60-bit key space; exact
    // count branch when the union sketch holds every distinct key
    val estUnion = when(size(u) < k, size(u).cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(math.pow(2, 60)) /
        element_at(u, -1).cast("double"))
    pairs.select(col("src_a"), col("src_b"),
        size(col("ka")).as("sketch_a"), size(col("kb")).as("sketch_b"),
        size(u).as("n_union_sample"), nBoth.as("n_both"),
        round(jac, 4).as("kmv_jaccard"),
        round(estUnion, 2).as("est_union"),
        round(jac * estUnion, 2).as("est_shared"))
      .orderBy("src_a", "src_b")
  }

  def sourceOverlapKmv(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapKmv(Tables.documents(spark, dir))

  /** [[sourceOverlapKmv]] replayed — the exact face's shingle CTE, the
    * md5 60-bit keys, each source's bottom-k list, the union cut and
    * both estimator branches, all rebuilt verbatim.
    */
  def sourceOverlapKmvSql(k: Int = graft.functions.QuantileSketch.DefaultK): String =
    s"""WITH l AS (
       |  SELECT source,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS l
       |  FROM documents),
       |sh AS (
       |  SELECT source, unnest(CASE WHEN len(l) >= 3 THEN list_distinct(
       |    [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN range(1, len(l) - 1)])
       |    ELSE [array_to_string(l, ' ')] END) AS sh FROM l),
       |d AS (SELECT DISTINCT source,
       |        ('0x' || substr(md5(sh), 1, 15))::BIGINT AS hk
       |      FROM sh WHERE sh <> ''),
       |r AS (SELECT source, hk,
       |        row_number() OVER (PARTITION BY source ORDER BY hk) AS rn
       |      FROM d),
       |s AS (SELECT source, list(hk ORDER BY hk) AS keys
       |      FROM r WHERE rn <= $k GROUP BY source),
       |p AS (SELECT a.source AS src_a, b.source AS src_b,
       |        a.keys AS ka, b.keys AS kb,
       |        list_sort(list_distinct(list_concat(a.keys, b.keys)))[1:$k] AS u
       |      FROM s a JOIN s b ON a.source < b.source),
       |c AS (SELECT src_a, src_b, len(ka) AS sketch_a, len(kb) AS sketch_b,
       |        len(u) AS n_union_sample,
       |        len(list_intersect(u, list_intersect(ka, kb))) AS n_both,
       |        CASE WHEN len(u) < $k THEN CAST(len(u) AS DOUBLE)
       |             ELSE ${(k - 1).toDouble} * ${math.pow(2, 60)}
       |               / CAST(u[len(u)] AS DOUBLE) END AS est_u
       |      FROM p)
       |SELECT src_a, src_b,
       |  CAST(sketch_a AS INTEGER) AS sketch_a,
       |  CAST(sketch_b AS INTEGER) AS sketch_b,
       |  CAST(n_union_sample AS INTEGER) AS n_union_sample,
       |  CAST(n_both AS INTEGER) AS n_both,
       |  round(n_both * 1.0 / n_union_sample, 4) AS kmv_jaccard,
       |  round(est_u, 2) AS est_union,
       |  round(n_both * 1.0 / n_union_sample * est_u, 2) AS est_shared
       |FROM c ORDER BY src_a, src_b""".stripMargin

  // ------------------------------------------------------------------
  // 7. Near-dup cluster assignment (connected components).
  // ------------------------------------------------------------------

  /** Connected components over a verified near-dup pair set: every doc
    * is labeled with the smallest doc_id reachable through the pair
    * graph (its canonical representative) plus the cluster size — the
    * step that turns pairwise dedup output into "keep one per cluster".
    *
    * Adaptive implementation. The near-dup EDGE set is orders of
    * magnitude smaller than the corpus, so the plan forks on its size:
    *
    *  - edges within the broadcast threshold: any iterative distributed
    *    scheme would re-collect exactly these rows to the driver in a
    *    BroadcastExchange EVERY round (r2/r3 did: one driver collect +
    *    2-3 jobs per round, pure scheduling overhead at this size).
    *    Collect them ONCE instead, run exact union-find in milliseconds
    *    driver-side, and touch the corpus with a single broadcast join
    *    (label + size, singletons via coalesce) — zero iterative jobs,
    *    one corpus-wide map-side pass, the orderBy is the only shuffle.
    *  - larger edge sets: distributed alternating large-star/small-star
    *    rounds ([[dedupClustersStar]]) — converges in O(log²) rounds
    *    regardless of graph diameter, never touches the corpus inside
    *    the loop.
    *
    * Both paths produce identical labelings (equality specs).
    */
  def dedupClusters(docs: DataFrame, pairs: DataFrame, maxIters: Int = 40): DataFrame = {
    // canonical undirected form big→small, self-loops out; materialized
    // once — it is read by the count gate and then by whichever path runs
    val canon = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    // 1M (long,long) edges ≈ 16 MB — the same payload a broadcast-join
    // round would ship to the driver anyway; beyond that, stay distributed
    if (canon.count() <= 1000000L) {
      val spark = docs.sparkSession
      import spark.implicits._
      val labeled = unionFindLabels(
        canon.collect().map(r => (r.getLong(0), r.getLong(1))))
        .toSeq.toDF("doc_id", "cluster_id", "cluster_size")
      docs.select("doc_id")
        .join(broadcast(labeled), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
        .orderBy("doc_id")
    } else {
      dedupClustersStar(docs,
        canon.select(col("u").as("id_a"), col("v").as("id_b")), maxIters)
    }
  }

  /** Exact union-find (path-halving) over a bounded, already-collected
    * edge array: member → (min-reachable id, cluster size). Driver-side
    * BY DESIGN — callers gate on the broadcast threshold first.
    */
  private[graft] def unionFindLabels(edges: Array[(Long, Long)]): Seq[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // halve the path as we walk
        x = parent(x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min id wins → canonical label
    }
    val members = parent.keys.toArray
    val size = scala.collection.mutable.HashMap.empty[Long, Long]
    members.foreach(x => { val r = find(x); size(r) = size.getOrElse(r, 0L) + 1L })
    members.toSeq.map(x => { val r = find(x); (x, r, size(r)) })
  }

  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(Tables.documents(spark, dir),
      cachedJaccardPairs(spark, dir).select("id_a", "id_b"))

  /** The dedup pipeline's end product — "keep one doc per near-dup
    * cluster": cluster representatives (the canonical min id) with
    * their cluster sizes. Composes pair generation → connected
    * components → representative filter; what a training-data curation
    * run actually materializes as its keep-list.
    */
  def nearDedupKeep(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(spark, dir)
      .filter(col("doc_id") === col("cluster_id"))
      .select("doc_id", "cluster_size")
      .orderBy("doc_id")

  // lazy: interpolates dedupClustersSql, which is declared later in
  // this object (strict init order would capture null)
  lazy val nearDedupKeepSql: String =
    s"""SELECT doc_id, cluster_size FROM (
       |$dedupClustersSql
       |) WHERE doc_id = cluster_id ORDER BY doc_id""".stripMargin

  /** Cluster-size histogram of the near-dup components — the one-page
    * dedup-rate readout a curation review reads before approving the
    * keep-list: per cluster size, how many clusters and docs, plus
    * each size's share of the corpus. The dup rate falls out as
    * 1 − Σn_clusters/Σn_docs, and a heavy tail at large sizes is the
    * mirror/boilerplate signature that warrants a source-level fix
    * rather than doc-level dedup.
    *
    * Scale design: two dims-scale aggs over the already-certified
    * cluster frame — nothing data-sized beyond the composition.
    */
  def dedupClusterSizes(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(spark, dir)
    val total = clusters.agg(count(lit(1)).as("n_total"))
    clusters.groupBy(col("cluster_size").as("size"))
      .agg(countDistinct(col("cluster_id")).as("n_clusters"),
        count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(total))
      .select(col("size"), col("n_clusters"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total"), 4).as("doc_share"))
      .orderBy("size")
  }

  // lazy: interpolates dedupClustersSql (declared later in this object)
  lazy val dedupClusterSizesSql: String =
    s"""WITH c AS ($dedupClustersSql),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM c)
       |SELECT cluster_size AS size,
       |  CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  round(CAST(count(*) AS DOUBLE) / t.n_total, 4) AS doc_share
       |FROM c, t GROUP BY cluster_size, t.n_total ORDER BY size""".stripMargin

  /** Leakage-safe train/val/test split: the fold is a pure function of
    * the near-dup CLUSTER id (the md5 coin of the stratified_sample
    * discipline, salted "fold"), so two near-duplicate documents can
    * NEVER straddle folds — the data-leakage failure mode of per-doc
    * splits like `split_assign`, where a test doc's near-twin sits in
    * train and inflates eval. The standard held-out-set hygiene step
    * of a pretraining pipeline, composed from certified parts: the
    * cluster labels are [[dedupClusters]]'s, the coin is
    * deterministic, and fold membership is a broadcast-free projection
    * over the cluster frame (one row per doc, no extra shuffle — the
    * coin and CASE are map-side over the already-labeled frame).
    */
  def leakageSafeSplit(spark: SparkSession, dir: String,
                       trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    val coin = conv(substring(md5(concat_ws(":", col("cluster_id"), lit("fold"))),
      1, 8), 16, 10).cast("long") % 100
    dedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"),
        when(coin < trainPct, "train")
          .when(coin < trainPct + validPct, "val")
          .otherwise("test").as("fold"))
      .orderBy("doc_id")
  }

  /** split_leakage_safe replayed: the certified cluster labels with the
    * md5 fold coin applied per cluster id.
    */
  lazy val leakageSafeSplitSql: String =
    s"""SELECT doc_id, cluster_id,
       |  CASE WHEN coin < 80 THEN 'train'
       |       WHEN coin < 90 THEN 'val'
       |       ELSE 'test' END AS fold
       |FROM (SELECT doc_id, cluster_id,
       |        ('0x' || substr(md5(cluster_id::VARCHAR || ':fold'), 1, 8))::UBIGINT
       |          % 100 AS coin
       |      FROM ($dedupClustersSql))
       |ORDER BY doc_id""".stripMargin

  /** Connected components via alternating large-star / small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC '14) — the scale path for ADVERSARIALLY DEEP graphs.
    * Min-label propagation ([[dedupClusters]]) needs graph-diameter
    * rounds; star operations contract every component onto its minimum
    * in O(log²) rounds regardless of diameter, and every round is plain
    * hash aggregation + co-partitioned join over the EDGE set (never
    * the corpus, never a collect_set of a neighborhood — high-degree
    * vertices stay in bounded agg state). Output contract identical to
    * [[dedupClusters]]; an equality spec holds them together.
    */
  def dedupClustersStar(docs: DataFrame, pairs: DataFrame, maxIters: Int = 40): DataFrame = {
    // canonical orientation big→small, self-loops dropped; materialized
    // because every round re-reads the previous round's edges
    var cur = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    // large-star: every vertex x links its LARGER neighbors to the
    // minimum of its neighborhood (incl. itself). Per-vertex minima via
    // min-agg + join back — never a collected neighbor array.
    def largeStar(e: DataFrame): DataFrame = {
      val b = e.select(explode(array(
          struct(col("u").as("x"), col("v").as("y")),
          struct(col("v").as("x"), col("u").as("y")))).as("p"))
        .select("p.x", "p.y")
      val mins = b.groupBy("x").agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m"))
      b.join(mins, "x").filter(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    // small-star: every vertex links its smaller neighbors (and itself)
    // to its minimum neighbor; orientation stays big→small throughout
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      e.join(mins, "u")
        .select(explode(array(col("v"), col("u"))).as("w"), col("m"))
        .filter(col("w") =!= col("m"))
        .select(col("w").as("u"), col("m").as("v"))
        .distinct()
    }
    // cluster membership is decided by the ORIGINAL edge set; star
    // rounds may only rewire, so the vertex set is computed once
    val verts = cur.select(explode(array(col("u"), col("v"))).as("doc_id"))
      .distinct().localCheckpoint(true)
    // convergence: a (count, sum) fingerprint per round is one cheap
    // job over the materialized frame; only when the fingerprint goes
    // stable do we pay the exact multiset comparison that proves the
    // star forest is final
    def fp(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), coalesce(sum(col("u") + col("v")), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }
    var curFp = fp(cur)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val next = smallStar(largeStar(cur)).localCheckpoint(true)
      val nextFp = fp(next)
      converged = nextFp == curFp &&
        next.exceptAll(cur).isEmpty && cur.exceptAll(next).isEmpty
      cur = next
      curFp = nextFp
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"dedupClustersStar did not converge in $maxIters rounds; raise maxIters")
    // final form is a star forest: every edge points a member straight
    // at its component minimum; roots appear only on the small side
    val members = cur.select(col("u").as("doc_id"), col("v").as("cluster_id"))
    val roots = cur.select(col("v").as("doc_id")).distinct()
      .join(cur.select(col("u").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    val labels = members.unionByName(roots)
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    val singletons = docs.join(verts, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"), lit(1L).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select("doc_id", "cluster_id", "cluster_size")
      .unionByName(singletons)
      .orderBy("doc_id")
  }

  /** Oracle: transitive closure by recursive CTE over the same verified
    * pair set (df-capped rare-shingle jaccard ≥ 0.5, as ngramJaccardSql).
    */
  val dedupClustersSql: String =
    """WITH RECURSIVE l AS (
      |  SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS l
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(CASE WHEN len(l) >= 3 THEN list_distinct(
      |    [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN range(1, len(l) - 1)])
      |    ELSE [array_to_string(l, ' ')] END) AS sh FROM l),
      |hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 100),
      |pruned AS (SELECT * FROM sh WHERE sh NOT IN (SELECT sh FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM pruned GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |  FROM pruned a JOIN pruned b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |jacc AS (
      |  SELECT id_a, id_b
      |  FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) >= 0.5),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM jacc
      |  UNION ALL SELECT id_b, id_a FROM jacc),
      |reach(d, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.d),
      |labels AS (SELECT d AS doc_id, min(r) AS cluster_id FROM reach GROUP BY d),
      |csize AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY cluster_id)
      |SELECT labels.doc_id, labels.cluster_id, csize.cluster_size
      |FROM labels JOIN csize USING (cluster_id)
      |ORDER BY labels.doc_id""".stripMargin

  /** Bounded edit-distance near-dup join over a SHORT string field
    * (titles, URLs, keys — here a fixed text prefix): all pairs with
    * levenshtein ≤ τ, found via pigeonhole segment blocking, verified
    * with Spark's bounded-threshold `levenshtein` expression (O(τ·len)
    * per candidate, no UDF).
    *
    * Blocking (the PassJoin pigeonhole, Li et al., VLDB 2011 — public
    * algorithm): split each string into τ+1 contiguous segments; τ
    * edits can disturb at most τ of them, so for any true pair at least
    * one segment of either member survives VERBATIM as a substring of
    * the other. Candidates are therefore the join of each doc's τ+1
    * segment keys against every other doc's enumerated substrings of
    * the matching lengths — an inverted-substring-index join, the same
    * keyed candidate-generation shape as the LSH band join (never an
    * all-pairs pass). The substring side emits O(len·τ) short keys per
    * doc (len≈40, τ=2 → ~120 keys), linear per doc.
    *
    * The pigeonhole needs τ+1 NON-empty segments, so strings shorter
    * than τ+1 chars take a separate tiny bucket (their partners are ≤2τ
    * chars by the length filter — all-pairs inside that bucket is
    * bounded by the distinct near-empty strings in the corpus, a
    * handful in any real dataset).
    *
    * Candidate volume is substring-selectivity-bounded: a Zipf-hot
    * phrase fattens its bucket the way a hot LSH band does, and the
    * bounded-threshold verify (not full DP) keeps per-candidate cost
    * at O(τ·len). The length filter |len(a)−len(b)| ≤ τ prunes before
    * the verify.
    */
  def editDistPairs(docs: DataFrame, field: Column, tau: Int = 2): DataFrame = {
    require(tau >= 1 && tau <= 4, s"tau must be in [1,4], got $tau (the segment" +
      " fan-out is (tau+1) keys and (2tau+1)-ish substring lengths per doc)")
    val nSeg = tau + 1
    val s = docs.select(col("doc_id"), field.as("s"))
      .filter(col("s").isNotNull && length(col("s")) > 0)
    val l = length(col("s"))
    // pigeonhole segments of the probe side (valid when l >= tau+1):
    // first (l % nSeg) segments get an extra char — standard even split
    val base = floor(l / nSeg).cast("int")
    val rem = (l % nSeg).cast("int")
    val segs = (0 until nSeg).map { i =>
      val start = lit(i) * base + least(lit(i), rem) + lit(1) // 1-based
      val len = base + when(lit(i) < rem, 1).otherwise(0)
      struct(col("s").substr(start, len).as("key"), start.as("st"))
    }
    val segSide = s.filter(l >= nSeg)
      .select(col("doc_id").as("seg_id"), col("s").as("seg_s"),
        explode(array(segs: _*)).as("seg"))
      .select(col("seg_id"), col("seg_s"),
        col("seg.key").as("key"), col("seg.st").as("seg_st"))
    // candidate side: every substring whose length could be a partner's
    // segment length — partners differ by <= tau chars, so lengths span
    // [floor((l-tau)/nSeg), ceil((l+tau)/nSeg)]
    val minLen = greatest(floor((l - lit(tau)) / nSeg).cast("int"), lit(1))
    val maxLen = floor((l + lit(tau) + lit(nSeg - 1)) / nSeg).cast("int")
    val subSide = s
      .select(col("doc_id").as("sub_id"), col("s").as("sub_s"),
        explode(sequence(minLen, maxLen)).as("sublen"))
      .filter(col("sublen") <= length(col("sub_s")))
      .select(col("sub_id"), col("sub_s"), col("sublen"),
        explode(sequence(lit(1), length(col("sub_s")) - col("sublen") + 1)).as("pos"))
      .select(col("sub_id"), col("sub_s"), col("pos"),
        col("sub_s").substr(col("pos"), col("sublen")).as("key"))
    // position filter (the PassJoin multi-match refinement): each of
    // the <= tau edits shifts a surviving segment's start by at most
    // one position, so a segment starting at seg_st in one member can
    // only match a substring within tau positions of it in the other —
    // a same-text match further away implies > tau edits, provably not
    // a pair. Sound (never drops a true pair; the seeded fuzz spec
    // cross-checks vs brute force) and cuts the candidate-verify
    // volume on repetitive corpora where one hot segment text recurs
    // at many unrelated positions.
    val mainCand = segSide.join(subSide, "key")
      .filter(col("seg_id") =!= col("sub_id") &&
        abs(length(col("seg_s")) - length(col("sub_s"))) <= tau &&
        abs(col("pos") - col("seg_st")) <= tau)
      .select(
        when(col("seg_id") < col("sub_id"),
          struct(col("seg_id").as("id_a"), col("seg_s").as("s_a"),
            col("sub_id").as("id_b"), col("sub_s").as("s_b")))
          .otherwise(
            struct(col("sub_id").as("id_a"), col("sub_s").as("s_a"),
              col("seg_id").as("id_b"), col("seg_s").as("s_b"))).as("p"))
      .select(col("p.id_a"), col("p.s_a"), col("p.id_b"), col("p.s_b"))
    // strings shorter than tau+1 can lose every segment to edits; their
    // partners are <= 2*tau chars (length filter), so all-pairs the
    // near-empty bucket
    val shorts = s.filter(l <= lit(2 * tau))
      .select(col("doc_id"), col("s"))
    val shortCand = shorts.alias("x").join(shorts.alias("y"),
        col("x.doc_id") < col("y.doc_id") &&
          abs(length(col("x.s")) - length(col("y.s"))) <= tau &&
          (length(col("x.s")) < nSeg || length(col("y.s")) < nSeg))
      .select(col("x.doc_id").as("id_a"), col("x.s").as("s_a"),
        col("y.doc_id").as("id_b"), col("y.s").as("s_b"))
    mainCand.unionByName(shortCand)
      .distinct()
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), tau))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
      .orderBy("id_a", "id_b")
  }

  /** Driver face: near-dup pairs of the documents' 40-char text prefix
    * (the corpus's stand-in for a short title field) within 2 edits.
    */
  def editDistPairs(spark: SparkSession, dir: String): DataFrame =
    editDistPairs(Tables.documents(spark, dir), substring(col("text"), 1, 40), tau = 2)

  val editDistPairsSql: String =
    """WITH s AS (
      |  SELECT doc_id, substr(text, 1, 40) AS s FROM documents
      |  WHERE text IS NOT NULL AND length(substr(text, 1, 40)) > 0)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(levenshtein(a.s, b.s) AS INT) AS dist
      |FROM s a JOIN s b
      |  ON a.doc_id < b.doc_id AND abs(length(a.s) - length(b.s)) <= 2
      |WHERE levenshtein(a.s, b.s) <= 2
      |ORDER BY id_a, id_b""".stripMargin

  /** Sort-key prefix length for [[sortedNeighborhood]]. */
  val SnKeyLen = 24

  /** Default sliding-window width for [[sortedNeighborhood]]. */
  val SnWindow = 8

  /** Sorted-neighborhood near-dup blocking (Hernández & Stolfo's
    * Merge/Purge, SIGMOD 1995 — the classic entity-resolution
    * alternative to LSH banding): sort the corpus by a fuzzy key (the
    * [[SnKeyLen]]-char prefix of the normalized text, doc_id tiebreak
    * for a strict total order), slide a [[SnWindow]]-row window down
    * the sorted order, and verify each in-window pair with exact
    * distinct-3-shingle Jaccard. Candidate mass is n·(window−1) BY
    * CONSTRUCTION — a boilerplate-hot shingle fattens an LSH bucket
    * but cannot fatten a fixed window, which is why this tier needs no
    * df cap on the verify (and why its Jaccard is the plain uncapped
    * one, unlike the posting tiers).
    *
    * Plan: the sort is [[graft.functions.Ranks.globalRank]] (range
    * partitions + partitioned window + prefix offsets — never a
    * single-partition global
    * window); window pairs expand map-side from an explode over gaps
    * 1..window−1 and meet partners with ONE rank-keyed equi-join
    * (uniform by construction — ranks are a permutation); the verify
    * joins each side's materialized shingle array once and intersects
    * map-side (`array_intersect`, no shingle-grain shuffle at all).
    * Misses only near-dups whose first [[SnKeyLen]] chars diverge —
    * the classic single-pass blind spot; production runs union
    * several passes with different keys (the multi-pass Merge/Purge),
    * each pass this same plan.
    */
  def sortedNeighborhood(docs: DataFrame, window: Int = SnWindow,
                         threshold: Double = 0.5,
                         nRanges: Int = 32): DataFrame =
    snPairsFrom(docs, shinglesOf(docs), window, threshold, nRanges)
      .orderBy("id_a", "id_b")

  /** The SN pair build over `docs` and their exploded HASHED shingles
    * (r17): the window candidates are verified against per-doc arrays
    * of 8-byte shingle hashes instead of ~25-char shingle strings (≈8×
    * fewer join-payload bytes), and the dir face reads the session's shared
    * [[cachedShingles]] checkpoint instead of shingling the corpus a
    * second time. Jaccard over per-doc-distinct hashed shingles equals
    * jaccard over the strings modulo xxhash64 collisions — the same
    * accepted equivalence the ppjoin verify and the whole posting
    * family ride (the oracle and the brute-force spec certify). Docs
    * whose only shingle is the empty string (empty/blank/null text)
    * are absent from the hashed shingles ([[explodedNgrams]] filters
    * ''), so they are re-attached with the singleton hash('') array the
    * string shingle set gives them — identical pair semantics for
    * degenerate docs.
    */
  private def snPairsFrom(docs: DataFrame, shingles: DataFrame,
      window: Int = SnWindow, threshold: Double = 0.5,
      nRanges: Int = 32): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val keyed = docs.select(col("doc_id"),
      substring(normText(col("text")), 1, SnKeyLen).as("sk"))
    val ranked = graft.functions.Ranks
      .globalRank(keyed, Seq(col("sk"), col("doc_id")), nRanges)
      .select(col("doc_id"), col("rn"))
    val probe = ranked
      .select(col("doc_id").as("d_a"), col("rn"),
        explode(sequence(lit(1), lit(window - 1))).as("gap"))
      .select(col("d_a"), col("gap"), (col("rn") + col("gap")).as("rn_b"))
    val cand = probe
      .join(ranked.select(col("doc_id").as("d_b"), col("rn").as("rn_b")), "rn_b")
      .select(least(col("d_a"), col("d_b")).as("id_a"),
        greatest(col("d_a"), col("d_b")).as("id_b"), col("gap"))
    val arrs0 = docs.select("doc_id")
      .join(shingles.groupBy("doc_id")
        .agg(collect_list(col("sh")).as("shs")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("shs"), array(xxhash64(lit("")))).as("shs"))
      .localCheckpoint(true)
    // gated broadcast verify (guide §3.1, the ppjoin treatment): the
    // n·(window−1) candidate rows never shuffle while the doc-array
    // table fits the exact-tier budget; past it, shuffled-hash keeps
    // the arrays out of sort buffers
    val arrs =
      if (arrs0.count() <= maxExactBroadcastRows(docs.sparkSession)) broadcast(arrs0)
      else arrs0.hint("shuffle_hash")
    val sa = arrs.select(col("doc_id").as("id_a"), col("shs").as("sh_a"))
    val sb = arrs.select(col("doc_id").as("id_b"), col("shs").as("sh_b"))
    cand.join(sa, "id_a").join(sb, "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", round(col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("gap"), col("jaccard"))
  }

  /** The SN pair table memoized per dir — shared by the driver face
    * and [[blockingReport]] (the cachedJaccardPairs discipline).
    */
  private[graft] def cachedSnPairs(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("snPairs", dir, SnWindow))(
      snPairsFrom(Tables.documents(spark, dir), cachedShingles(spark, dir))
        .localCheckpoint(true))

  /** Force the SN pair table (bench artifact hook). */
  def prewarmSnPairs(spark: SparkSession, dir: String): Unit = {
    cachedSnPairs(spark, dir); ()
  }

  def sortedNeighborhood(spark: SparkSession, dir: String): DataFrame =
    cachedSnPairs(spark, dir).orderBy("id_a", "id_b")

  /** [[sortedNeighborhood]] replayed: the same normalized prefix key,
    * the same (sk, doc_id) total order (plain `row_number` — the
    * single-relation sort Spark-side [[globalRank]] exists to avoid),
    * the same n·(w−1) window pairs, and the same uncapped
    * distinct-shingle Jaccard via a shared-shingle count.
    */
  def sortedNeighborhoodSql(window: Int = SnWindow): String =
    s"""WITH k AS (
       |  SELECT doc_id,
       |    substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
       |      1, $SnKeyLen) AS sk
       |  FROM documents),
       |r AS (SELECT doc_id, row_number() OVER (ORDER BY sk, doc_id) AS rn FROM k),
       |pairs AS (
       |  SELECT least(a.doc_id, b.doc_id) AS id_a,
       |    greatest(a.doc_id, b.doc_id) AS id_b,
       |    CAST(b.rn - a.rn AS INTEGER) AS gap
       |  FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + ${window - 1}),
       |l AS (
       |  SELECT doc_id,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS l
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(CASE WHEN len(l) >= 3 THEN list_distinct(
       |    [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN range(1, len(l) - 1)])
       |    ELSE [array_to_string(l, ' ')] END) AS sh FROM l),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT p.id_a, p.id_b, p.gap, count(*) AS i
       |  FROM pairs p
       |    JOIN sh x ON x.doc_id = p.id_a
       |    JOIN sh y ON y.doc_id = p.id_b AND y.sh = x.sh
       |  GROUP BY 1, 2, 3)
       |SELECT i.id_a, i.id_b, i.gap,
       |  round(i.i * 1.0 / (sa.sz + sb.sz - i.i), 4) AS jaccard
       |FROM inter i
       |  JOIN sizes sa ON sa.doc_id = i.id_a
       |  JOIN sizes sb ON sb.doc_id = i.id_b
       |WHERE round(i.i * 1.0 / (sa.sz + sb.sz - i.i), 4) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  /** Candidate-quality report for the near-dup tiers — the dedup
    * family's counterpart of `ann_recall_report`: each approximate
    * tier's pair set measured against the EXACT shingle-Jaccard truth
    * pairs (threshold 0.5, the oracled `dedup_ngram_jaccard`
    * substrate). Per tier: pair count, hits, precision, recall — the
    * numbers that justify a band/bit configuration before running it
    * over 100 TB.
    *
    *   - `minhash_bands`: raw LSH candidates BEFORE Jaccard
    *     verification (recall here bounds the verified pipeline's
    *     recall; precision measures wasted verification work);
    *   - `simhash_h3`: hamming ≤ 3 pairs (a different signal — random
    *     hyperplane cosine over token sets — so its recall against
    *     Jaccard truth is informative, not expected to be 1).
    *
    * Rows-only (both tiers are hash-function-specific); the spec
    * asserts the LSH recall floor and the exact truth count. All
    * counts are 1-row aggregates cross-joined — nothing driver-side.
    */
  /** One tier row of the quality rollup: candidate count, truth hits
    * (left-semi probe), and the derived precision/recall — shared by
    * the hash-specific report and its oracle-certified exact twin.
    */
  private def qualityTier(truth: DataFrame, nTruth: DataFrame)(
      name: String, pairs: DataFrame): DataFrame = {
    val p = pairs.select("id_a", "id_b").localCheckpoint(true) // counted + probed
    p.agg(count(lit(1)).as("n_pairs"))
      .crossJoin(p.join(truth, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_hits")))
      .crossJoin(nTruth)
      .select(lit(name).as("tier"), col("n_pairs"), col("n_hits"), col("n_truth"),
        round(when(col("n_pairs") > 0,
          col("n_hits").cast("double") / col("n_pairs")), 4).as("precision"),
        round(when(col("n_truth") > 0,
          col("n_hits").cast("double") / col("n_truth")), 4).as("recall"))
  }

  def dedupQualityReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val truth = cachedJaccardPairs(spark, dir).select("id_a", "id_b")
    val tier = qualityTier(truth, truth.agg(count(lit(1)).as("n_truth"))) _
    tier("minhash_bands", lshCandidatesFromIndex(cachedBandIndex(spark, dir)))
      .unionByName(tier("simhash_h3", cachedSimhashPairs(spark, dir)))
      .orderBy("tier")
  }

  /** The quality rollup's ORACLE-CERTIFIED twin — the same tier
    * arithmetic ([[qualityTier]]: candidate count, truth semi-probe,
    * P/R derivation) driven by pair sets DuckDB can reconstruct, so
    * the driver's hash gate certifies the report machinery end-to-end
    * while the hash-specific minhash/simhash membership stays on the
    * rows-only report:
    *
    *  - `exact_df100` — the truth set itself (ties n_truth and the
    *    P=R=1 fixed point),
    *  - `exact_df20` — the same exact-Jaccard generator under an
    *    aggressive df-20 shingle cap: dropping mid-frequency shingles
    *    both loses true pairs AND admits new ones (union shrinks
    *    faster than intersection), so precision and recall are both
    *    genuinely < 1 — the cap-sensitivity readout a 100 TB run uses
    *    to budget its posting explosion,
    *  - `exact_t075` — the ≥0.75 high-confidence slice (P = 1,
    *    R = the severity mix of the duplicate population).
    */
  def dedupQualityTruth(spark: SparkSession, dir: String): DataFrame = {
    val truthJ = cachedJaccardPairs(spark, dir)
    val truth = truthJ.select("id_a", "id_b")
    val tier = qualityTier(truth, truth.agg(count(lit(1)).as("n_truth"))) _
    tier("exact_df100", truth)
      // the df-20 generator rides the postings cache (keyed by cap),
      // not a fresh shingling pass — its posting build is the tier's
      // whole cost
      .unionByName(tier("exact_df20",
        pairScoresFrom(cachedPostings(spark, dir, 20), 0.5, Off, sizeRatioPrune(0.5))))
      .unionByName(tier("exact_t075", truthJ.filter(col("jaccard") >= 0.75)))
      .orderBy("tier")
  }

  /** The word-3-gram shingle + df base CTEs shared by the quality-report
    * and exact pair-family oracles (`l`, `sh`, `df` over `documents`).
    */
  private def shingleBaseCtes: String =
    """l AS (
      |  SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS l
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(CASE WHEN len(l) >= 3 THEN list_distinct(
      |    [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN range(1, len(l) - 1)])
      |    ELSE [array_to_string(l, ' ')] END) AS sh FROM l),
      |df AS (SELECT sh, count(*) AS n FROM sh GROUP BY sh)""".stripMargin

  /** Exact-Jaccard truth pairs (threshold 0.5) under a df cap — the
    * `j$tag` CTE both quality oracles probe.
    */
  private def truthPairCtes(tag: String, cap: Int): String =
    s"""pr$tag AS (SELECT s.doc_id, s.sh FROM sh s
       |  WHERE s.sh NOT IN (SELECT sh FROM df WHERE n > $cap)),
       |sz$tag AS (SELECT doc_id, count(*) AS sz FROM pr$tag GROUP BY doc_id),
       |j$tag AS (
       |  SELECT id_a, id_b,
       |    round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) AS jaccard
       |  FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |        FROM pr$tag a JOIN pr$tag b
       |          ON a.sh = b.sh AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2) p
       |  JOIN sz$tag sa ON sa.doc_id = id_a
       |  JOIN sz$tag sb ON sb.doc_id = id_b
       |  WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) >= 0.5)""".stripMargin

  val dedupQualityTruthSql: String = {
    def tierSel(name: String, from: String): String =
      s"""SELECT '$name' AS tier,
         |  (SELECT count(*) FROM $from) AS n_pairs,
         |  (SELECT count(*) FROM $from t WHERE EXISTS (
         |     SELECT 1 FROM j100 w WHERE w.id_a = t.id_a AND w.id_b = t.id_b)) AS n_hits,
         |  (SELECT count(*) FROM j100) AS n_truth""".stripMargin
    s"""WITH $shingleBaseCtes,
       |${truthPairCtes("100", MaxShingleDf)},
       |${truthPairCtes("20", 20)},
       |t75 AS (SELECT id_a, id_b FROM j100 WHERE jaccard >= 0.75),
       |rows0 AS (
       |  ${tierSel("exact_df100", "j100")}
       |  UNION ALL
       |  ${tierSel("exact_df20", "j20")}
       |  UNION ALL
       |  ${tierSel("exact_t075", "t75")})
       |SELECT tier, n_pairs, n_hits, n_truth,
       |  round(CASE WHEN n_pairs > 0 THEN n_hits * 1.0 / n_pairs END, 4) AS precision,
       |  round(CASE WHEN n_truth > 0 THEN n_hits * 1.0 / n_truth END, 4) AS recall
       |FROM rows0 ORDER BY tier""".stripMargin
  }

  /** The MinHash band index in md5 CERTIFICATION MODE — the
    * dedup_simhash precedent applied to the LSH tier: same shingles,
    * same [[NumHashes]]×[[BandRows]] geometry, same affine permutation
    * family ([[minhashA]]/[[minhashB]] mod [[MinhashPrime]]), but the
    * shingle hash is the replayable md5 coin (first 8 hex chars mod
    * 2³¹−1) instead of xxhash64, and band mixing is md5 over the
    * comma-joined minima (first 15 hex chars, parsed to a positive
    * LONG) instead of the native
    * FNV-1a kernel — every step an external engine reproduces verbatim.
    * The production tier ([[lshBandIndex]]) is UNCHANGED: xxhash64 +
    * the fused codegen kernel stay the throughput path; this mode
    * exists so the banding machinery itself is hash-certified, not
    * merely spec-trusted.
    */
  private[graft] def md5BandIndex(docs: DataFrame): DataFrame = {
    val nBands = NumHashes / BandRows
    // band key: first 15 hex chars of md5 over the comma-joined minima,
    // parsed to a LONG (< 2⁶⁰ — positive, cheap join key on both sides)
    val bandStructs = (0 until nBands).map { i =>
      struct(lit(i).as("band_id"),
        conv(substring(md5(concat_ws(",",
          (0 until BandRows).map(j =>
            element_at(col("sig"), i * BandRows + j + 1).cast("string")): _*)), 1, 15),
          16, 10).cast("long").as("band_hash"))
    }
    // md5 shingle hashing runs EXPLODED in [[explodedNgrams]]' safe plan
    // shape (explode of the n-gram EXPRESSION over the materialized
    // token attribute — exploding a shingle-array attribute instead
    // trips the SPARK-33544 InferFiltersFromGenerate landmine and
    // re-runs the interpreted shingle build serially in the scan task:
    // 10 s of this entry's first sf0.1 pin), with codegen'd md5/conv on
    // plain columns and one doc-keyed shuffle to re-gather arrays. A
    // doc with no non-empty shingle has no row here on either engine
    // (the oracle's hash CTE likewise).
    val hashes = docs
      .select(col("doc_id"), toks(col("text")).as("__t"))
      .select(col("doc_id"), explode(ngramsOfToks(col("__t"), 3)).as("s"))
      .filter(col("s") =!= "")
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long"),
          lit(2147483647L)).as("x"))
      .groupBy("doc_id").agg(collect_list(col("x")).as("__h"))
    // the signature frame MUST materialize before the band projection:
    // CollapseProject would otherwise inline the `sig` alias into all
    // 16 bands × 4 element_at references — 64 re-executions of the
    // whole minima loop per row (measured 13 s of the first sf0.1 pin;
    // 0.2 s materialized). |docs| rows × 64 longs — a trivial
    // checkpoint. Same landmine family as lshBandIndex's
    // explode-of-expression note.
    val sig = hashes
      // the fused native minima loop — the interpreted HOF form
      // (minhashFromHashes) is spec-held arithmetically identical
      .select(col("doc_id"),
        graft.functions.MinHashExpression.minhashMins(col("__h"),
          minhashA.toIndexedSeq, minhashB.toIndexedSeq, MinhashPrime).as("sig"))
      .localCheckpoint(true)
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("b.band_id"), col("b.band_hash"))
  }

  /** dedup_quality_report's ORACLE-CERTIFIED md5-mode twin: the LSH
    * candidate tier ([[qualityTier]] arithmetic included) driven by the
    * [[md5BandIndex]] signatures, so DuckDB replays shingle hash →
    * 64 permutation minima → 16 band keys → band-bucket pairs →
    * precision/recall verbatim ([[dedupQualityReportMd5Sql]]). The
    * production xxhash64 report keeps its rows-only status by
    * throughput necessity; this twin certifies the same machinery.
    */
  def dedupQualityReportMd5(spark: SparkSession, dir: String): DataFrame = {
    val truth = cachedJaccardPairs(spark, dir).select("id_a", "id_b")
    val tier = qualityTier(truth, truth.agg(count(lit(1)).as("n_truth"))) _
    val bands = md5BandIndex(Tables.documents(spark, dir)).localCheckpoint(true)
    tier("minhash_bands_md5", lshCandidatesFromIndex(bands))
  }

  val dedupQualityReportMd5Sql: String = {
    val aList = minhashA.mkString("[", ", ", "]")
    val bList = minhashB.mkString("[", ", ", "]")
    s"""WITH $shingleBaseCtes,
       |${truthPairCtes("100", MaxShingleDf)},
       |hx AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5(sh), 1, 8))::UBIGINT AS BIGINT) % 2147483647 AS x
       |  FROM sh WHERE sh <> ''),
       |xs AS (SELECT doc_id, list(DISTINCT x) AS xs FROM hx GROUP BY doc_id),
       |sig AS (
       |  SELECT doc_id,
       |    [list_min(list_transform(xs, x ->
       |       ($aList[k] * x + $bList[k]) % $MinhashPrime))
       |     FOR k IN range(1, ${NumHashes + 1})] AS sig
       |  FROM xs),
       |bh AS (
       |  SELECT doc_id, band_id,
       |    CAST(('0x' || substr(md5(array_to_string(
       |      sig[band_id * $BandRows + 1 : band_id * $BandRows + $BandRows], ',')),
       |      1, 15))::UBIGINT AS BIGINT) AS band_hash
       |  FROM (SELECT doc_id, sig, unnest(range(0, ${NumHashes / BandRows})) AS band_id
       |        FROM sig)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bh a JOIN bh b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       |    AND a.doc_id < b.doc_id),
       |r AS (
       |  SELECT 'minhash_bands_md5' AS tier,
       |    (SELECT count(*) FROM cand) AS n_pairs,
       |    (SELECT count(*) FROM cand t WHERE EXISTS (
       |       SELECT 1 FROM j100 w WHERE w.id_a = t.id_a AND w.id_b = t.id_b)) AS n_hits,
       |    (SELECT count(*) FROM j100) AS n_truth)
       |SELECT tier, n_pairs, n_hits, n_truth,
       |  round(CASE WHEN n_pairs > 0 THEN n_hits * 1.0 / n_pairs END, 4) AS precision,
       |  round(CASE WHEN n_truth > 0 THEN n_hits * 1.0 / n_truth END, 4) AS recall
       |FROM r""".stripMargin
  }
}
