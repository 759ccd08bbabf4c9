package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup
import graft.Tables

class DedupSpec extends AnyFunSuite with SparkSpec {

  test("exact dedup partitions the corpus (group sizes sum to doc count)") {
    val docs = Tables.documents(spark, sfDir)
    val groups = Dedup.exact(spark, sfDir)
    assert(groups.agg(sum("dup_count")).head.getLong(0) === docs.count())
  }

  test("minhash LSH candidates contain every true Jaccard>=0.5 pair") {
    val truePairs = Dedup.ngramJaccard(Tables.documents(spark, sfDir), threshold = 0.5)
      .select("id_a", "id_b")
    val lsh = Dedup.minhashLsh(spark, sfDir)
    // every doc in a true pair must report n_dups >= 1 and the pair itself
    val reported = lsh.filter(col("n_dups") > 0).select(col("doc_id"))
    val docsInTruePairs = truePairs.select(col("id_a").as("doc_id"))
      .union(truePairs.select(col("id_b").as("doc_id"))).distinct()
    assert(docsInTruePairs.exceptAll(reported).count() === 0,
      "every truly-duplicated doc is caught by LSH")
  }

  test("minhash signatures are similarity-preserving (identical docs collide)") {
    val docs = Tables.documents(spark, sfDir).limit(5)
    val sigs = docs.select(col("doc_id"), Dedup.minhashSignature(col("text")).as("sig"))
      .union(docs.select(col("doc_id") + 100000, Dedup.minhashSignature(col("text")).as("sig")))
    val bySig = sigs.groupBy("sig").count()
    assert(bySig.filter(col("count") >= 2).count() === 5,
      "duplicated texts produce identical signatures")
  }

  test("simhash of identical text is identical; near counts symmetric") {
    val sh = Dedup.simhashDedup(spark, sfDir)
    assert(sh.count() === Tables.documents(spark, sfDir).count())
    // hamming(x,x)=0 ⇒ any doc with an exact dup text must have n_near>0
    val trueDups = Dedup.ngramJaccard(Tables.documents(spark, sfDir), threshold = 0.999)
    val dupIds = trueDups.select(col("id_a").as("doc_id"))
      .union(trueDups.select(col("id_b").as("doc_id"))).distinct()
    val caught = sh.join(dupIds, Seq("doc_id")).filter(col("n_near") > 0)
    assert(caught.count() === dupIds.count(), "identical docs collide in simhash space")
  }

  test("ngram jaccard df-cap bounds candidates from a hot shingle") {
    import spark.implicits._
    // 50 docs share one boilerplate sentence (its shingles have df=50);
    // each doc's remaining shingles are unique. Plus one true dup pair
    // whose shingles are rare.
    val boiler = "all rights reserved copyright notice terms apply"
    val docs = (1 to 50).map(i => (i.toLong, s"$boiler unique$i filler$i alpha$i beta$i"))
      .toDF("doc_id", "text")
      .union(Seq((100L, "the quick brown fox jumps over the lazy dog today"),
                 (101L, "the quick brown fox jumps over the lazy dog today"))
        .toDF("doc_id", "text"))
    val uncapped = Dedup.ngramCandidates(docs, maxDf = 1000)
    val capped = Dedup.ngramCandidates(docs, maxDf = 10)
    assert(uncapped.count() >= 50L * 49 / 2, "hot shingle explodes candidates when uncapped")
    assert(capped.count() < 50, "df-cap keeps the candidate set bounded")
    // the true near-dup pair shares only rare shingles → survives the
    // cap, and its rare-set jaccard is the full exact jaccard (1.0)
    assert(capped.filter(col("id_a") === 100 && col("id_b") === 101).count() === 1)
    val out = Dedup.ngramJaccard(docs, threshold = 0.9, maxDf = 10)
    assert(out.filter(col("id_a") === 100 && col("id_b") === 101 && col("jaccard") === 1.0)
      .count() === 1)
  }

  test("incremental LSH candidates decompose the full candidate set") {
    val docs = Tables.documents(spark, sfDir)
    val full = Dedup.lshCandidatesFromIndex(Dedup.lshBandIndex(docs))
    val h1 = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
    val h2 = docs.filter(pmod(col("doc_id"), lit(2L)) === 1)
    // index the first half once, then treat the second half as a new
    // batch joining only against the persisted index + itself
    val inc = Dedup.lshCandidatesFromIndex(Dedup.lshBandIndex(h1))
      .union(Dedup.incrementalCandidates(Dedup.lshBandIndex(h1), h2))
      .distinct()
    assert(full.exceptAll(inc).count() === 0, "full minus incremental")
    assert(inc.exceptAll(full).count() === 0, "incremental minus full")
  }

  test("dedup clusters: chains collapse to one component, min id is canonical") {
    import spark.implicits._
    val docs = (1L to 8L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    // chain 1-2-3 (transitive, no direct 1-3 edge), pair 5-7, singletons 4,6,8
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 7L)).toDF("id_a", "id_b")
    val out = Dedup.dedupClusters(docs, pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((1L, 3L)) && out(2L) === ((1L, 3L)) && out(3L) === ((1L, 3L)),
      "chain reaches the min label transitively")
    assert(out(5L) === ((5L, 2L)) && out(7L) === ((5L, 2L)))
    Seq(4L, 6L, 8L).foreach(d => assert(out(d) === ((d, 1L)), s"singleton $d"))
  }

  test("dedup clusters: large-star/small-star equals min-label propagation") {
    import spark.implicits._
    // a deliberately DEEP component (path 1-2-...-10) plus a clique-ish
    // triangle and singletons — the regime the star algorithm exists for
    val docs = (1L to 15L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = ((1L to 9L).map(i => (i, i + 1)) ++ Seq((11L, 12L), (12L, 13L), (11L, 13L)))
      .toDF("id_a", "id_b")
    val star = Dedup.dedupClustersStar(docs, pairs)
    val prop = Dedup.dedupClusters(docs, pairs)
    assert(star.exceptAll(prop).isEmpty && prop.exceptAll(star).isEmpty,
      "star and propagation must produce identical labelings")
    val out = star.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    (1L to 10L).foreach(d => assert(out(d) === ((1L, 10L)), s"path member $d"))
    Seq(11L, 12L, 13L).foreach(d => assert(out(d) === ((11L, 3L)), s"triangle $d"))
    Seq(14L, 15L).foreach(d => assert(out(d) === ((d, 1L)), s"singleton $d"))
  }

  test("dedup clusters: empty, self-loop, and duplicate pair sets degrade gracefully") {
    import spark.implicits._
    val docs = (1L to 5L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    // empty pair set → every doc is its own singleton cluster
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val out0 = Dedup.dedupClusters(docs, empty).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out0.toSet === (1L to 5L).map(i => (i, i, 1L)).toSet)
    // self-loops contribute nothing; duplicate + reversed pairs collapse
    val messy = Seq((2L, 2L), (1L, 3L), (3L, 1L), (1L, 3L)).toDF("id_a", "id_b")
    val out1 = Dedup.dedupClusters(docs, messy).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out1(1L) === ((1L, 2L)) && out1(3L) === ((1L, 2L)))
    Seq(2L, 4L, 5L).foreach(d => assert(out1(d) === ((d, 1L)), s"singleton $d"))
  }

  test("dedup clusters: star and union-find agree on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val nV = 20 + trial * 5
      val docs = (1L to nV.toLong).map(i => (i, s"d$i")).toDF("doc_id", "text")
      val pairs = Seq.fill(nV)((rnd.nextInt(nV) + 1L, rnd.nextInt(nV) + 1L))
        .toDF("id_a", "id_b")
      val uf = Dedup.dedupClusters(docs, pairs)
      val star = Dedup.dedupClustersStar(docs, pairs)
      assert(uf.exceptAll(star).isEmpty && star.exceptAll(uf).isEmpty,
        s"trial $trial: union-find and star labelings diverge")
    }
  }

  test("dedup clusters: star path matches propagation on corpus pairs") {
    val docs = Tables.documents(spark, sfDir)
    val pairs = Dedup.ngramJaccardPairs(docs).select("id_a", "id_b").localCheckpoint(true)
    val star = Dedup.dedupClustersStar(docs, pairs)
    val prop = Dedup.dedupClusters(docs, pairs)
    assert(star.exceptAll(prop).isEmpty && prop.exceptAll(star).isEmpty,
      "star and propagation must agree on real near-dup pairs")
  }

  test("decontamination flags exactly the docs sharing 5-grams with the bench slice") {
    val out = Dedup.decontaminate(spark, sfDir)
    assert(out.count() === Tables.documents(spark, sfDir).count())
    // benchmark docs that are exact duplicates of a training doc must be
    // flagged from the training side (identical text shares every gram)
    val dupPairs = Dedup.ngramJaccard(Tables.documents(spark, sfDir), threshold = 0.999)
    val benchDups = dupPairs
      .filter(pmod(col("id_a"), lit(11L)) === 0 || pmod(col("id_b"), lit(11L)) === 0)
    val flaggedIds = out.filter(col("contaminated")).select("doc_id")
    val mustFlag = benchDups.filter(pmod(col("id_a"), lit(11L)) === 0).select(col("id_b").as("doc_id"))
      .union(benchDups.filter(pmod(col("id_b"), lit(11L)) === 0).select(col("id_a").as("doc_id")))
    assert(mustFlag.exceptAll(flaggedIds).count() === 0,
      "every exact dup of a benchmark doc is flagged")
  }

  test("embedding cosine pairs are symmetric-free and thresholded") {
    val pairs = Dedup.embeddingCosine(spark, sfDir)
    assert(pairs.filter(col("id_a") >= col("id_b")).count() === 0)
    assert(pairs.filter(col("cosine") < 0.4).count() === 0)
  }

  test("embedding cosine refuses corpora above its driver-broadcast cap") {
    // the exact tier materializes the corpus on the driver, OUTSIDE
    // Spark's broadcast-join size accounting — the row cap is the only
    // thing standing between a large corpus and a driver OOM, and the
    // error must name the scale path
    val embs = graft.Tables.embeddings(spark, sfDir)
    val ex = intercept[IllegalArgumentException] {
      Dedup.embeddingCosine(embs, maxRows = 10L)
    }
    assert(ex.getMessage.contains("semanticDedup"),
      s"the refusal must point at the scale path: ${ex.getMessage}")
    assert(ex.getMessage.contains("broadcast cap"))
    // at or under the cap the tier still runs
    assert(Dedup.embeddingCosine(embs.limit(10), maxRows = 10L).count() >= 0)
  }

  test("the exact-tier cap is runtime-conf-gated on the driver entry") {
    // graft.dedup.maxExactBroadcastRows is the deployment's knob (the
    // graft.graph.maxBroadcastRows discipline): pinned under the corpus
    // size, the DRIVER-facing entry itself refuses with the scale-path
    // pointer — the guard a 100× job hits before pasting an O(n²) plan
    try {
      spark.conf.set("graft.dedup.maxExactBroadcastRows", "10")
      val ex = intercept[IllegalArgumentException] {
        Dedup.embeddingCosine(spark, sfDir)
      }
      assert(ex.getMessage.contains("semanticDedup"))
    } finally spark.conf.unset("graft.dedup.maxExactBroadcastRows")
    // unset → the default cap admits the test corpus unchanged
    assert(Dedup.embeddingCosine(spark, sfDir).count() > 0)
  }

  test("semantic dedup drops only true near-dups and covers most of the exact tier") {
    val out = Dedup.semanticDedup(spark, sfDir).collect()
    val embs = Tables.embeddings(spark, sfDir)
    assert(out.length === embs.count(), "one keep-decision per vector")
    // deterministic (pure function of corpus + quantizer seed)
    assert(Dedup.semanticDedup(spark, sfDir).collect().toSeq === out.toSeq)

    val dropped = out.filter(!_.getAs[Boolean]("keep")).map(_.getAs[Long]("vec_id")).toSet
    // the exact tier's drop set at the same threshold: any vec with a
    // smaller-id neighbor at cosine >= 0.4, cells ignored
    val exactDropped = Dedup.embeddingCosine(spark, sfDir)
      .select("id_b").collect().map(_.getInt(0).toLong).toSet
    // soundness: every within-cell drop is a true near-dup drop
    assert(dropped.subsetOf(exactDropped),
      s"cell-bounded drops must be a subset of exact drops: ${dropped -- exactDropped}")
    // recall: cells capture a meaningful share of the exact drop set
    // (cross-cell pairs are the documented miss)
    if (exactDropped.nonEmpty) {
      val recall = dropped.size.toDouble / exactDropped.size
      info(f"semantic-dedup drop recall vs exact tier = $recall%.2f")
      assert(recall >= 0.4, s"cell-bounded dedup recall too low: $recall")
    }
  }

  test("source overlap: mirrored sources score 1.0, disjoint sources never pair") {
    import spark.implicits._
    val docs = Seq(
      // mirror: same texts under two source labels
      (1L, "alpha beta gamma delta epsilon zeta", "mirror_a"),
      (2L, "eta theta iota kappa lambda mu", "mirror_a"),
      (3L, "alpha beta gamma delta epsilon zeta", "mirror_b"),
      (4L, "eta theta iota kappa lambda mu", "mirror_b"),
      // disjoint vocabulary source
      (5L, "uno dos tres cuatro cinco seis", "solo"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(docs).collect()
    assert(out.length === 1, s"only the mirror pair overlaps, got ${out.length} rows")
    val r = out.head
    assert(r.getString(0) === "mirror_a" && r.getString(1) === "mirror_b")
    assert(r.getDouble(3) === 1.0, "identical shingle sets must score jaccard 1.0")
    // corpus run: pairs are ordered, jaccard in (0, 1]
    val corpus = Dedup.sourceOverlap(spark, sfDir).collect()
    corpus.foreach { c =>
      assert(c.getString(0) < c.getString(1))
      assert(c.getDouble(3) > 0.0 && c.getDouble(3) <= 1.0)
    }
  }

  test("source overlap KMV: exact under k distinct shingles, within estimator error on the corpus") {
    import spark.implicits._
    // tiny vocab => union sketch is exact => kmv_jaccard == exact jaccard
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "mirror_a"),
      (2L, "eta theta iota kappa lambda mu", "mirror_a"),
      (3L, "alpha beta gamma delta epsilon zeta", "mirror_b"),
      (4L, "eta theta iota kappa lambda mu", "mirror_b"),
      (5L, "alpha beta gamma uno dos tres cuatro", "partial"))
      .toDF("doc_id", "text", "source")
    val kmv = Dedup.sourceOverlapKmv(docs)
      .select("src_a", "src_b", "kmv_jaccard", "est_union", "est_shared").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val exact = Dedup.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(kmv.size === 3, "every source pair gets a KMV row")
    exact.foreach { case (pair, j) =>
      assert(kmv(pair)._1 === j,
        s"under-k union sketch must reproduce the exact jaccard for $pair")
    }
    // mirror pair: jaccard 1.0 and est_shared == est_union (all shared)
    val m = kmv(("mirror_a", "mirror_b"))
    assert(m._1 === 1.0 && m._3 === m._2)
    // corpus run: agreement with the exact face within the k=256
    // estimator error (σ(J) ~ sqrt(J(1-J)/k) ≤ 0.031; allow ~4σ)
    val corpusExact = Dedup.sourceOverlap(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    val corpusKmv = Dedup.sourceOverlapKmv(spark, sfDir).collect()
    assert(corpusKmv.nonEmpty)
    corpusKmv.foreach { r =>
      val j = corpusExact.getOrElse((r.getString(0), r.getString(1)), 0.0)
      val est = r.getDouble(6)
      assert(math.abs(est - j) <= 0.125,
        s"${r.getString(0)}-${r.getString(1)}: kmv $est vs exact $j")
    }
  }

  test("scrub_dup_spans removes copied passages from later docs only, conserving token counts") {
    import spark.implicits._
    def words(prefix: String, k: Int): String =
      (1 to k).map(i => s"$prefix$i").mkString(" ")
    val passage = words("shared", 25) // 25 tokens → 6 overlapping 20-spans
    val docs = Seq(
      (1L, s"${words("alpha", 10)} $passage ${words("omega", 5)}"), // keeper
      (2L, s"${words("beta", 7)} $passage"),                        // copies the passage
      (3L, words("unique", 30))                                     // untouched
    ).toDF("doc_id", "text")
    val out = graft.dedup.Dedup.scrubDupSpans(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // keeper and unique docs keep every token
    assert(out(1L)._2 === 0L, "keeper must not be scrubbed")
    assert(out(3L)._2 === 0L, "doc with unique text must not be scrubbed")
    // doc 2 loses exactly the copied passage (its 7 own tokens survive)
    assert(out(2L)._1 === 32L && out(2L)._2 === 25L)
    assert(out(2L)._3 === words("beta", 7))
    // conservation: n_tokens − removed == tokens surviving in scrubbed
    out.values.foreach { case (nTok, nRem, scrubbed) =>
      val kept = if (scrubbed.isEmpty) 0 else scrubbed.split(" ").length
      assert(nTok - nRem === kept.toLong, "token accounting must balance")
    }
  }

  test("scrub_dup_spans keep-first is positional-global: every occurrence outside the keeper goes") {
    import spark.implicits._
    val p = (1 to 20).map(i => s"w$i").mkString(" ")
    // doc 2 contains the passage TWICE; doc 1 (keeper) once
    val docs = Seq((1L, s"$p"), (2L, s"start $p middle $p end")).toDF("doc_id", "text")
    val out = graft.dedup.Dedup.scrubDupSpans(docs).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(1L) === p, "keeper keeps its single occurrence")
    assert(out(2L) === "start middle end", "both later occurrences are removed")
  }

  test("editdist blocking never drops a true pair within tau (seeded fuzz vs brute force)") {
    import spark.implicits._
    // adversarial corpus: seeded random strings over a TINY alphabet
    // (maximizes accidental near-matches), mutated copies at exactly
    // <= tau edits, plus the degenerate shorties the pigeonhole can't
    // cover (len < tau+1) — the separate short bucket must catch those
    val tau = 2
    val rnd = new scala.util.Random(1234L)
    val alpha = "abc"
    def randStr(n: Int) = (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    def mutate(s: String, edits: Int): String = {
      var cur = s
      (1 to edits).foreach { _ =>
        val op = rnd.nextInt(3)
        val pos = if (cur.isEmpty) 0 else rnd.nextInt(cur.length)
        cur = op match {
          case 0 if cur.nonEmpty => cur.updated(pos, alpha(rnd.nextInt(alpha.length)))
          case 1 => cur.substring(0, pos) + alpha(rnd.nextInt(alpha.length)) + cur.substring(pos)
          case _ if cur.nonEmpty => cur.substring(0, pos) + cur.substring(pos + 1)
          case _ => cur
        }
      }
      cur
    }
    val bases = (0 until 60).map(_ => randStr(rnd.nextInt(12) + 4))
    val shorts = (0 until 15).map(_ => randStr(rnd.nextInt(2) + 1)) // len 1-2 < tau+1
    val all = (bases ++ bases.map(mutate(_, rnd.nextInt(tau) + 1)) ++ shorts)
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val docs = all.toDF("doc_id", "s").withColumn("text", col("s"))
    val got = Dedup.editDistPairs(docs, col("s"), tau)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute force over the same strings on the driver
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      (ia, sa) <- all; (ib, sb) <- all
      if ia < ib && lev(sa, sb) <= tau
    } yield (ia, ib)).toSet
    assert((expected -- got).isEmpty,
      s"blocking dropped true pairs: ${(expected -- got).take(5)}")
    assert((got -- expected).isEmpty,
      s"verify passed false pairs: ${(got -- expected).take(5)}")
  }

  test("ngram novelty: bounded, first-doc-complete, and every distinct gram credited once") {
    val docs = Tables.documents(spark, sfDir)
    val out = Dedup.ngramNovelty(docs).collect()
    assert(out.length == docs.count())
    out.foreach { r =>
      val (grams, novel, nov) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(novel <= grams && nov >= 0.0 && nov <= 1.0, s"bounds violated: $r")
    }
    // the earliest doc sees everything first
    assert(out.minBy(_.getLong(0)).getDouble(3) == 1.0,
      "the min-doc_id document must be fully novel")
    // first-occurrence attribution credits each distinct gram exactly once
    val distinctGrams = docs
      .select(explode(Dedup.shingles(col("text"))).as("s"))
      .filter(col("s") =!= "").distinct().count()
    assert(out.map(_.getLong(2)).sum === distinctGrams,
      "sum of novel counts must equal the corpus's distinct gram count")
  }

  test("dedup_quality_report measures the tiers against the exact Jaccard truth") {
    val rep = Dedup.dedupQualityReport(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(5))).toMap
    assert(rep.keySet === Set("minhash_bands", "simhash_h3"))
    val nTruth = Dedup.ngramJaccard(Tables.documents(spark, sfDir)).count()
    rep.values.foreach { case (nPairs, nHits, t, _) =>
      assert(t === nTruth, "truth column must equal the oracled exact-pair count")
      assert(nHits <= nPairs && nHits <= t, "hits bounded by both sets")
    }
    // at threshold 0.5 the 16-band/4-row MinHash config has high
    // collision probability for true pairs — the recall floor the
    // config was chosen for
    assert(rep("minhash_bands")._4 >= 0.8,
      s"LSH candidate recall ${rep("minhash_bands")._4} below the design floor")
  }

  test("fused minhash minima equal the HOF formulation element-for-element") {
    val h = Dedup.shingleHashes(Dedup.shingles(col("text")))
    val both = Tables.documents(spark, sfDir).limit(200)
      .select(h.as("hs"))
      .filter(size(col("hs")) > 0)
      .select(Dedup.minhashFromHashes(col("hs")).as("hof"),
        graft.functions.MinHashExpression.minhashMins(col("hs"),
          Dedup.minhashA.toIndexedSeq, Dedup.minhashB.toIndexedSeq,
          Dedup.MinhashPrime).as("fused"))
    assert(both.filter(col("hof") =!= col("fused")).count() === 0,
      "the native loop must reproduce the certified affine-min arithmetic")
  }

  test("md5 certification mode holds the production banding's recall floor") {
    val rep = Dedup.dedupQualityReportMd5(spark, sfDir).collect()
    assert(rep.length === 1 && rep.head.getString(0) === "minhash_bands_md5")
    val nTruth = rep.head.getLong(3)
    assert(nTruth === Dedup.ngramJaccard(Tables.documents(spark, sfDir)).count(),
      "truth column must equal the oracled exact-pair count")
    // same geometry + same permutation family, only the hash coin
    // differs — the s-curve recall floor must hold for md5 too
    assert(rep.head.getDouble(5) >= 0.8,
      s"md5-mode LSH recall ${rep.head.getDouble(5)} below the design floor")
  }

  test("ngram containment scores full subsumption 1.0 where jaccard dilutes it") {
    import spark.implicits._
    val core = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val pad = (1 to 40).map(i => s"pad$i word$i").mkString(" ")
    val docs = Seq(
      (1L, core),                 // short doc
      (2L, s"$core $pad"),        // contains doc 1 whole, much longer
      (3L, "zulu yankee xray whiskey victor uniform tango sierra"))
      .toDF("doc_id", "text")
    val cont = Dedup.ngramContainmentPairs(docs, threshold = 0.8).collect()
    assert(cont.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)),
      "exactly the subsumed pair clears the containment threshold")
    assert(cont.head.getDouble(2) === 1.0, "full subsumption scores 1.0")
    // the same pair is invisible to jaccard at its threshold: the pad
    // grams dilute inter/union far below 0.5
    val jac = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
    assert(jac.count() === 0, "jaccard misses the subsumption the containment face finds")
  }

  test("containment incremental equals a parity filter over the exact pair table") {
    val exact = Dedup.ngramContainment(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = exact.filterNot { case (a, b) => a % 2 == 0 && b % 2 == 0 }
      .groupBy { case (a, b) => if (a % 2 != b % 2) "batch_vs_corpus" else "within_batch" }
      .map { case (o, ps) => o -> (ps.size.toLong, ps.map(_._2).distinct.size.toLong) }
    val got = Dedup.ngramContainmentIncremental(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === want,
      "the shared-pair-table face must reproduce the post-filtered exact face")
    // the production form (map-side parity cut at pair expansion) is
    // result-identical — the commuting-cut premise the driver face uses
    val prod = Dedup.ngramContainmentIncrementalFrom(
        Dedup.postingsOf(Tables.documents(spark, sfDir))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(prod === want, "map-side cut and post-filter must agree")
  }

  test("containment approx at p=100 degenerates bit-equal to the exact face") {
    val exact = Dedup.ngramContainment(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val p100 = Dedup.ngramContainmentApprox(spark, sfDir, pPct = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(p100 === exact,
      "with every coin true and 1/p² = 1 the estimator IS the exact containment")
  }

  test("containment approx estimator concentrates at the default sample rate") {
    val exact = Dedup.ngramContainment(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty, "the synthetic corpus carries containment pairs")
    // score every sampled pair (threshold 0 = no report cut) and check
    // the estimator against the exact value on the true ≥0.8 pairs:
    // unbiased with std ~1.64/√min_sz at p=50 — a deterministic corpus
    // + deterministic coin make this a fixed, replayable outcome
    val est = Dedup.ngramContainmentApprox(spark, sfDir, threshold = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val recovered = exact.keySet.count(k => est.getOrElse(k, 0.0) >= 0.5)
    assert(recovered >= (exact.size * 0.6).toInt,
      s"only $recovered/${exact.size} exact pairs recovered at est ≥ 0.5")
    val errs = exact.collect { case (k, v) if est.contains(k) => math.abs(est(k) - v) }
    assert(errs.sum / errs.size <= 0.35,
      f"mean |est − exact| ${errs.sum / errs.size}%.3f exceeds the concentration bound")
  }

  test("leakage-safe split never separates near-duplicates across folds") {
    val split = Dedup.leakageSafeSplit(spark, sfDir).localCheckpoint(true)
    val docs = Tables.documents(spark, sfDir)
    assert(split.count() === docs.count(), "one fold row per document")
    val straddling = split.groupBy("cluster_id")
      .agg(countDistinct(col("fold")).as("nf")).filter(col("nf") > 1)
    assert(straddling.count() === 0,
      "a near-dup cluster must land in exactly one fold")
    val byFold = split.groupBy("fold").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFold.getOrElse("train", 0L) > byFold.values.sum / 2,
      "train is the majority fold at the 80/10/10 defaults")
  }

  test("cluster-size histogram equals a recompute over the cluster frame") {
    val clusters = graft.dedup.Dedup.dedupClusters(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size")))
    val total = clusters.length
    val want = clusters.groupBy(_._3).map { case (size, rows) =>
      size -> ((rows.map(_._2).distinct.length.toLong, rows.length.toLong))
    }
    val got = graft.dedup.Dedup.dedupClusterSizes(spark, sfDir).collect()
      .map(r => r.getAs[Long]("size") ->
        ((r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"), r.getAs[Double]("doc_share")))).toMap
    assert(got.keySet === want.keySet)
    for ((size, (nc, nd)) <- want) {
      assert(got(size)._1 === nc, s"size $size clusters")
      assert(got(size)._2 === nd, s"size $size docs")
      assert(math.abs(got(size)._3 - nd.toDouble / total) < 1e-4, s"size $size share")
      // every size-s cluster carries exactly s docs
      assert(nd === nc * size, s"size $size mass consistency")
    }
    // shares partition the corpus
    assert(math.abs(got.values.map(_._3).sum - 1.0) < 1e-3)
  }

  test("jaccard threshold plan equals literal filters over the pair table") {
    val pairs = graft.dedup.Dedup.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard")))
    val total = Tables.documents(spark, sfDir).count()
    val got = graft.dedup.Dedup.jaccardThresholdPlan(spark, sfDir).collect()
      .map(r => r.getAs[Double]("threshold") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs_affected"), r.getAs[Double]("affected_frac")))).toMap
    assert(got.keySet === Set(0.5, 0.6, 0.7, 0.8, 0.9))
    var prevPairs = Long.MaxValue
    for (t <- Seq(0.5, 0.6, 0.7, 0.8, 0.9)) {
      val surv = pairs.filter(_._3 >= t)
      val docs = surv.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong
      assert(got(t)._1 === surv.length.toLong, s"t=$t n_pairs")
      assert(got(t)._2 === docs, s"t=$t n_docs_affected")
      assert(math.abs(got(t)._3 - docs.toDouble / total) < 1e-4, s"t=$t frac")
      // raising the cut can only shrink the survivor set
      assert(got(t)._1 <= prevPairs, s"t=$t monotonicity")
      prevPairs = got(t)._1
    }
  }

  test("sorted-neighborhood equals windowed brute force and is range-count-independent") {
    import spark.implicits._
    // two blank docs: their only shingle is '', which the hashed
    // shingles drop and the verify re-attaches
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .union(Seq((900001L, ""), (900002L, "   ")).toDF("doc_id", "text"))
    def norm(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
    def shingleSet(s: String): Set[String] = {
      val t = norm(s).split(" ", -1)
      if (t.length >= 3) t.sliding(3).map(_.mkString(" ")).toSet
      else Set(t.mkString(" "))
    }
    def round4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val raw = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val sorted = raw.map { case (id, t) => (norm(t).take(Dedup.SnKeyLen), id, t) }
      .sortBy(x => (x._1, x._2))
    val expected = (for {
      i <- sorted.indices
      j <- (i + 1) until math.min(i + Dedup.SnWindow, sorted.length)
      a = shingleSet(sorted(i)._3)
      b = shingleSet(sorted(j)._3)
      inter = (a & b).size
      jac = round4(inter.toDouble / (a.size + b.size - inter))
      if jac >= 0.5
    } yield (math.min(sorted(i)._2, sorted(j)._2),
             math.max(sorted(i)._2, sorted(j)._2), j - i, jac)).toSet
    // the face verifies over hashed shingle arrays; the expectation
    // above uses the string shingle sets, so this certifies the hashed
    // verify against the plain metric
    val got = Dedup.sortedNeighborhood(docs).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("gap"), r.getAs[Double]("jaccard"))).toSet
    assert(expected.nonEmpty, "degenerate corpus: no in-window near-dups at all")
    assert(got === expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    // the globalRank decomposition must not depend on how many ranges split
    // the sort (boundary pairs cross partitions in the many-range run)
    val oneRange = Dedup.sortedNeighborhood(docs, nRanges = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val manyRanges = Dedup.sortedNeighborhood(docs, nRanges = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(oneRange === got && manyRanges === got,
      "rank assignment leaked the range layout into the result")
  }

  test("ppjoin is row-identical to the df-cap jaccard plan with fewer candidates") {
    val docs = Tables.documents(spark, sfDir)
    val viaPostings = Dedup.ngramJaccard(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaPrefix = Dedup.ppjoinJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaPrefix.nonEmpty, "degenerate corpus: no near-dup pairs at all")
    assert(viaPrefix === viaPostings,
      s"missing=${(viaPostings -- viaPrefix).take(3)} " +
        s"extra=${(viaPrefix -- viaPostings).take(3)}")
    // the efficiency claim: prefix postings expand strictly fewer
    // candidate pairs than the full rare postings on this corpus
    val prefixCand = Dedup.ppjoinCandidates(Dedup.postingsOf(docs), 0.5).count()
    val fullCand = Dedup.ngramCandidates(docs).count()
    assert(prefixCand <= fullCand,
      s"prefix candidates ($prefixCand) exceed posting candidates ($fullCand)")
    assert(prefixCand < fullCand,
      "prefix filter pruned nothing on this corpus — claim is vacuous")
  }

  test("r17 shared-substrate dir faces are row-identical to their generic plans") {
    // each dir face memoizes the same build its docs face runs, over
    // memoized substrates (the shared pair scores serve jaccard and
    // containment unpruned; the docs faces build their own) — so each
    // must equal its docs face over the dir's documents table
    val docs = Tables.documents(spark, sfDir)
    val jacDir = Dedup.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val jacGen = Dedup.ngramJaccard(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(jacDir.nonEmpty && jacDir === jacGen,
      s"jaccard drift: missing=${(jacGen -- jacDir).take(3)} " +
        s"extra=${(jacDir -- jacGen).take(3)}")
    val contDir = Dedup.ngramContainment(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val contGen = Dedup.ngramContainmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(contDir.nonEmpty && contDir === contGen,
      s"containment drift: missing=${(contGen -- contDir).take(3)} " +
        s"extra=${(contDir -- contGen).take(3)}")
    val snDir = Dedup.sortedNeighborhood(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val snGen = Dedup.sortedNeighborhood(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(snDir.nonEmpty && snDir === snGen,
      s"SN drift: missing=${(snGen -- snDir).take(3)} " +
        s"extra=${(snDir -- snGen).take(3)}")
  }

  test("blocking report: ppjoin row is the certified identity, SN recall is honest") {
    val rows = Dedup.blockingReport(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    val nTruth = Dedup.ngramJaccard(spark, sfDir).count()
    assert(rows.keySet === Set("ppjoin", "sorted_neighborhood"))
    val (ppN, ppHits, ppTruth, ppP, ppR) = rows("ppjoin")
    assert(ppTruth === nTruth && ppN === nTruth && ppHits === nTruth)
    assert(ppP === 1.0 && ppR === 1.0, "prefix filter lost or invented a pair")
    val (snN, snHits, _, snP, snR) = rows("sorted_neighborhood")
    assert(snHits <= snN && snHits <= nTruth)
    assert(snP > 0.0 && snP <= 1.0 && snR > 0.0 && snR <= 1.0)
    // SN verifies with UNCAPPED jaccard, so its pair set is not a
    // subset of the capped truth in general — but every exact dup
    // (jaccard 1.0 both ways) it finds must be a truth hit
    val snPairs = Dedup.sortedNeighborhood(spark, sfDir)
      .filter(col("jaccard") === 1.0).count()
    assert(snHits >= 0 && snPairs <= snN)
  }
}
