package graft

import graft.ops.{DedupOps, SampleOps, SimilarityOps, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit semantics of the eval/diagnostic family: confusion-matrix
  * rollups, the LSH banding S-curve, KL divergence edge cases, mixture
  * realization budgets, and the semantic-cluster layout.
  */
class PipelineEvalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("classifierEval: precision/recall/F1 per class, never-predicted class keeps zeros") {
    val scored = Seq(("a", "a"), ("a", "b"), ("b", "b"), ("c", "b"))
      .toDF("true_lang", "pred_lang")
    val got = TextOps.classifierEval(scored).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = got("a") // support 2, tp 1, pred 1
    assert(a.getLong(1) === 2L && a.getLong(2) === 1L && a.getLong(3) === 1L)
    assert(a.getDouble(4) === 1.0 && a.getDouble(5) === 0.5 && a.getDouble(6) === 0.6667)
    val b = got("b") // support 1, tp 1, pred 3 (rows 2-4 all predict b)
    assert(b.getDouble(4) === 0.3333 && b.getDouble(5) === 1.0 && b.getDouble(6) === 0.5)
    val c = got("c") // never predicted: all-zero scores, not a crash
    assert(c.getLong(3) === 0L && c.getDouble(4) === 0.0 && c.getDouble(6) === 0.0)
  }

  test("bandSkewAudit: a 5-way dup group owns its buckets, exact pair-work accounting") {
    val docs = (1L to 5L).map(i => (i, "the exact same boilerplate text appears here")) ++ Seq(
      (6L, "completely different content alpha bravo"),
      (7L, "another unrelated document charlie delta"),
      (8L, "yet one more distinct text echo foxtrot"))
    val r = DedupOps.bandSkewAudit(docs.toDF("doc_id", "text")).collect()(0)
    // 4 bands × one 5-doc bucket + 3 distinct docs × 4 singleton
    // buckets: 16 buckets, max 5, pairs 4·C(5,2) = 40, top1 10/40
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
      r.getLong(4), r.getDouble(5)) === ((16L, 5L, 1.0, 5.0, 40L, 0.25)))
  }

  test("ppJoinExact: output equals brute-force shingle Jaccard >= 3/5 — no false negatives, no extras") {
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> "the quick brown fox jumps over the lazy cat tonight",
      3L -> "completely different content with other words here",
      4L -> "the quick brown fox jumps over the lazy dog tonight", // exact copy of 1
      5L -> "tonight dog lazy the over jumps fox brown quick the", // word-shuffled 1
      6L -> "short")
    // driver-side ground truth on the SAME definition: distinct 8-char
    // shingles of the normalized text
    def sh(t: String): Set[String] = {
      val n = t.toLowerCase.replaceAll("[^a-z0-9\\s]", " ").replaceAll("\\s+", " ").trim
      if (n.length < 8) Set(n) else n.sliding(8).toSet
    }
    val truth = (for {
      (ia, ta) <- texts; (ib, tb) <- texts if ia < ib
      inter = (sh(ta) & sh(tb)).size; uni = (sh(ta) | sh(tb)).size
      if inter * 5 >= 3 * uni
    } yield (ia, ib)).toSet
    val got = DedupOps.ppJoinExact(texts.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === truth)
    assert(got.contains((1L, 4L)))  // the exact copy is guaranteed
    assert(!got.contains((1L, 5L))) // word-shuffle destroys shingles: order-sensitive
  }

  test("lshBandingEval: identical pairs land in the 1.0 bin with recall 1, disjoint pairs are not caught") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact copy of 1
      (3L, "qqq www eee rrr ttt yyy uuu"),
      (4L, "zzz xxx ccc vvv bbb nnn mmm"))
      .toDF("doc_id", "text")
    val got = DedupOps.lshBandingEval(docs).collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1.0) === ((1L, 1L))) // the copy pair: caught
    // the 5 disjoint pairs all sit in bin 0.0 and none collide
    assert(got(0.0)._1 === 5L && got(0.0)._2 === 0L)
  }

  test("unigramKlByGroup: identical distributions give exactly zero, symmetric groups agree") {
    val same = Seq((1L, "a b", "g1"), (2L, "a b", "g2")).toDF("doc_id", "text", "source")
    val kl0 = TextOps.unigramKlByGroup(same).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(kl0("g1") === 0.0 && kl0("g2") === 0.0)
    val split = Seq((1L, "a a a a", "g1"), (2L, "b b b b", "g2")).toDF("doc_id", "text", "source")
    val kl = TextOps.unigramKlByGroup(split).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(kl("g1") > 0.0 && kl("g1") === kl("g2"))
  }

  test("mixtureRealize: equal masses split the budget, admission stops once cum crosses the group budget") {
    // two sources, 3 docs x 30 tokens each -> weights 0.5/0.5, budget 50:
    // admit while cum - n < 50 -> exactly 2 docs per source (cum 30, 60)
    val df = (1L to 6L).map(i => (if (i <= 3) "s1" else "s2", i, 30L))
      .toDF("source", "doc_id", "n_tokens")
    val got = SampleOps.mixtureRealize(df, "source", "doc_id", "n_tokens", 100L, 0.7)
      .collect()
    assert(got.length === 4)
    got.foreach { r =>
      assert(r.getDouble(3) === 0.5 && r.getLong(4) === 50L)
      assert(r.getLong(5) - r.getLong(2) < 50L)
    }
    assert(got.map(r => r.getString(0)).groupBy(identity).forall(_._2.length == 2))
  }

  test("containmentVerify: whole-quote containment hits 1.0 on the short side while Jaccard stays low") {
    // B's normalized 3-grams are a strict subset of A's: containment_b = 1
    val docs = Seq((1L, "abcdefghij"), (2L, "abcde")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val r = DedupOps.containmentVerify(pairs, docs).collect().head
    assert(r.getDouble(2) === 0.375) // 3 shared grams / 8 in A
    assert(r.getDouble(3) === 1.0 && r.getDouble(4) === 1.0)
  }

  test("distinctNgramDiversity: type/token and bigram ratios; single-token group has zero bigrams") {
    val docs = Seq((1L, "a b a b", "g1"), (2L, "x", "g2")).toDF("doc_id", "text", "source")
    val got = TextOps.distinctNgramDiversity(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    val g1 = got("g1") // 4 tokens 2 distinct; bigrams: ab, ba, ab
    assert(g1.getLong(1) === 4L && g1.getDouble(2) === 0.5)
    assert(g1.getLong(3) === 3L && g1.getDouble(4) === 0.666667)
    val g2 = got("g2")
    assert(g2.getLong(3) === 0L && g2.getDouble(4) === 0.0)
  }

  test("lengthBucketReport: power-of-two buckets, exact edges, padded-waste ratio") {
    val docs = Seq((1L, "t"), (2L, "t t"), (3L, "t t t"), (4L, "t t t t"), (5L, "t t t t t"))
      .toDF("doc_id", "text")
    val got = TextOps.lengthBucketReport(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet === Set(1L, 2L, 4L, 8L)) // 4 tokens stays in bucket 4, not 8
    val b4 = got(4L)
    assert(b4.getLong(1) === 2L && b4.getLong(2) === 7L && b4.getLong(3) === 1L)
    assert(b4.getDouble(4) === 0.125) // 1 - 7/8
  }

  test("weightedSample: exactly n per group, keys equal pow(u, 1/w) on the seeded hash") {
    val df = (1L to 6L).map(i => ("s", i, if (i <= 3) 1.0 else 0.25))
      .toDF("source", "doc_id", "weight")
    val got = SampleOps.weightedSample(df, "source", "doc_id", "weight", n = 4)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(got.size === 4)
    // cross-check each emitted key against the formula computed from the
    // same seededHash expression (no reimplementation drift)
    val us = df.select(col("doc_id"),
        ((SampleOps.seededHash(col("doc_id"), 42) % 1000000000L) + 1.0) / 1000000001.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val w = (i: Long) => if (i <= 3) 1.0 else 0.25
    got.foreach { case (id, key) =>
      val expect = math.floor(math.abs(math.pow(us(id), 1.0 / w(id))) * 1e6 + 0.5) / 1e6
      assert(key === expect, s"doc $id")
    }
  }

  test("vocabCoverage: heavy hitters ranked with cumulative corpus share") {
    val docs = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val got = TextOps.vocabCoverage(docs, topK = 2).orderBy("rank").collect()
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq ===
      Seq(("a", 3L, 1, 0.5), ("b", 2L, 2, 0.833333)))
  }

  test("oovRate: held-out tokens outside the trained top-K vocab are counted") {
    val docs = Seq((1L, "aa bb aa"), (2L, "aa bb"), (3L, "aa"), (4L, "bb dd"),
      (5L, "aa cc")) // doc 5 is the held-out fifth
      .toDF("doc_id", "text")
    val got = TextOps.oovRate(docs, vocabSize = 2).collect()
    assert(got.length === 1)
    val r = got.head // vocab = {aa, bb}; "aa cc" -> 1 of 2 OOV
    assert(r.getLong(0) === 5L && r.getLong(1) === 2L && r.getLong(2) === 1L
      && r.getDouble(3) === 0.5)
  }

  test("concatChunkLayout: offsets are the per-shard running sum, chunk span arithmetic exact") {
    val df = (1L to 6L).map(i => (i, i + 2L)).toDF("doc_id", "n_tokens")
    val got = SampleOps.concatChunkLayout(df, "doc_id", "n_tokens", numShards = 2,
      chunkTokens = 4).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    got.groupBy(_._1).values.foreach { rows =>
      val ordered = rows.sortBy(_._2)
      ordered.zipWithIndex.foreach { case ((_, pos, n, off, first, last, nc), i) =>
        assert(pos === i.toLong)
        assert(off === ordered.take(i).map(_._3).sum) // running sum of earlier docs
        assert(first === off / 4 && last === (off + n - 1) / 4 && nc === last - first + 1)
      }
    }
  }

  test("bordaRank: competition ranks with ties, average-rank fusion, id tiebreak") {
    val scored = Seq((1L, 0.9, 0.1), (2L, 0.5, 0.5), (3L, 0.1, 0.9), (4L, 0.9, 0.9))
      .toDF("doc_id", "q", "t")
    val got = SampleOps.bordaRank(scored, "doc_id", Seq("q", "t"), n = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
    // q ranks: 1&4 -> 1 (tie), 2 -> 3, 3 -> 4; t ranks: 3&4 -> 1, 2 -> 3, 1 -> 4
    assert(got === Array((4L, 1L, 1L, 1.0, 1), (1L, 1L, 4L, 2.5, 2), (3L, 4L, 1L, 2.5, 3)))
  }

  test("pageRank: hub outranks leaves, symmetric leaves tie, isolated node holds the teleport floor") {
    val edges = Seq(("a", "b", 1L), ("a", "c", 1L)).toDF("src", "dst", "weight")
    val nodes = Seq("a", "b", "c", "d").toDF("source")
    val got = graft.ops.GraphOps.pageRank(edges, nodes, iters = 1).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // teleport floor (1-0.85)/4 = 0.0375; after one iteration:
    // a <- b,c (0.25 each, outw 1): 0.0375 + 0.85*0.5 = 0.4625
    // b,c <- a (0.25/2):            0.0375 + 0.85*0.125 = 0.14375
    assert(got("a") === 0.4625 && got("b") === 0.14375 && got("c") === got("b"))
    assert(got("d") === 0.0375)
  }

  test("pmiCollocations: hand-checked PMI for a pair that always co-occurs") {
    val docs = (1L to 5L).map(i => (i, "x y")).toDF("doc_id", "text")
    val got = TextOps.pmiCollocations(docs).collect()
    assert(got.length === 1)
    val r = got.head // ln((5/5) / ((5/10)*(5/10))) = ln 4
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)) ===
      (("x", "y", 5L, 5L, 5L)))
    assert(r.getDouble(5) === 1.386294 && r.getInt(6) === 1)
  }

  test("shardBalance: single shard carries everything with load factor 1; null-token rows excluded") {
    val df = Seq((1L, Some(10L)), (2L, Some(30L)), (3L, Option.empty[Long]))
      .toDF("doc_id", "n_tokens")
    val got = SampleOps.shardBalance(df, "doc_id", "n_tokens", numShards = 1).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getInt(0) === 0 && r.getLong(1) === 2L && r.getLong(2) === 40L
      && r.getDouble(3) === 1.0)
  }

  test("maxTokenRun: longest island wins, run-length tie breaks to the smaller token, loop flag") {
    val docs = Seq(
      (1L, "a a a b b a"), // runs a:3, b:2, a:1 -> (3, a)
      (2L, "x x y y"),     // tie 2/2 -> smaller token x
      (3L, "z z z z"))     // 4 >= threshold -> loop
      .toDF("doc_id", "text")
    val got = TextOps.maxTokenRun(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getBoolean(3)))).toMap
    assert(got(1L) === ((3L, "a", false)))
    assert(got(2L) === ((2L, "x", false)))
    assert(got(3L) === ((4L, "z", true)))
  }

  test("noveltyCurve: identical corpus yields one first-seen fp; distinct corpus is all-novel") {
    val same = (1L to 40L).map(i => (i, "same text")).toDF("doc_id", "text")
    val s = DedupOps.noveltyCurve(same).collect()
    assert(s.map(_.getLong(2)).sum === 1L)                  // one distinct fp total
    assert(s.maxBy(_.getInt(0)).getDouble(4) === 1.0)       // cum share closes at 1
    val uniq = (1L to 40L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val u = DedupOps.noveltyCurve(uniq).collect()
    assert(u.forall(r => r.getDouble(3) === 1.0))           // every increment fully novel
  }

  test("semanticLayout: separated clusters share a cell, positions are contiguous from zero") {
    val rows =
      (0L to 3L).map(i => (i, Array(1f + i * 0.01f, 0f))) ++
        (4L to 7L).map(i => (i, Array(0f, 1f + i * 0.01f)))
    val emb = rows.toDF("vec_id", "embedding")
    // ids 0 and 4 seed different cells (init = first k rows by id is 0,1 —
    // both in cluster A — but two Lloyd rounds re-separate the means)
    val got = SimilarityOps.semanticLayout(emb, k = 2, iters = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byCell = got.groupBy(_._2)
    assert(byCell.size === 2)
    byCell.values.foreach { rs =>
      val ids = rs.map(_._1).toSet
      assert(ids === (0L to 3L).toSet || ids === (4L to 7L).toSet)
      assert(rs.map(_._3).sorted.toSeq === (0L until rs.length).toSeq)
    }
  }

  test("gradedRetrievalEval: hand-computed DCG/NDCG/MRR, miss rows contribute zero gain") {
    // truth (k=3): 10 > 20 > 30 → rel 3, 2, 1. system: 20, 99(miss), 10.
    val exact = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val approx = Seq((1L, 20L, 1), (1L, 99L, 2), (1L, 10L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val r = SimilarityOps.gradedRetrievalEval(approx, exact, k = 3).collect()(0)
    val w = SimilarityOps.dcgWeightNanos(3) // 1e9, 1e9/log2(3), 5e8
    assert(w(0) === 1000000000L && w(2) === 500000000L)
    val dcg9 = 2L * w(0) + 0L * w(1) + 3L * w(2) // 3.5e9
    assert(r.getLong(1) === 2L)                  // n_hits: 20 and 10
    assert(r.getDouble(2) === 3.5)               // dcg
    val ndcg = dcg9 / SimilarityOps.idcgNanos(3).toDouble
    assert(math.abs(r.getDouble(3) - ndcg) < 1e-6)
    assert(r.getDouble(4) === 1.0)               // first system hit at rank 1
    // perfect list: ndcg = 1 exactly, mrr = 1
    val perfect = SimilarityOps.gradedRetrievalEval(exact, exact, k = 3).collect()(0)
    assert(perfect.getDouble(3) === 1.0 && perfect.getDouble(4) === 1.0)
  }

  test("matryoshkaRecall: a prefix-flipped neighbor defeats truncated dims but not full") {
    val emb = Seq(
      (0L, Array(1f, 0f, 1f, 0f)),       // query
      (1L, Array(0.9f, 0.1f, 1f, 0f)),   // full-dim nearest
      (2L, Array(1f, 0f, -0.9f, 0f))     // wins on the first-2 prefix only
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.matryoshkaRecall(emb, dims = Seq(2, 4), k = 1, nQueries = 1)
      .collect().map(r => r.getInt(0) -> r.getDouble(4)).toMap
    assert(got(2) === 0.0) // trunc top-1 is vec 2; truth top-1 is vec 1
    assert(got(4) === 1.0) // full-width slice reproduces the truth exactly
  }

  test("hardNegatives: same-label neighbors are excluded even when identical, rank by similarity") {
    val emb = Seq(
      (0L, Array(1f, 0f), 0),  // query (vec_id < 1)
      (1L, Array(1f, 0f), 0),  // identical but SAME label → excluded
      (2L, Array(0.9f, 0.1f), 1),
      (3L, Array(0f, 1f), 1),
      (4L, Array(0.8f, 0.2f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.hardNegatives(emb, m = 2, nQueries = 1).collect()
      .map(r => (r.getLong(2), r.getInt(3), r.getInt(5))).sortBy(_._3)
    // top-2 wrong-label: 2 (cos≈0.994) then 4 (cos≈0.970); 1 never appears
    assert(got.toSeq === Seq((2L, 1, 1), (4L, 2, 2)))
  }

  test("labelNoiseScan: kNN consensus flags the mislabeled vector, self excluded") {
    def frame(qLabel: Int) = Seq(
      (0L, Array(1f, 0f), qLabel),
      (1L, Array(1f, 0.01f), 0), (2L, Array(1f, -0.01f), 0), // near, label 0
      (3L, Array(0.99f, 0f), 1),                             // near, label 1
      (4L, Array(0f, 1f), 5)                                 // far, never in top-3
    ).toDF("vec_id", "embedding", "label")
    val ok = SimilarityOps.labelNoiseScan(frame(0), k = 3, nQueries = 1).collect()(0)
    assert((ok.getLong(2), ok.getDouble(3), ok.getBoolean(4)) === ((2L, 0.666667, false)))
    val bad = SimilarityOps.labelNoiseScan(frame(9), k = 3, nQueries = 1).collect()(0)
    assert((bad.getLong(2), bad.getDouble(3), bad.getBoolean(4)) === ((0L, 0.0, true)))
  }

  test("ivfBalance: per-cell load factors, a never-winning duplicate centroid reports empty") {
    // init cells from ids 0,1,2: cells 0 and 2 start identical; ties
    // assign to the LOWER cell, so cell 2 ends empty but still reports
    val emb = Seq(
      (0L, Array(10f, 0f)), (1L, Array(0f, 10f)), (2L, Array(10f, 0f)),
      (3L, Array(10f, 0f)), (4L, Array(0f, 10f))
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.ivfBalance(emb, k = 3, iters = 2).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got(0) === ((3L, 0.6, 1.8)))
    assert(got(1) === ((2L, 0.4, 1.2)))
    assert(got(2) === ((0L, 0.0, 0.0)))
  }

  test("clusterLabelEval: perfectly label-aligned clusters give purity 1 and NMI 1") {
    val rows =
      Seq((0L, Array(10f, 0f), 7), (1L, Array(0f, 10f), 9),
        (2L, Array(9f, 1f), 7), (3L, Array(1f, 9f), 9))
    val r = SimilarityOps.clusterLabelEval(rows.toDF("vec_id", "embedding", "label"),
      k = 2, iters = 3).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((4L, 2L, 2L)))
    assert(r.getDouble(3) === 1.0 && r.getDouble(4) === 1.0)
    // scrambled labels (each cluster an even label split): purity 0.5, NMI 0
    val bad = Seq((0L, Array(10f, 0f), 7), (1L, Array(0f, 10f), 9),
      (2L, Array(9f, 1f), 9), (3L, Array(1f, 9f), 7))
    val b = SimilarityOps.clusterLabelEval(bad.toDF("vec_id", "embedding", "label"),
      k = 2, iters = 3).collect()(0)
    assert(b.getDouble(3) === 0.5 && b.getDouble(4) === 0.0)
  }

  test("silhouetteReport: hand-computed simplified silhouette on two tight line clusters") {
    // Lloyd lands on centroids (0.5,0) and (10.5,0); for (0,0):
    // a = 0.25, b = 110.25 → s = 110/110.25 = 0.997732; for (1,0):
    // a = 0.25, b = 90.25 → s = 0.997230; cluster mean = (997732 +
    // 997230)/2/1e6 = 0.997481 — cluster1 mirrors it exactly.
    val rows = Seq((0L, Array(0f, 0f)), (1L, Array(1f, 0f)),
      (2L, Array(10f, 0f)), (3L, Array(11f, 0f)))
    val got = SimilarityOps.silhouetteReport(rows.toDF("vec_id", "embedding"),
      k = 2, iters = 3).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === Map(0 -> ((2L, 0.997481)), 1 -> ((2L, 0.997481))))
    // k = 1 has no "other centroid" — b is undefined; refused up front
    assertThrows[IllegalArgumentException] {
      SimilarityOps.silhouetteReport(rows.toDF("vec_id", "embedding"), k = 1)
    }
  }

  test("kmeansTrain: the trained state serves every consumer exactly as self-training") {
    val rows = Seq(
      (0L, Array(1f, 0f), 7), (1L, Array(0.99f, 0.01f), 7),
      (2L, Array(0.98f, 0.02f), 7), (3L, Array(0f, 1f), 9),
      (4L, Array(0.01f, 0.99f), 9), (5L, Array(0.02f, 0.98f), 9),
      (6L, Array(0.7f, 0.7f), 7), (7L, null.asInstanceOf[Array[Float]], 3))
    val emb = rows.toDF("vec_id", "embedding", "label")
    // the shared state: ivfTrain's centroids (lowest-id init, 4dp means)
    val st = SimilarityOps.KmeansState(2, 2, SimilarityOps.ivfTrain(emb, kCells = 2, iters = 2))
    assert(st.k === 2 && st.centroids.length === 2 && st.centroids.forall(_.length == 2))
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(sorted(SimilarityOps.semDedup(emb, st, 0.4, "vec_id", "embedding")) ===
      sorted(SimilarityOps.semDedup(emb, k = 2, iters = 2, threshold = 0.4)))
    assert(sorted(SimilarityOps.semanticLayout(emb, st, 42L, "vec_id", "embedding")) ===
      sorted(SimilarityOps.semanticLayout(emb, k = 2, iters = 2, seed = 42)))
    assert(sorted(SimilarityOps.silhouetteReport(emb, st, "vec_id", "embedding")) ===
      sorted(SimilarityOps.silhouetteReport(emb, k = 2, iters = 2)))
    assert(sorted(SimilarityOps.clusterLabelEval(emb, st, "vec_id", "embedding", "label")) ===
      sorted(SimilarityOps.clusterLabelEval(emb, k = 2, iters = 2)))
  }

  test("clusterServeReport: the composed train-once plan matches the three consumers run separately") {
    val rows = Seq(
      (0L, Array(1f, 0f), 7), (1L, Array(0.99f, 0.01f), 7),
      (2L, Array(0.98f, 0.02f), 7), (3L, Array(0f, 1f), 9),
      (4L, Array(0.01f, 0.99f), 9), (5L, Array(0.02f, 0.98f), 9))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.clusterServeReport(emb, k = 2, iters = 2,
      threshold = 0.4, seed = 42).collect().map(_.toString).sorted.toSeq
    val ded = SimilarityOps.semDedup(emb, k = 2, iters = 2, threshold = 0.4)
    val lay = SimilarityOps.semanticLayout(emb, k = 2, iters = 2, seed = 42)
    val sil = SimilarityOps.silhouetteReport(emb, k = 2, iters = 2)
    val want = ded.join(lay.select(col("vec_id"), col("pos")), Seq("vec_id"))
      .join(sil.select(col("cell"), col("mean_sil")), Seq("cell"))
      .select(col("vec_id"), col("cell"), col("pos"), col("dropped"), col("mean_sil"))
      .collect().map(_.toString).sorted.toSeq
    assert(got === want)
    // the composed report marks the near-dup losers (ids 1,2 and 4,5
    // trail their cluster's lowest id at cosine ≈ 1)
    val dropped = SimilarityOps.clusterServeReport(emb, k = 2, iters = 2)
      .filter(col("dropped")).collect().map(_.getLong(0)).sorted.toSeq
    assert(dropped === Seq(1L, 2L, 4L, 5L))
  }

  test("ivfRefresh: stable drift keeps yesterday's cells, a rotated source retrains, " +
    "no comparable source refreshes conservatively") {
    val docs = (0L to 7L).map(i => (i, if (i < 4) "alpha" else "beta"))
      .toDF("doc_id", "source")
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    // alpha near +x, beta near +y in BOTH snapshots: drift ≈ 1 → stable
    val embStable = (0L to 7L).map { i =>
      if (i < 4) (i, Array(1f + 0.01f * i, 0f)) else (i, Array(0f, 1f + 0.01f * i))
    }.toDF("vec_id", "embedding")
    val stable = SimilarityOps.ivfRefresh(a, b, embStable, minDriftCos = 0.9,
      kCells = 2, iters = 2, dims = 2).collect()
    assert(stable.length === 4 && stable.forall(!_.getBoolean(2)),
      s"stable snapshots must keep the old cells: ${stable.mkString(",")}")
    // beta's content rotates +y → +x between snapshots: drift ≈ 0 → retrain
    val embRot = (0L to 7L).map { i =>
      if (i < 4) (i, Array(1f + 0.01f * i, 0f))
      else if (i % 2 == 0) (i, Array(0f, 1f + 0.01f * i))
      else (i, Array(1f + 0.01f * i, 0.05f))
    }.toDF("vec_id", "embedding")
    val drifted = SimilarityOps.ivfRefresh(a, b, embRot, minDriftCos = 0.9,
      kCells = 2, iters = 2, dims = 2).collect()
    assert(drifted.length === 4 && drifted.forall(_.getBoolean(2)),
      s"a rotated source must force the refresh: ${drifted.mkString(",")}")
    // snapshots with NO shared source: nothing says the old cells still
    // describe anything — refresh, don't silently serve them
    val disjoint = SimilarityOps.ivfRefresh(
      docs.filter(col("source") === "alpha"), docs.filter(col("source") === "beta"),
      embStable, minDriftCos = 0.9, kCells = 2, iters = 2, dims = 2).collect()
    assert(disjoint.length === 4 && disjoint.forall(_.getBoolean(2)))
  }

  test("ivfRefreshPartial: ONLY the rotated source refreshes; A-unseen sources refresh; " +
    "all-stable routes everything through yesterday's cells") {
    // alpha stable (+x in both snapshots), beta rotates (+y in its A
    // ids, +x in its B ids), gamma exists ONLY in snapshot B
    val docs = (0L to 11L).map { i =>
      (i, if (i < 4) "alpha" else if (i < 8) "beta" else "gamma")
    }.toDF("doc_id", "source")
    val a = docs.filter(col("doc_id") % 2 === 0 && col("source") =!= "gamma")
    val b = docs.filter(col("doc_id") % 2 === 1)
    val emb = (0L to 11L).map { i =>
      if (i < 4) (i, Array(1f + 0.01f * i, 0f))
      else if (i < 8 && i % 2 == 0) (i, Array(0f, 1f + 0.01f * i))
      else if (i < 8) (i, Array(1f + 0.01f * i, 0.05f))
      else (i, Array(0.5f + 0.01f * i, 0.5f))
    }.toDF("vec_id", "embedding")
    val got = SimilarityOps.ivfRefreshPartial(a, b, emb, minDriftCos = 0.9,
      kCells = 2, iters = 2, dims = 2).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(3)))).toMap
    assert(got.keySet === Set(1L, 3L, 5L, 7L, 9L, 11L))
    assert(got(1L) === (("alpha", false)) && got(3L) === (("alpha", false)),
      "the stable source must keep yesterday's cells")
    assert(got(5L) === (("beta", true)) && got(7L) === (("beta", true)),
      "the rotated source must refresh")
    assert(got(9L) === (("gamma", true)) && got(11L) === (("gamma", true)),
      "a source with no snapshot-A counterpart must refresh, not inherit")
    // all-stable: both compared sources hold their axes -> zero
    // refreshed rows (the map-only re-route, no B Lloyd at all)
    val embStable = (0L to 7L).map { i =>
      if (i < 4) (i, Array(1f + 0.01f * i, 0f)) else (i, Array(0f, 1f + 0.01f * i))
    }.toDF("vec_id", "embedding")
    val ab = docs.filter(col("source") =!= "gamma")
    val allStable = SimilarityOps.ivfRefreshPartial(
      ab.filter(col("doc_id") % 2 === 0), ab.filter(col("doc_id") % 2 === 1),
      embStable, minDriftCos = 0.9, kCells = 2, iters = 2, dims = 2).collect()
    assert(allStable.length === 4 && allStable.forall(!_.getBoolean(3)))
    // state-serve ≡ self-train (the trained-state handoff discipline):
    // handing in yesterday's ivfTrain codebook reproduces the
    // self-training form row for row on the mixed-drift fixture
    val stateA = SimilarityOps.ivfTrain(
      emb.join(a.select(col("doc_id").as("vec_id")), Seq("vec_id")),
      kCells = 2, iters = 2)
    val served = SimilarityOps.ivfRefreshPartial(a, b, emb, stateA,
      minDriftCos = 0.9, kCells = 2, iters = 2, dims = 2,
      docIdCol = "doc_id", vecIdCol = "vec_id", srcCol = "source",
      vecCol = "embedding").collect().map(_.toString).sorted.toSeq
    val selfTrained = SimilarityOps.ivfRefreshPartial(a, b, emb, minDriftCos = 0.9,
      kCells = 2, iters = 2, dims = 2).collect().map(_.toString).sorted.toSeq
    assert(served === selfTrained)
  }

  test("removeTopComponent: mean and dominant axis removed, centered minor axis survives") {
    // mean (2,0); centered (-1,0),(1,0),(0,2),(0,-2); cov diag(0.5,2)
    // → the top direction converges to the y axis (x-residual decays
    // (0.5/2)^iters), so y-components vanish and centered x survives.
    val rows = Seq((0L, Array(1f, 0f)), (1L, Array(3f, 0f)),
      (2L, Array(2f, 2f)), (3L, Array(2f, -2f)))
    val got = SimilarityOps.removeTopComponent(rows.toDF("vec_id", "embedding"), dims = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size === 8)
    assert(math.abs(got((0L, 1)) + 1.0) < 5e-3)
    assert(math.abs(got((1L, 1)) - 1.0) < 5e-3)
    assert(math.abs(got((2L, 2))) < 5e-3)
    assert(math.abs(got((3L, 2))) < 5e-3)
  }

  test("isotropyReport: anisotropic corpus scores near 1 raw, near 0 after the transform") {
    // every vector points almost exactly along +x → unit vectors nearly
    // agree (mean pairwise cosine ≈ 1); removing mean + top component
    // leaves the small ±y residuals, which point in OPPOSITE directions
    val rows = Seq((0L, Array(10f, 1f)), (1L, Array(10f, -1f)),
      (2L, Array(11f, 0.5f)), (3L, Array(9f, -0.5f)))
    val r = SimilarityOps.isotropyReport(rows.toDF("vec_id", "embedding"), dims = 2)
      .collect()(0)
    assert((r.getLong(0), r.getLong(2)) === ((4L, 4L)))
    assert(r.getDouble(1) > 0.9)  // raw: strongly anisotropic
    assert(r.getDouble(3) < 0.2)  // post: flattened
  }

  test("lshParamSweep: square banding wins at the matched threshold; extremes trade fn for fp") {
    val got = DedupOps.lshParamSweep(spark).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got.size === 5) // the divisor factorizations of 16
    val best = got.minBy(_._2._3)._1
    assert(best === ((4, 4))) // the production minHashCandidates config
    // b=16,r=1 catches nearly everything (tiny fn, huge fp); b=1,r=16 inverts
    assert(got((16, 1))._1 < got((1, 16))._1)
    assert(got((16, 1))._2 > got((1, 16))._2)
  }

  test("kCenterGreedy: hand-computed farthest-point order and radii on a line") {
    // x = 0,1,4,9,16 (ids 0..4): start id0; farthest is 16 (d=256);
    // then min-dists are [1,16,49] → id3 at 49; then [1,16] → id2.
    val rows = Seq((0L, Array(0f, 0f)), (1L, Array(1f, 0f)), (2L, Array(4f, 0f)),
      (3L, Array(9f, 0f)), (4L, Array(16f, 0f)))
    val got = SimilarityOps.kCenterGreedy(rows.toDF("vec_id", "embedding"), k = 4, dims = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((0, 0L, 0.0), (1, 4L, 256.0), (2, 3L, 49.0), (3, 2L, 16.0)))
  }

  test("invariants on a pseudo-random corpus: k-center radii non-increasing, silhouette in [-1,1]") {
    // deterministic LCG corpus — 60 vectors in 4 dims
    def lcg(s: Long): Long = (s * 6364136223846793005L + 1442695040888963407L)
    val rows = (0 until 60).map { i =>
      val vs = (0 until 4).map { d =>
        ((lcg(i * 7 + d).toDouble / Long.MaxValue) * 5).toFloat
      }.toArray
      (i.toLong, vs)
    }
    val df = rows.toDF("vec_id", "embedding")
    // adding a center can only shrink every point's min-distance, so
    // the max-min radius is non-increasing after round 1
    val radii = SimilarityOps.kCenterGreedy(df, k = 6, dims = 4)
      .orderBy("sel_round").collect().map(_.getDouble(2)).drop(1)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a })
    val sil = SimilarityOps.silhouetteReport(df, k = 3, iters = 2)
      .collect().map(_.getDouble(2))
    assert(sil.forall(s => s >= -1.0 && s <= 1.0))
  }

  test("kCenterGreedy edge cases: empty corpus refused; selection stops at radius 0") {
    // empty after the null/dims filter → loud require, not an AIOOBE
    val empty = Seq((0L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      SimilarityOps.kCenterGreedy(empty, k = 2, dims = 2)
    }
    assert(ex.getMessage.contains("no rows"))
    // 2 distinct points, k=4: once both are chosen the covering radius
    // is 0 — selection stops instead of emitting duplicate centers
    val two = Seq((0L, Array(0f, 0f)), (1L, Array(3f, 4f)), (2L, Array(0f, 0f)))
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.kCenterGreedy(two, k = 4, dims = 2)
      .orderBy("sel_round").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((0, 0L, 0.0), (1, 1L, 25.0)))
  }

  test("abttGated: one trained trace serves the gate; transform when anisotropic, identity when isotropic") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // anisotropic: every vector near one axis → cos_raw ≈ 1 → the
    // gated pipeline must emit exactly removeTopComponent's rows
    val aniso = (0 until 40).map(i =>
      (i.toLong, Array(1f + i * 0.01f, 0.001f * (i % 3)))).toDF("vec_id", "embedding")
    assert(rows(SimilarityOps.abttGated(aniso, dims = 2)) ===
      rows(SimilarityOps.removeTopComponent(aniso, dims = 2)))
    // isotropic by construction: ± pairs cancel → Σu = 0 → cos_raw = 0
    // → identity branch, values = the 6dp-banked inputs
    val base = (0 until 10).map(i => Array(1f + i * 0.1f, 2f - i * 0.3f))
    val iso = base.zipWithIndex.flatMap { case (v, i) =>
      Seq((2L * i, v), (2L * i + 1, v.map(-_)))
    }.toDF("vec_id", "embedding")
    val got = rows(SimilarityOps.abttGated(iso, dims = 2))
    val want = iso.collect().flatMap { r =>
      val id = r.getLong(0)
      r.getSeq[Float](1).zipWithIndex.map { case (x, d) =>
        (id, d + 1) -> math.round(math.round(x.toDouble * 1e6).toDouble) / 1e6
      }
    }.toMap
    assert(got === want)
    // the state-based serve is byte-identical to the self-training form
    val st = SimilarityOps.pcaTrain(aniso, dims = 2)
    assert(rows(SimilarityOps.removeTopComponent(aniso, st, "vec_id", "embedding")) ===
      rows(SimilarityOps.removeTopComponent(aniso, dims = 2)))
  }
}
