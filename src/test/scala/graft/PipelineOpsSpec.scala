package graft

import graft.ops.{DedupOps, SampleOps, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit semantics of the tokenizer-training and decontamination
  * operators: hand-checked BPE pair weights; contamination rates for
  * identical, partially-overlapping and disjoint documents.
  */
class PipelineOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("bpeMergePairs weights adjacent char pairs by word frequency") {
    // corpus: "low low lower" → words: low x2, lower x1
    // pairs: lo(2+1)=3, ow(2+1)=3, we(1), er(1)
    val docs = Seq((1L, "low low"), (2L, "lower")).toDF("doc_id", "text")
    val got = TextOps.bpeMergePairs(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("lo" -> 3L, "ow" -> 3L, "we" -> 1L, "er" -> 1L))
  }

  test("bpeMergePairs ignores single-char words and respects topK with tie-break") {
    val docs = Seq((1L, "a a a ab ba")).toDF("doc_id", "text")
    val got = TextOps.bpeMergePairs(docs, topK = 1).collect()
    // pairs: ab(1), ba(1) — tie broken by pair asc → "ab"
    assert(got.length === 1 && got(0).getString(0) === "ab" && got(0).getLong(1) === 1L)
  }

  test("bpeTrain: hand-checked merge sequence, later rounds see merged symbols, exhaustion stops early") {
    // corpus: aaa ×2, ab ×1.
    // w0: ' a a a '(2), ' a b '(1) → 'a a' weight 4 (two positions × freq 2)
    // merge ' a a '→' aa ' is leftmost non-overlapping: ' a a a ' → ' aa a '
    // round 2: 'aa a' weight 2 (the MERGED symbol pairs — what q62 alone
    // can never produce); round 3: 'a b' weight 1; round 4: no pairs left
    val docs = Seq((1L, "aaa aaa ab")).toDF("doc_id", "text")
    val got = TextOps.bpeTrain(docs, merges = 6).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq((1, "a a", 4L), (2, "aa a", 2L), (3, "a b", 1L)),
      s"merge table mismatch: $got")
  }

  test("pqEncode: copies share codes, codes bounded, recon_err nonnegative; ADC ranks same-code vectors first") {
    import graft.ops.SimilarityOps
    val base = (0 until 8).map(i => (0 until 16).map(d => ((i * 7 + d) % 13).toFloat).toArray)
    val rows = for (c <- 0 until 3; i <- 0 until 8) yield (c * 100L + i, base(i))
    val emb = rows.toDF("vec_id", "embedding")
    val books = SimilarityOps.pqTrain(emb, m = 2, subDim = 8, k = 4, iters = 2)
    assert(books.length == 2 && books.forall(_.length == 4))
    val enc = SimilarityOps.pqEncode(emb, books, subDim = 8).collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getDouble(2)))).toMap
    (0 until 8).foreach { i =>
      // byte-identical copies must quantize identically
      assert(enc(i.toLong)._1 == enc(100L + i)._1 && enc(i.toLong)._1 == enc(200L + i)._1)
    }
    assert(enc.values.forall { case (codes, err) =>
      codes.size == 2 && codes.forall(c => c >= 0 && c < 4) && err >= 0.0
    })
    val top1 = SimilarityOps.pqAdcTopK(emb.filter(col("vec_id") < 8), emb, books,
        k = 1, subDim = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 8).foreach { i =>
      // the nearest ADC neighbor must sit in the query's own code cell —
      // ADC distance is a pure function of the codes
      assert(enc(top1(i.toLong))._1 == enc(i.toLong)._1,
        s"query $i top-1 ${top1(i.toLong)} not in its code cell")
    }
    // long form carries the SAME codes, one row per (vector, subspace),
    // and its per-subspace errors sum back to the array form's total
    val long = SimilarityOps.pqEncodeLong(emb, books, subDim = 8).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        val bySub = rs.sortBy(_.getInt(1))
        id -> ((bySub.map(_.getInt(2)).toSeq, bySub.map(_.getDouble(3)).sum))
      }
    assert(long.keySet == enc.keySet)
    long.foreach { case (id, (codes, errSum)) =>
      assert(codes.size == 2 && codes == enc(id)._1,
        s"long-form codes for $id diverge from array form")
      assert(math.abs(BigDecimal(errSum).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble - enc(id)._2) < 1e-9,
        s"sum(sub_err) for $id != recon_err")
    }
  }

  test("ivfPqTopK: byte-identical copies share a cell and score identical ADC distances") {
    import graft.ops.SimilarityOps
    val base = (0 until 8).map(i => (0 until 16).map(d => ((i * 7 + d) % 13).toFloat).toArray)
    val rows = for (c <- 0 until 3; i <- 0 until 8) yield (c * 100L + i, base(i))
    val emb = rows.toDF("vec_id", "embedding")
    val out = SimilarityOps.ivfPqTopK(emb.filter(col("vec_id") < 8), emb,
        k = 24, nprobe = 2, kCells = 2, coarseIters = 2, m = 2, subDim = 8,
        kCodes = 4, pqIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    (0 until 8).foreach { i =>
      // identical vectors quantize to the same (cell, codes), and ADC
      // distance is a pure function of the codes — both copies must be
      // returned (they share the probe's own cell) at the same distance
      val d1 = out.get((i.toLong, 100L + i))
      val d2 = out.get((i.toLong, 200L + i))
      assert(d1.isDefined && d2.isDefined, s"copies of $i missing from probed cells: $out")
      assert(d1 == d2, s"copies of $i scored differently: $d1 vs $d2")
    }
    // determinism: a second run returns the identical result set
    val again = SimilarityOps.ivfPqTopK(emb.filter(col("vec_id") < 8), emb,
        k = 24, nprobe = 2, kCells = 2, coarseIters = 2, m = 2, subDim = 8,
        kCodes = 4, pqIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(again == out)
  }

  test("bpeTrain step 1 equals bpeMergePairs' top pair (q62 consistency)") {
    val docs = Seq((1L, "low low lower widest widest widest")).toDF("doc_id", "text")
    val first = TextOps.bpeTrain(docs, merges = 1).collect()(0)
    val q62top = TextOps.bpeMergePairs(docs, topK = 1).collect()(0)
    // bpeTrain formats the pair space-separated; at round 1 all symbols
    // are single chars, so de-spacing must reproduce q62's 2-char pair
    assert(first.getString(1).replace(" ", "") === q62top.getString(0))
    assert(first.getLong(2) === q62top.getLong(1))
  }

  test("evalGramOverlap: identical doc fully contaminated, disjoint doc clean") {
    val evalDocs = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),   // identical → rate 1.0
      (2L, "zzz yyy xxx www vvv uuu completely different"),  // disjoint → 0.0
      (3L, "the quick brown fox went home early today ok")   // partial overlap
    ).toDF("doc_id", "text")
    val got = DedupOps.evalGramOverlap(train, evalDocs).orderBy("doc_id").collect()
    assert(got(0).getDouble(3) === 1.0 && got(0).getBoolean(4))
    assert(got(1).getLong(2) === 0L && got(1).getDouble(3) === 0.0 && !got(1).getBoolean(4))
    val partial = got(2)
    assert(partial.getLong(2) > 0 && partial.getDouble(3) > 0.0 && partial.getDouble(3) < 1.0)
    // hit grams can never exceed the doc's gram count
    got.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("kmeans recovers well-separated cluster means and is deterministic") {
    import graft.ops.SimilarityOps
    // two tight clusters in 4-d; ids interleaved so init picks one seed
    // from each cluster (ids 0 and 1)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(10f, 10f, 0f, 0f) else Array(-10f, 0f, 5f, 1f)
      val jit = (i / 2) % 3 * 0.01f
      (i.toLong, base.map(_ + jit).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val got = SimilarityOps.kmeans(emb, k = 2, iters = 2)
    val cents = got.collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(cents.size === 2 * 4)
    // expected: per-cluster per-dim mean of the same widened floats
    def rnd4(v: Double) = math.signum(v) * { val f = math.abs(v) * 10000 + 0.5; (f - f % 1.0) } / 10000
    def mean(cluster: Int, dim: Int) = rnd4(
      rows.filter(_._1 % 2 == cluster).map(_._2(dim - 1).toDouble).sum / 20.0)
    for (cl <- 0 to 1; d <- 1 to 4)
      assert(math.abs(cents((cl, d)) - mean(cl, d)) < 1e-9, s"cell $cl dim $d")
    // deterministic re-run
    val again = SimilarityOps.kmeans(emb, k = 2, iters = 2)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(again === cents)
  }

  test("kmeans keeps an empty cell's previous centroid (tie-break empties cell 1)") {
    import graft.ops.SimilarityOps
    // seeds: ids 0 and 1 carry IDENTICAL vectors → every point's
    // distances to cell 0 and cell 1 tie exactly, the lowest-cell
    // tie-break sends ALL points to cell 0, and cell 1 is empty from
    // the first iteration on — exercising the carry-over branch (the
    // clone default in Spark, the NOT IN union in the oracle)
    val pts = Seq((0L, Seq(5f, 5f)), (1L, Seq(5f, 5f))) ++
      (2L until 12L).map(i => (i, Seq(1f, 1f)))
    val emb = pts.toDF("vec_id", "embedding")
    val got = SimilarityOps.kmeans(emb, k = 2, iters = 3).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    // cell 1 never receives a point: its centroid stays at the seed
    assert(got((1, 1)) === 5.0 && got((1, 2)) === 5.0)
    // cell 0 converges to the mass: all 12 points after iter 1 regroup;
    // iteration 2+ assigns everything to cell 0's updated centroid
    assert(got((0, 1)) < 5.0)
  }

  test("kmeans excludes null vectors instead of crashing") {
    import graft.ops.SimilarityOps
    val pts = Seq((0L, Some(Seq(1f, 1f))), (1L, Some(Seq(9f, 9f))),
      (2L, None: Option[Seq[Float]]), (3L, Some(Seq(1.2f, 1.2f))))
    val emb = pts.toDF("vec_id", "embedding")
    val got = SimilarityOps.kmeans(emb, k = 2, iters = 2).collect()
    assert(got.length === 2 * 2) // still k x dims rows, no NPE
  }

  test("evalGramOverlap counts distinct gram hits (repeats in eval don't double-count)") {
    // eval contains the same gram content twice under two ids
    val evalDocs = Seq((100L, "abcdefgh"), (101L, "abcdefgh")).toDF("doc_id", "text")
    val train = Seq((1L, "abcdefgh")).toDF("doc_id", "text")
    val got = DedupOps.evalGramOverlap(train, evalDocs).collect()
    assert(got.length === 1)
    assert(got(0).getLong(1) === 1L && got(0).getLong(2) === 1L) // one 8-gram, one hit
  }

  test("unigramLogProb: uniform corpus scores every doc log2(vocab)") {
    // 4 tokens, each appearing once → p = 1/4, surprisal = 2 bits
    val docs = Seq((1L, "aa bb"), (2L, "cc dd")).toDF("doc_id", "text")
    val got = TextOps.unigramLogProb(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((1L, 2L, 2.0), (2L, 2L, 2.0)))
  }

  test("unigramLogProb: rarer tokens raise the doc score; null text drops out") {
    // corpus: "x" x3, "y" x1 → p(x)=0.75 (0.415 bits), p(y)=0.25 (2 bits)
    val docs = Seq((1L, Some("x x x")), (2L, Some("y")), (3L, None))
      .toDF("doc_id", "text")
    val got = TextOps.unigramLogProb(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got.keySet === Set(1L, 2L)) // null-text doc has no tokens
    assert(got(2L) > got(1L))
    assert(math.abs(got(2L) - 2.0) < 1e-9)
  }

  test("mixtureWeights: t=1 is proportional, t=0 is uniform, weights sum to 1") {
    val sizes = Seq(("a", 900L), ("b", 100L)).toDF("source", "n")
    def weights(t: Double): Map[String, Double] =
      SampleOps.mixtureWeights(sizes, "n", t).collect()
        .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val prop = weights(1.0)
    assert(math.abs(prop("a") - 0.9) < 1e-12 && math.abs(prop("b") - 0.1) < 1e-12)
    val flat = weights(0.0)
    assert(math.abs(flat("a") - 0.5) < 1e-12 && math.abs(flat("b") - 0.5) < 1e-12)
    val t7 = weights(0.7)
    assert(t7("a") < 0.9 && t7("b") > 0.1) // temperature < 1 up-weights small sources
    assert(math.abs(t7.values.sum - 1.0) < 1e-12)
  }

  test("bigramLogProb: MLE conditional surprisal, hand-checked") {
    // bigrams: "a b" x2, "a c" x1 → c1(a)=3; p(b|a)=2/3, p(c|a)=1/3
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "solo"))
      .toDF("doc_id", "text")
    val got = TextOps.bigramLogProb(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r4(v: Double) = math.round(v * 10000).toDouble / 10000
    def r6(v: Double) = math.round(v * 1000000).toDouble / 1000000
    assert(got.keySet === Set(1L, 2L, 3L)) // "solo" has no bigram
    assert(got(1L) === ((1L, r4(r6(-math.log(2.0 / 3.0) / math.log(2))))))
    assert(got(3L) === ((1L, r4(r6(-math.log(1.0 / 3.0) / math.log(2))))))
  }

  test("evalGramBloom: no false negatives vs exact overlap, bounded over-estimate") {
    val evalDocs = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "zzz yyy xxx www vvv uuu completely different"),
      (3L, "the quick brown fox went home early today ok")
    ).toDF("doc_id", "text")
    val exact = DedupOps.evalGramOverlap(train, evalDocs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val bloom = DedupOps.evalGramBloom(train, evalDocs, fpp = 0.001)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(bloom.keySet === exact.keySet)
    bloom.foreach { case (id, (nGrams, hits, rate)) =>
      val (exN, exHits, exRate) = exact(id)
      assert(nGrams === exN)
      assert(hits >= exHits, s"doc $id lost a contaminated gram (false negative)")
      assert(rate <= exRate + 0.1, s"doc $id over-estimates beyond the fpp envelope")
    }
    assert(bloom(1L)._3 === 1.0) // identical doc: every gram hits
  }

  test("SeededBloom.position replays the seededHash column expression bit-for-bit") {
    // the JVM md5-prefix parse must equal the conv(substr(md5(...)))
    // column idiom for every seed the filter uses — this is what makes
    // the q83 oracle's SQL replay of the bit layout exact
    import graft.ops.{SampleOps, SeededBloom}
    val codes = Seq(0L, 1L, 37L, 38L, 123456789L,
      math.pow(38, 8).toLong - 1, Long.MaxValue / 38)
    val m = 1L << 22
    val df = codes.toDF("code")
    (1 to 4).foreach { i =>
      val expected = df
        .select(pmod(SampleOps.seededHash(col("code"), 300L + i), lit(m)).as("p"))
        .as[Long].collect().toSeq
      val got = codes.map(c => SeededBloom.position(300L + i, c, m).toLong)
      assert(got === expected, s"seed ${300 + i}")
    }
  }

  test("evalGramBloomSeeded: no false negatives vs exact overlap, bounded over-estimate") {
    val evalDocs = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "zzz yyy xxx www vvv uuu completely different"),
      (3L, "the quick brown fox went home early today ok")
    ).toDF("doc_id", "text")
    val exact = DedupOps.evalGramOverlap(train, evalDocs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val bloom = DedupOps.evalGramBloomSeeded(train, evalDocs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(bloom.keySet === exact.keySet)
    bloom.foreach { case (id, (nGrams, hits, rate)) =>
      val (exN, exHits, exRate) = exact(id)
      assert(nGrams === exN)
      assert(hits >= exHits, s"doc $id lost a contaminated gram (false negative)")
      assert(rate <= exRate + 0.1, s"doc $id over-estimates beyond the fp envelope")
    }
    assert(bloom(1L)._3 === 1.0) // identical doc: every gram hits
  }

  test("semDedup drops the higher-id near-duplicate inside a cell, keeps dissimilar cell-mates") {
    import graft.ops.SimilarityOps
    // k=2 seeds = ids 0 and 1 (the two lowest): cell 0 forms around
    // (10,0), cell 1 around (-10,0). id 2 lands in cell 0 nearly
    // parallel to id 0 (cos ≈ 1 → dropped); id 3 lands in cell 1
    // nearly orthogonal to id 1 (cos ≈ 0.11 → kept). A null vector
    // row is excluded entirely.
    val emb = Seq(
      (0L, Seq(10f, 0f)), (1L, Seq(-10f, 0f)),
      (2L, Seq(10f, 0.05f)), (3L, Seq(-1f, -9f)),
      (4L, null.asInstanceOf[Seq[Float]])
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.semDedup(emb, k = 2, iters = 2, threshold = 0.4)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    assert(got.keySet === Set(0L, 1L, 2L, 3L))
    assert(got(0L)._1 === 0 && got(2L)._1 === 0) // same cell
    assert(got(1L)._1 === 1 && got(3L)._1 === 1)
    assert(got.filter(_._2._2).keySet === Set(2L)) // only the higher id of the near-pair drops
  }

  test("semDedupAdaptive: uniform corpus degenerates to the flat pass; skew refines oversized cells") {
    import graft.ops.SimilarityOps
    // deterministic 8-dim corpus: 60 spread vectors (no cell exceeds
    // 2 × targetCellRows=20 → no refinement) — result must equal flat
    // semDedup's (vec_id, cell, dropped) exactly, with subcell 0
    def v(seed: Long): Seq[Float] =
      (0 until 8).map(d => math.sin(seed * 7.0 + d * 3.1).toFloat * 10f)
    val uniform = (0L until 60L).map(i => (i, v(i))).toDF("vec_id", "embedding")
    val flat = SimilarityOps.semDedup(uniform, targetCellRows = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    val adaptive = SimilarityOps.semDedupAdaptive(uniform, targetCellRows = 20, oversizeFactor = 2)
    assert(adaptive.select("subcell").distinct().collect().map(_.getInt(0)).toSeq === Seq(0),
      "no oversized cell → no refinement")
    assert(adaptive.select("vec_id", "cell", "dropped")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet === flat)

    // skew: 150 near-identical vectors (one content cluster) + 50
    // spread. The flat pass concentrates the cluster in one cell far
    // above 2×20; the adaptive pass must re-cluster it so no refined
    // group exceeds the flat pass's worst cell
    val skewed = ((0L until 150L).map(i => (i, Seq.fill(8)(1f + i * 1e-5f))) ++
      (150L until 200L).map(i => (i, v(i)))).toDF("vec_id", "embedding")
    val flatMax = SimilarityOps.semDedup(skewed, targetCellRows = 20)
      .groupBy("cell").count().agg(max("count")).as[Long].head()
    val ref = SimilarityOps.semDedupAdaptive(skewed, targetCellRows = 20, oversizeFactor = 2)
    val refMax = ref.groupBy("cell", "subcell").count().agg(max("count")).as[Long].head()
    assert(flatMax > 2L * 20L, s"skew corpus must actually overflow a flat cell (got $flatMax)")
    assert(refMax < flatMax, s"refinement must shrink the worst cell: $refMax !< $flatMax")
    // dedup semantics survive refinement: the near-identical cluster
    // still collapses to (roughly) one keeper per refined group
    val keptInCluster = ref.filter(col("vec_id") < 150 && !col("dropped")).count()
    val groups = ref.filter(col("vec_id") < 150)
      .select("cell", "subcell").distinct().count()
    assert(keptInCluster === groups,
      "every refined group of the identical cluster keeps exactly its lowest id")
  }

  test("pqTrain's books equal kmeans run on each slice with the same k and iters") {
    import graft.ops.SimilarityOps
    val (m, subDim, k, iters) = (3, 8, 4, 3)
    val emb = (0L until 40L).map(i =>
      (i, (0 until m * subDim).map(d => (math.sin(i * 1.7 + d * 0.9) * 5).toFloat)))
      .toDF("vec_id", "embedding")
    val books = SimilarityOps.pqTrain(emb, m = m, subDim = subDim, k = k, iters = iters)
    assert(books.map(_.map(_.toSeq).toSeq).toSeq !=
      SimilarityOps.pqTrain(emb, m = m, subDim = subDim, k = k, iters = 0).map(_.map(_.toSeq).toSeq).toSeq,
      "the fixture must move the centroids off their init")
    (0 until m).foreach { s =>
      val sub = emb.select(col("vec_id"), slice(col("embedding"), s * subDim + 1, subDim).as("embedding"))
      val model = Array.fill(k, subDim)(Double.NaN)
      SimilarityOps.kmeans(sub, k, iters).collect()
        .foreach(r => model(r.getInt(0))(r.getInt(1) - 1) = r.getDouble(2))
      assert(books(s).map(_.toSeq).toSeq === model.map(_.toSeq).toSeq, s"subspace $s")
    }
  }

  test("pqTrain with m = 8 runs a pinned number of Spark jobs") {
    import graft.ops.SimilarityOps
    val emb = (0L until 64L).map(i => (i, (0 until 64).map(d => math.sin(i * 1.3 + d * 0.7).toFloat)))
      .toDF("vec_id", "embedding")
    val probe = new Dev.Probe(spark.sparkContext)
    val got = try probe.measure(SimilarityOps.pqTrain(emb, m = 8, subDim = 8, k = 4, iters = 2))
      finally probe.close()
    assert(got.jobs === 5L, got.toString)
  }

  test("semDedupAdaptive on the skewed corpus runs a pinned number of Spark jobs") {
    import graft.ops.SimilarityOps
    // the skewed corpus of the semDedupAdaptive test above: one
    // near-identical cluster of 150 and 50 spread vectors
    def v(seed: Long): Seq[Float] =
      (0 until 8).map(d => math.sin(seed * 7.0 + d * 3.1).toFloat * 10f)
    val skewed = ((0L until 150L).map(i => (i, Seq.fill(8)(1f + i * 1e-5f))) ++
      (150L until 200L).map(i => (i, v(i)))).toDF("vec_id", "embedding")
    val probe = new Dev.Probe(spark.sparkContext)
    val got = try probe.measure(
        SimilarityOps.semDedupAdaptive(skewed, targetCellRows = 20, oversizeFactor = 2).collect())
      finally probe.close()
    assert(got.jobs === 28L, got.toString)
  }

  test("recallAtK: exact-vs-exact is 1.0; approximate recall is bounded and consistent") {
    import graft.ops.SimilarityOps
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") < 5)
    val exact = SimilarityOps.bruteForceTopK(q, e, 10)
    val self = SimilarityOps.recallAtK(exact, exact).collect()
    assert(self.length === 5)
    assert(self.forall(_.getAs[Double]("recall") === 1.0), "exact vs exact must be 1.0")
    val rec = SimilarityOps.recallAtK(SimilarityOps.ivfTrainedTopK(q, e, k = 10), exact)
      .collect()
    assert(rec.length === 5)
    assert(rec.forall { r =>
      val h = r.getAs[Long]("hits"); val ke = r.getAs[Long]("k_exact")
      h >= 0 && h <= ke && math.abs(r.getAs[Double]("recall") - h.toDouble / ke) < 1e-6
    }, "hits within [0, k_exact] and recall = hits/k_exact")
  }

  test("ivfTrain + ivfAssign + ivfServeTopK reproduce ivfTrainedTopK row-for-row") {
    import graft.ops.SimilarityOps
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") < 5)
    val mono = SimilarityOps.ivfTrainedTopK(q, e, k = 10, nprobe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    val cents = SimilarityOps.ivfTrain(e)
    val split = SimilarityOps.ivfServeTopK(q, SimilarityOps.ivfAssign(e, cents), cents,
        k = 10, nprobe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    assert(mono.length == split.length && mono.sameElements(split),
      "split trained-state API must be the monolithic path, exactly")
  }

  test("semDedupK scales cell count with corpus size, floors at 8, caps at 65536") {
    import graft.ops.SimilarityOps.semDedupK
    assert(semDedupK(0) === 8)
    assert(semDedupK(500) === 8)                      // sf0.01 corpus: floor
    assert(semDedupK(8 * 4096) === 8)                 // exactly at the floor boundary
    assert(semDedupK(100 * 4096) === 100)             // linear past it
    assert(semDedupK(100 * 4096 + 1) === 101)         // ceil, not floor
    assert(semDedupK(1000L * 1000 * 1000) === 65536)  // literal-size cap
    assert(semDedupK(1000, targetCellRows = 10) === 100)
  }

  test("semDedup auto-k bounds within-cell pair work on a corpus a fixed k would overload") {
    import graft.ops.SimilarityOps
    // 120 spread-out vectors with targetCellRows=10 → k=12 cells; the
    // auto path must produce a valid dedup frame with cells in [0, k)
    val emb = (0 until 120).map { i =>
      val ang = 2 * math.Pi * i / 120.0
      (i.toLong, Seq(math.cos(ang).toFloat * 10, math.sin(ang).toFloat * 10))
    }.toDF("vec_id", "embedding")
    val got = SimilarityOps.semDedup(emb, iters = 2, threshold = 0.99, targetCellRows = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(got.length === 120, "every non-null vector gets a verdict")
    assert(got.map(_._2).max <= 11 && got.map(_._2).min >= 0)
    assert(got.map(_._2).distinct.length > 1, "corpus actually spreads over cells")
  }

  test("exactSubstrSpans: merges duplicated windows into maximal token spans") {
    // n=3 windows. Doc 1/2 share "a b c d e"; doc 1/5 share "p q r s".
    val docs = Seq(
      (1L, "a b c d e p q r s"),     // dup windows at 0,1,2 (abcde) and
                                     // 5,6 (pqrs): cde's interval [2,5)
                                     // TOUCHES pqr's [5,8) → one merged
                                     // span covering the whole doc
      (2L, "x a b c d e y z w v"),   // dup windows 1,2,3 → span [1,6): 5 of 10
      (3L, "m n o"),                 // unique single window → no spans
      (4L, "k l"),                   // < 3 tokens → no windows
      (5L, "p q r s t u p q r s")    // within-doc repeat: "p q r s" twice
    ).toDF("doc_id", "text")
    val got = TextOps.exactSubstrSpans(docs, n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got(1L) === ((9L, 1L, 9L, 9L, 1.0)))
    assert(got(2L) === ((10L, 1L, 5L, 5L, 0.5)))
    assert(got(3L) === ((3L, 0L, 0L, 0L, 0.0)))
    assert(got(4L) === ((2L, 0L, 0L, 0L, 0.0)))
    // doc 5: pqr/qrs duplicated (cross-doc AND the internal repeat) at
    // positions 0,1 and 6,7 → two spans of 4 tokens each
    assert(got(5L) === ((10L, 2L, 4L, 8L, 0.8)))
  }

  test("suffixArraySpans: exact longest duplicated run where island-merge over-approximates") {
    // same corpus as the exactSubstrSpans case above: doc 1's two
    // distinct duplicated substrings ("a b c d e" ← doc 2, "p q r s" ←
    // doc 5) ABUT, so the window-island screen reports max_span 9; the
    // suffix-array form must report the TRUE longest duplicated run, 5,
    // while agreeing on span count and covered mass
    val docs = Seq(
      (1L, "a b c d e p q r s"),
      (2L, "x a b c d e y z w v"),
      (3L, "m n o"),
      (4L, "k l"),
      (5L, "p q r s t u p q r s")
    ).toDF("doc_id", "text")
    val got = TextOps.suffixArraySpans(docs, n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got(1L) === ((9L, 1L, 5L, 9L, 1.0)), "true max run is 5, not the merged island 9")
    assert(got(2L) === ((10L, 1L, 5L, 5L, 0.5)))
    assert(got(3L) === ((3L, 0L, 0L, 0L, 0.0)))
    assert(got(4L) === ((2L, 0L, 0L, 0L, 0.0)))
    assert(got(5L) === ((10L, 2L, 4L, 8L, 0.8)))
    // the slice guard: the exact form refuses an over-budget partition
    val e = intercept[org.apache.spark.SparkException] {
      TextOps.suffixArraySpans(docs, n = 3, maxTokens = 10L).collect()
    }
    assert(e.getMessage.contains("slice-scale"))
  }

  test("suffixArray: distributed prefix doubling matches brute-force suffix order") {
    import graft.ops.SuffixArrayOps
    // covers: equal suffix content across docs (docs 2 and 7 — tie must
    // break by doc_id), prefix-of-another suffixes (shorter first), and
    // repeated tokens within a doc
    val corpus = Seq((1L, "b a"), (2L, "a b a"), (3L, "a"), (7L, "a b a"))
    val docs = corpus.toDF("doc_id", "text")
    val got = SuffixArrayOps.suffixArray(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    val suffixes = for {
      (d, text) <- corpus
      tk = "[a-z0-9_']+".r.findAllIn(text.toLowerCase).toVector
      p <- tk.indices
    } yield (tk.drop(p), d, p.toLong)
    val expected = suffixes.sortWith { case ((sa, da, pa), (sb, db, pb)) =>
      val n = math.min(sa.length, sb.length)
      var i = 0
      while (i < n && sa(i) == sb(i)) i += 1
      if (i < n) sa(i) < sb(i)
      else if (sa.length != sb.length) sa.length < sb.length
      else if (da != db) da < db
      else pa < pb
    }.zipWithIndex.map { case ((_, d, p), r) => (r.toLong, d, p) }
    assert(got === expected)
  }

  test("saSpans: the distributed SA form reproduces suffixArraySpans exactly") {
    import graft.ops.SuffixArrayOps
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    // the island corpus where the window screen over-approximates (the
    // distributed form must also report the TRUE longest run, 5 not 9)
    val docs = Seq(
      (1L, "a b c d e p q r s"),
      (2L, "x a b c d e y z w v"),
      (3L, "m n o"),
      (4L, "k l"),
      (5L, "p q r s t u p q r s")
    ).toDF("doc_id", "text")
    assert(rows(SuffixArrayOps.saSpans(docs, n = 3)) ===
      rows(TextOps.suffixArraySpans(docs, n = 3)))
    // and on real data: the q98/q114 slice
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val real = spark.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") < 120)
    assert(rows(SuffixArrayOps.saSpans(real)) === rows(TextOps.suffixArraySpans(real)))
  }

  test("dedupLinesWithinDoc: later repeats cut, first kept, cross-doc repeats untouched") {
    val docs = Seq(
      (1L, "alpha line\nbeta line\nalpha line\ngamma line\nbeta line"),
      (2L, "alpha line") // cross-doc repeat — the WITHIN rule must not touch it
    ).toDF("doc_id", "text")
    val got = TextOps.dedupLinesWithinDoc(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((5L, 2L, "alpha line\nbeta line\ngamma line")))
    assert(got(2L) === ((1L, 0L, "alpha line")))
  }

  test("crossNgramContamination: shared windows score, disjoint docs score zero") {
    val run = "a b c d e f g h" // 8 tokens = exactly one window
    val train = Seq((1L, s"x $run y"), (2L, "nothing in common here at all today ok")).toDF("doc_id", "text")
    val eval = Seq(
      (10L, run), // its one window is inside train doc 1
      (11L, "totally different words with no shared content at all")
    ).toDF("doc_id", "text")
    val got = TextOps.crossNgramContamination(train, eval)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(10L) === ((1L, 1L, 1.0)))
    assert(got(11L)._2 === 0L && got(11L)._3 === 0.0)
  }

  test("sq8: copies share codes, codes bounded, top-k ranks same-code copies first at equal dist") {
    import graft.ops.SimilarityOps
    val base = (0 until 8).map(i => (0 until 16).map(d => ((i * 7 + d) % 13).toFloat).toArray)
    val rows = for (c <- 0 until 3; i <- 0 until 8) yield (c * 100L + i, base(i))
    val emb = rows.toDF("vec_id", "embedding")
    val bounds = SimilarityOps.sqTrain(emb)
    assert(bounds.length === 16 && bounds.forall { case (lo, hi) => hi >= lo })
    val codes = SimilarityOps.sqEncode(emb, bounds).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(1)).map(_.getInt(2)).toSeq).toMap
    assert(codes(0L) === codes(100L) && codes(100L) === codes(200L), "copies must share codes")
    assert(codes.values.flatten.forall(c => c >= 0 && c <= 255))
    // identical codes decode identically → a query's two copies tie at
    // the query's own quantization distortion, and rank first
    val top = SimilarityOps.sqTopK(emb.filter(col("vec_id") === 0L), emb, bounds, k = 2)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(top.map(_._1).toSet === Set(100L, 200L), s"copies must rank first: ${top.toSeq}")
    assert(top(0)._2 === top(1)._2, "same codes → identical decoded point → identical distance")
  }

  test("embCrossAdmission: corpus matches reject, within-batch dups and novel vectors admit") {
    import graft.ops.SimilarityOps
    // the congruential family has only 13 distinct vectors (seed mod 13)
    // — novel/dup vectors must come from OUTSIDE it
    def vec(seed: Int) = (0 until 16).map(d => ((seed * 31 + d * 7) % 13 - 6).toFloat).toArray
    val ones = Array.fill(16)(1.0f)
    val alt = (0 until 16).map(d => if (d % 2 == 0) 1.0f else -1.0f).toArray
    val corpus = (0 until 12).map(i => (i * 2L, vec(i))).toDF("vec_id", "embedding")
    val fresh = Seq(
      (1L, vec(3)), // exact copy of corpus vec 6 → rejected at cos 1.0
      (5L, ones),   // novel direction → admitted
      (7L, alt), (9L, alt) // within-batch dup, absent from corpus → both judged on corpus alone
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.embCrossAdmission(fresh, corpus, threshold = 0.999, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.get(3)).map(_ => r.getDouble(3))))).toMap
    assert(got(1L)._1 && got(1L)._2.contains(1.0), s"exact corpus copy must be rejected: $got")
    assert(!got(5L)._1, s"novel vector must be admitted: $got")
    assert(!got(7L)._1 && !got(9L)._1,
      "a within-batch dup pair with no corpus match is the NEW-side's own business — both admitted")
  }

  test("leakageSafeSplit: near-dup clusters never straddle splits, singletons self-anchor") {
    val docs = (0L to 99L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val edges = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val got = SampleOps.leakageSafeSplit(docs, edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got.size === 100)
    assert(got(0L) === got(1L) && got(1L) === got(2L),
      "a connected cluster must share one split key and one split")
    assert(got(0L)._1 === 0L, "the anchor is the cluster's min id")
    assert(got(10L)._1 === 10L && got(11L) === got(10L))
    assert(got(50L)._1 === 50L, "docs outside every edge self-anchor")
    assert(got.values.map(_._2).toSet.subsetOf(Set("train", "valid", "test")))
  }

  test("pqRerankTopK: full probe + candK ≥ corpus makes the rerank exactly brute force") {
    import graft.ops.SimilarityOps
    val base = (0 until 8).map(i => (0 until 16).map(d => ((i * 7 + d) % 13).toFloat).toArray)
    val rows = for (c <- 0 until 3; i <- 0 until 8) yield (c * 100L + i, base(i))
    val emb = rows.toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 2)
    // nprobe = kCells (every cell scanned) and candK ≥ |corpus|: the ADC
    // stage can drop nothing, so the exact re-rank must equal the
    // brute-force baseline row for row — the refinement-correctness pin
    val got = SimilarityOps.pqRerankTopK(q, emb, k = 5, candK = 100, nprobe = 4,
      kCells = 4, m = 2, subDim = 8, kCodes = 4, pqIters = 2)
    val exact = SimilarityOps.bruteForceTopK(q, emb, 5)
    assert(got.collect().map(_.toSeq).toSet === exact.collect().map(_.toSeq).toSet)
  }

  test("bpeApply: segments under the trained table, unseen words segment by learned pieces") {
    val docs = Seq((1L, "aaa aaa ab"), (2L, "aab")).toDF("doc_id", "text")
    // training on doc 1's corpus (hand-checked above): a a → aa a → a b
    val table = TextOps.bpeTrain(Seq((1L, "aaa aaa ab")).toDF("doc_id", "text"), merges = 6)
      .orderBy("step").collect().map(_.getString(1)).toSeq
    assert(table === Seq("a a", "aa a", "a b"))
    val got = TextOps.bpeApply(docs, table)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // "aaa"→[aaa] (1), "ab"→[ab] (1); doc 2's UNSEEN "aab"→[aa, b] (2):
    // 'a a' merges, 'aa a' and 'a b' find no sentinel-spaced match
    assert(got(1L) === ((3L, 3L)))
    assert(got(2L) === ((1L, 2L)))
  }

  test("winnowing: shared-run guarantee, rightmost tie-break, selection density") {
    val run = "alpha beta gamma delta epsilon zeta eta" // 7 tokens = w+k-1
    val docs = Seq(
      (1L, s"one two three $run four five six seven"),
      (2L, s"nine ten eleven twelve $run thirteen fourteen"),
      (3L, "a a a a a a a a a a"), // all grams identical → ties everywhere
      (4L, "completely different words with no common content at all here")
    ).toDF("doc_id", "text")
    val fps = TextOps.winnowFingerprints(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // guarantee: any shared run of ≥ w+k−1 tokens yields ≥1 shared hash
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "7-token shared run must share a fingerprint")
    assert((byDoc(1L) & byDoc(4L)).isEmpty, "unrelated docs share nothing")
    // all-tied doc: every window's min is the same hash, rightmost wins →
    // selected positions are exactly the window-END gram positions
    val doc3 = fps.filter(_._1 == 3L).map(_._2).toSet
    val nGrams3 = 10 - 3 // 10 tokens, k=4
    assert(doc3 === (3 until nGrams3).map(_.toLong).toSet,
      s"rightmost tie-break must select window ends: $doc3")
    // density: selection keeps ≲ half the grams on random-ish content
    val doc4 = fps.count(_._1 == 4L)
    assert(doc4 >= 1 && doc4 <= 7, s"winnowing must thin the gram set: $doc4")
    // pair overlap: docs 1/2 pair with ≥... doc1∩doc2 could be 1 fp —
    // minShared=1 must surface the pair, and its jaccard is in (0,1)
    val pairs = TextOps.winnowNearDup(TextOps.winnowFingerprints(docs), minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) > 0 && pairs((1L, 2L)) < 1)
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("removeDupLines: cross-doc lines removed everywhere, within-doc repeats kept, order preserved") {
    val docs = Seq(
      (1L, "the shared boilerplate line\nunique alpha"),
      (2L, "unique beta\nthe shared boilerplate line\nunique gamma"),
      (3L, "all original content"),
      (4L, "repeat me\nrepeat me") // repeats only within ONE doc → kept
    ).toDF("doc_id", "text")
    val got = TextOps.removeDupLines(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((2L, 1L, "unique alpha")))
    assert(got(2L) === ((3L, 1L, "unique beta\nunique gamma")), "order must be preserved")
    assert(got(3L) === ((1L, 0L, "all original content")))
    assert(got(4L) === ((2L, 0L, "repeat me\nrepeat me")),
      "a line repeated within a single doc is not corpus boilerplate")
  }

  test("codedKeys (xxhash64 shuffle) reproduces the string-key results exactly") {
    // the 100 TB shuffle form must agree with the oracle-checked string
    // form on real data — sf0.001 documents, both operators
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(TextOps.exactSubstrSpans(docs, codedKeys = true)) ===
      rows(TextOps.exactSubstrSpans(docs)))
    assert(rows(TextOps.dupSpanFrame(docs, codedKeys = true)) ===
      rows(TextOps.dupSpanFrame(docs)))
  }

  test("q100 skew corpus actually engages adaptive refinement at every test scale") {
    // the oracle hash can't distinguish "refined correctly" from "never
    // refined" if the constructed skew stopped overflowing a flat cell
    // (e.g. after a testdata regen) — pin multi-subcell cells existing
    // and the collapsed anchor mass actually dropping, at EVERY scale
    // the driver's gate runs (sf0.001 alone proves nothing about the
    // sf0.01/sf0.1 hash rows)
    val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(d => new java.io.File(s"$d/embeddings.parquet").exists())
    assume(dirs.nonEmpty)
    for (dir <- dirs) {
      val got = SparkEntry.queries("q100_semdedup_skew")(spark, dir).cache()
      try {
        val refinedCells = got.groupBy("cell")
          .agg(countDistinct("subcell").as("subs")).filter(col("subs") > 1).count()
        assert(refinedCells >= 1,
          s"$dir: no cell refined — the skew no longer overflows the flat pass")
        val dropped = got.filter(col("dropped")).count()
        assert(dropped > got.count() / 2,
          s"$dir: the collapsed 70% anchor mass must mostly drop as near-dups")
      } finally got.unpersist()
    }
  }

  test("removeDupSpans cuts exactly the spans exactSubstrSpans reports") {
    // doc 1 and 2 share the 4-token run "a b c d" (n=3 → windows abc,
    // bcd → one merged span of 4 tokens each side); doc 3 is untouched;
    // doc 4's within-doc repeat "p q r p q r" duplicates its own
    // windows (pos 0..3 all dup at n=3 → the whole doc is one span)
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c d"),
      (3L, "zz ww qq"),
      (4L, "p q r p q r")
    ).toDF("doc_id", "text")
    val rem = TextOps.removeDupSpans(docs, n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(rem(1L) === ((5L, 1L, 4L, "e")), "span [a b c d] cut, 'e' survives")
    assert(rem(2L) === ((5L, 1L, 4L, "x")), "span cut at the tail, 'x' survives")
    assert(rem(3L) === ((3L, 3L, 0L, "zz ww qq")), "short/unique doc untouched")
    assert(rem(4L) === ((6L, 0L, 6L, "")), "fully self-duplicated doc empties")
    // removal mass must agree with the span report on the same corpus
    val spans = TextOps.exactSubstrSpans(docs, n = 3)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("covered_tokens")).toMap
    rem.foreach { case (id, (_, _, removed, _)) =>
      assert(removed === spans(id), s"doc $id: removed != covered_tokens") }
  }

  test("dedupAgainstCorpus: flags matches against the corpus, never within the batch") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different corpus content about spark and catalyst optimizers")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today!"), // near-dup of 0
      (3L, "entirely novel text that matches nothing in the existing corpus at all"),
      (5L, "entirely novel text that matches nothing in the existing corpus at all."), // dup of 3 — WITHIN the batch only
      (7L, null.asInstanceOf[String]) // no content, always admitted
    ).toDF("doc_id", "text")
    val got = graft.ops.DedupOps.dedupAgainstCorpus(fresh, corpus).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.get(2))))).toMap
    assert(got.keySet === Set(1L, 3L, 5L, 7L), "one row per NEW doc")
    assert(got(1L) === ((true, Some(0L))), "near-dup of the corpus rejected with its match")
    assert(got(3L)._1 === false && got(5L)._1 === false,
      "within-batch near-dups must NOT flag each other — that's the admitted batch's own dedup pass")
    assert(got(7L) === ((false, None)))
  }

  test("perplexityBuckets: exact terciles split 1..9 into head/middle/tail") {
    // interpolated terciles of 1..9: t1 = 3.667, t2 = 6.333
    val scored = (1 to 9).map(i => (i.toLong, i.toDouble)).toDF("doc_id", "avg_nll")
    val got = TextOps.perplexityBuckets(scored)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert((1 to 3).forall(i => got(i.toLong) === "head"))
    assert((4 to 6).forall(i => got(i.toLong) === "middle"))
    assert((7 to 9).forall(i => got(i.toLong) === "tail"))
  }

  test("dupSpanFrame: cross-doc windows count, within-doc repeats and short docs don't") {
    val docs = Seq(
      (1L, "a b c d e"),        // windows(3): abc bcd cde — abc,bcd shared with doc 2
      (2L, "x a b c d y"),      // windows: xab abc bcd cdy
      (3L, "zz ww"),            // < 3 tokens → zero windows
      (4L, "p q r p q r")       // repeats only within itself → no cross-doc dup
    ).toDF("doc_id", "text")
    val got = TextOps.dupSpanFrame(docs, n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((3L, 2L, 0.6667)))
    assert(got(2L) === ((4L, 2L, 0.5)))
    assert(got(3L) === ((0L, 0L, 0.0)))
    assert(got(4L)._2 === 0L && got(4L)._3 === 0.0)
  }

  test("editDistanceVerify: hand-checked similarity, order-shuffle caught, empty pair = 1.0") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delts"),   // 1 substitution in 22 normalized chars
      (3L, "delta gamma beta alpha"),   // same token SET as doc 1, different order
      (4L, "???"), (5L, "!!!")          // normalize to "" → both-empty prefix pair
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = DedupOps.editDistanceVerify(pairs, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got((1L, 2L)) === ((0.9545, true)))   // 1 - 1/22
    // gram-set Jaccard of (1,3) is 0.65 (shared 3-grams inside tokens);
    // edit similarity sees the reorder: 12 edits over 22 chars
    assert(got((1L, 3L))._1 < 0.5 && !got((1L, 3L))._2)
    assert(got((4L, 5L)) === ((1.0, true)))
  }

  test("ngramNovelty: unique grams counted, shared grams excluded, short doc = padded single gram") {
    val docs = Seq(
      (1L, "abcd"),  // grams: abc bcd
      (2L, "abce"),  // grams: abc bce
      (3L, "x")      // < 3 chars → single padded gram, unique
    ).toDF("doc_id", "text")
    val got = TextOps.ngramNovelty(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((2L, 1L, 0.5)))  // bcd unique, abc shared
    assert(got(2L) === ((2L, 1L, 0.5)))
    assert(got(3L) === ((1L, 1L, 1.0)))
  }

  test("headTailDupFrame: verdict precedence exact > prefix > suffix, empty docs never collapse") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),   // shares head 'a b' with 2/4, tail 'c d' with 3
      (2L, "a b x y"),   // prefix family with 1 and 4
      (3L, "p q c d"),   // suffix family with 1
      (4L, "a b x y"),   // byte-exact copy of 2
      (5L, "zz alone"),  // unique
      (6L, ""), (7L, "") // zero tokens: self-keyed, NOT grouped together
    ).toDF("doc_id", "text")
    val got = TextOps.headTailDupFrame(docs, k = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(got(1L) === ((1L, 3L, 2L, "prefix_dup"))) // head mates: 1,2,4
    assert(got(2L) === ((2L, 3L, 2L, "exact_dup")))  // exact wins over prefix
    assert(got(4L) === ((2L, 3L, 2L, "exact_dup")))
    assert(got(3L) === ((1L, 1L, 2L, "suffix_dup")))
    assert(got(5L) === ((1L, 1L, 1L, "unique")))
    assert(got(6L) === ((1L, 1L, 1L, "unique")))     // '' != doc 7's ''
    assert(got(7L) === ((1L, 1L, 1L, "unique")))
  }

  test("q286 complete pipeline: every doc exactly one reason, domain tier honors blocklist and cap") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q286_pipeline_complete")(spark, dir)
      .select("doc_id", "reason", "keep", "n_sent_removed").collect()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").isNotNull).select("doc_id").as[Long].collect().toSet

    // exactly-one-reason accounting: all fixture docs, no dup, no gap
    val ids = out.map(_.getLong(0))
    assert(ids.length === docs.size, "funnel row count != fixture doc count")
    assert(ids.toSet === docs, "funnel ids != fixture doc ids")

    // keep is derived from reason, and pre-sentence drops carry no
    // sentence evidence
    out.foreach { r =>
      assert(r.getBoolean(2) === (r.getString(1) == "kept"))
      if (r.getString(1) != "kept" && r.getString(1) != "sentence_dup" &&
          r.getString(1) != "exact_dup" && r.getString(1) != "near_dup" &&
          r.getString(1) != "low_quality")
        assert(r.getLong(3) === 0L, s"pre-sentence drop ${r.getString(1)} carries n_sent_removed")
    }

    val byReason = out.groupBy(_.getString(1)).map { case (k, v) => k -> v.map(_.getLong(0)).toSet }
    // the blocklist verdict kills exactly the site3.com residue class
    // that survives the URL tier: blocked ids are all ≡ 3 (mod 6)
    val blocked = byReason("domain_blocked")
    assert(blocked.nonEmpty && blocked.forall(_ % 6 == 3),
      "domain_blocked must be exactly the site3.com residue class")
    // nothing from the blocked domain may reach any later tier
    val postDomain = out.filter(r => !Set("unparseable", "url_dup", "domain_blocked",
      "domain_capped").contains(r.getString(1))).map(_.getLong(0))
    assert(postDomain.forall(_ % 6 != 3), "a site3.com doc leaked past the blocklist")
    // the cap holds: at most pipeDomainCap extract-tier entrants per domain
    val perDomain = postDomain.groupBy(_ % 6).view.mapValues(_.length)
    assert(perDomain.values.forall(_ <= OpsEntries.pipeDomainCap),
      s"per-domain extract entrants exceed the cap: $perDomain")
    // and the cap has pressure: at least one domain is exactly full
    assert(byReason.contains("domain_capped") && byReason("domain_capped").nonEmpty,
      "fixture must generate cap pressure")
    assert(perDomain.values.exists(_ == OpsEntries.pipeDomainCap),
      "at least one domain should sit exactly at the cap")
  }

  test("q292 governed pipeline: compliance precedes policy, every doc exactly one reason") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q292_pipeline_governed")(spark, dir)
      .select("doc_id", "reason", "keep").collect()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").isNotNull).select("doc_id").as[Long].collect().toSet
    val ids = out.map(_.getLong(0))
    assert(ids.length === docs.size && ids.toSet === docs,
      "13-way funnel must account for every fixture doc exactly once")
    val byReason = out.groupBy(_.getString(1)).map { case (k, v) => k -> v.map(_.getLong(0)).toSet }
    // robots kills ALL of site3 (the '/' rule) among unique survivors,
    // so nothing site3 may reach the policy tier or beyond
    val postRobots = out.filter(r => !Set("unparseable", "url_dup",
      "robots_disallowed").contains(r.getString(1))).map(_.getLong(0))
    assert(postRobots.forall(_ % 6 != 3), "a robots-disallowed site3 doc leaked downstream")
    assert(byReason("robots_disallowed").exists(_ % 6 == 3), "site3 must die at the robots tier")
    // the q292 policy blocklist convicts site4 — only robots-allowed
    // docs may appear there (compliance precedes policy)
    assert(byReason("domain_blocked").nonEmpty && byReason("domain_blocked").forall(_ % 6 == 4),
      "domain_blocked must be exactly the site4 residue class")
    // both governance classes coexist with cap pressure
    assert(byReason.contains("domain_capped") && byReason("domain_capped").nonEmpty)
  }
}
