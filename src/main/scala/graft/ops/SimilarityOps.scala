package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Rounding.round // binary rounding, DuckDB-consistent (shadows functions.round)

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`). Brute-force cosine top-k is the correctness
  * baseline; the LSH-bucketed variant is the scale path (candidates
  * come from hash buckets, the cross product never materializes).
  */
object SimilarityOps {

  /** Dot product of two float-array columns — a native codegen'd
    * Catalyst expression ([[graft.functions.DotProductExpression]]):
    * the `aggregate(zip_with(...))` HOF form evaluates its lambdas
    * interpreted, per element, which dominated the ANN pair loops.
    * Elements are widened to double BEFORE the multiply and summed in
    * array order — bit-identical to the HOF fold and to the DuckDB
    * oracle's `list_sum(list_transform(list_zip(a,b), ...))`.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d > 0, dot(a, b) / d).otherwise(lit(0.0))
  }

  /** Cosine with per-row precomputed norms — identical value to
    * [[cosine]] (sqrt is deterministic), one array fold per pair.
    */
  def cosinePre(a: Column, b: Column, normA: Column, normB: Column): Column = {
    val d = normA * normB
    when(d > 0, dot(a, b) / d).otherwise(lit(0.0))
  }

  /** Brute-force cosine top-k: every query row against every corpus row.
    * Correct baseline; at scale the corpus side should be pre-filtered
    * (see [[lshTopK]]). The per-query ranking runs as one window over the
    * shuffled-by-query candidates; ties break on corpus id for
    * determinism. Queries are broadcast — the corpus never shuffles.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms precomputed per row (once), not per pair: the pair loop does
    // exactly one array fold (the dot product)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      norm(col(vecCol)).as("q_norm"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      norm(col(vecCol)).as("c_norm"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosinePre(col("q_vec"), col("c_vec"), col("q_norm"), col("c_norm")), 6).as("cos_sim"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic ±1 hyperplane components, derived from an md5 hex
    * nibble per (plane, dim) — reproducible across engines and runs with
    * no stored projection matrix. Precomputed driver-side so the per-row
    * work is pure arithmetic (no hashing in the hot path).
    */
  def planeSigns(planes: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(planes, dims) { (p, d) =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p:$d".getBytes("UTF-8"))
      val nibble = (md(0) >> 4) & 0xF
      if (nibble % 2 == 0) 1.0 else -1.0
    }

  /** Random-hyperplane LSH bucket id: `planes` sign bits packed into one
    * long. Vectors with equal bucket ids are likely-similar candidates.
    * Map-only expression work over literal sign vectors.
    */
  def lshBucket(vec: Column, planes: Int = 8, dims: Int = 64): Column = {
    val signs = planeSigns(planes, dims)
    (0 until planes).map { p =>
      val signArr = array(signs(p).map(lit).toIndexedSeq: _*)
      val proj = dot(vec, signArr)
      when(proj >= 0, lit(1L << p)).otherwise(0L)
    }.reduce[Column](_ + _)
  }

  /** LSH-bucketed ANN top-k: candidates share the query's bucket; exact
    * cosine ranks within the bucket. Recall < 1 by construction —
    * `bruteForceTopK` is the ground-truth oracle. The join shuffles on
    * the tiny bucket key only.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, planes: Int = 8,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      norm(col(vecCol)).as("q_norm"), lshBucket(col(vecCol), planes).as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      norm(col(vecCol)).as("c_norm"), lshBucket(col(vecCol), planes).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosinePre(col("q_vec"), col("c_vec"), col("q_norm"), col("c_norm")), 6).as("cos_sim"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF-style partitioned ANN: probe only the `nprobe` coarse cells
    * nearest to the query (here: cells precomputed in `cellCol`, e.g.
    * k-means labels). The probe list prunes the corpus scan — the 100 TB
    * path when buckets are backed by partitioned storage.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame, k: Int, nprobe: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding",
              cellCol: String = "label"): DataFrame = {
    val cent = centroids.select(col(cellCol).as("cell"), col(vecCol).as("cent_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    // rank cells per query by centroid distance, keep nprobe
    val cellRank = Window.partitionBy("query_id").orderBy(col("cell_sim").desc, col("cell"))
    val probes = q.crossJoin(broadcast(cent))
      .select(col("query_id"), col("q_vec"), col("cell"),
        cosine(col("q_vec"), col("cent_vec")).as("cell_sim"))
      .withColumn("r", row_number().over(cellRank)).filter(col("r") <= nprobe)
      .select("query_id", "q_vec", "cell")
    val c = corpus.select(col(cellCol).as("cell"), col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"), norm(col(vecCol)).as("c_norm"))
    val scored = c.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosinePre(col("q_vec"), col("c_vec"), norm(col("q_vec")), col("c_norm")), 6).as("cos_sim"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Scalar twin of `Rounding.round` for driver-side centroid math —
    * identical binary half-away-from-zero arithmetic.
    */
  private def round4(v: Double): Double = {
    val f = math.abs(v) * 10000.0 + 0.5
    val fl = f - (f % 1.0)
    math.signum(v) * fl / 10000.0
  }

  /** Distributed Lloyd k-means over the embedding column.
    *
    * Deterministic end to end, so an exact cross-engine oracle exists:
    * init = the `k` lowest-id vectors; assignment = arg-min squared-L2
    * distance (native sequential fold, bit-identical to the oracle's
    * list arithmetic) with lowest-cell tie-break; update = per-(cell,
    * dim) mean ROUNDED to 4 decimals (so iteration inputs are identical
    * across engines regardless of summation order); empty cells keep
    * their previous centroid.
    *
    * Scale shape: centroids are k×dims doubles — broadcast into the
    * assignment expression as literals (no join); each iteration is ONE
    * partial-aggregated groupBy over the posexploded corpus; only
    * k×dims means return to the driver. Iterations are sequential by
    * nature; everything inside an iteration is map + partial agg.
    *
    * Output: (cell, dim, value) — final centroids, dim 1-based.
    */
  def kmeans(emb: DataFrame, k: Int = 8, iters: Int = 3,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    // null vectors carry no position — exclude them up front (a null
    // distance would otherwise null the cell key and NPE the driver
    // unbox); length-mismatched vectors null their distance too, so
    // the null-cell guard below drops those rows rather than crashing
    // Cached across the init scan + every Lloyd iteration: the same
    // rows feed iters+1 sequential driver jobs, so one materialization
    // replaces four source scans (on a cluster: four full-table reads).
    val clean = emb.filter(col(vecCol).isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val finalCents: Array[Array[Double]] =
      try trainCentroids(clean, k, iters, idCol, vecCol)
      finally clean.unpersist(blocking = false)
    import spark.implicits._
    finalCents.zipWithIndex.flatMap { case (c, cell) =>
      c.zipWithIndex.map { case (v, d) => (cell, d + 1, v) }
    }.toSeq.toDF("cell", "dim", "value")
  }

  /** The flat trainers' Lloyd run over a pre-cleaned (non-null-vector,
    * ideally persisted) frame: one [[lloyd]] key seeded with the `k`
    * lowest-id vectors. Shared by [[kmeans]] (centroid output) and every
    * trainer that reuses the assignment ([[semDedup]] and the rest).
    */
  private def trainCentroids(clean: DataFrame, k: Int, iters: Int,
                             idCol: String, vecCol: String): Array[Array[Double]] =
    lloyd(clean.select(lit(0).as("key"), col(vecCol).as("vec")),
      Map(0 -> lowestIdVecs(clean, k, idCol, vecCol)), iters)(0)

  /** The flat and PQ init: the `k` lowest-id vectors, 4dp-rounded. A
    * top-k, not a window: the sort stays distributed.
    */
  private def lowestIdVecs(clean: DataFrame, k: Int,
                           idCol: String, vecCol: String): Array[Array[Double]] =
    clean.orderBy(col(idCol)).limit(k).select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray.map(f => round4(f.toDouble)))

  /** The one Lloyd loop, per the [[kmeans]] contract. `rows` carry
    * (key int, vec array<float>), and every key trains its own
    * centroids from `init(key)`: [[trainCentroids]] passes one key,
    * [[semDedupAdaptive]] one per oversized cell, [[pqTrain]] one per
    * subspace slice. An iteration is ONE partial-aggregated collect
    * grouped by (key, cell, pos), so the job count does not grow with
    * the number of keys; only Σ k_key × dims means return, rounded by
    * [[round4]] on the driver. Empty cells keep their centroid; a null
    * cell (length-mismatched vector) is skipped.
    */
  private def lloyd(rows: DataFrame, init: Map[Int, Array[Array[Double]]],
                    iters: Int): Map[Int, Array[Array[Double]]] =
    (1 to iters).foldLeft(init) { (cents, _) =>
      val means = rows
        .select(col("key"), keyedCell(col("key"), col("vec"), cents).as("cell"),
          posexplode(col("vec")).as(Seq("pos", "v")))
        .groupBy("key", "cell", "pos")
        .agg(avg(col("v").cast("double")).as("m"))
        .collect()
      val next = cents.map { case (key, c) => key -> c.map(_.clone()) }
      means.foreach { r =>
        if (!r.isNullAt(1)) next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = round4(r.getDouble(3))
      }
      next
    }

  /** Nearest cell of `vec` among `cents(key)` — a when-chain of
    * per-key [[graft.functions.VectorExprs.nearestCell]] literals,
    * map-only, no join; 0 for a key without centroids.
    */
  private def keyedCell(key: Column, vec: Column,
                        cents: Map[Int, Array[Array[Double]]]): Column =
    cents.foldLeft(lit(0)) { case (acc, (k, c)) =>
      when(key === k, graft.functions.VectorExprs.nearestCell(vec, c)).otherwise(acc)
    }

  /** Trained Lloyd state — the cluster family's first-class artifact,
    * mirroring [[PcaState]]/[[ivfTrain]]: the `iters` corpus passes of
    * the deterministic Lloyd loop are the expensive step, and FOUR
    * consumers need its centroids ([[semDedup]], [[semanticLayout]],
    * [[clusterLabelEval]], [[silhouetteReport]]) — a real pipeline
    * trains cells once and serves dedup + layout + quality-eval from
    * them, instead of paying one private Lloyd (iters collect-ferried
    * corpus aggregates each) per consumer. Driver-sized: k×dims
    * doubles, broadcast-shippable into any assignment expression.
    */
  final case class KmeansState(k: Int, iters: Int,
                               centroids: Array[Array[Double]])

  /** Arg-min squared-L2 cell id for `vecCol` against the given centroids.
    * The centroids ride into the expression as a reference object (k×dims
    * doubles shipped with the task binary — no join, map-only work); ties
    * break to the lowest cell, matching the oracle's `ORDER BY dist,
    * cell`. A single-pass native expression: the when/least composition
    * it replaces re-evaluated the distance folds ~k(k+1) times per row
    * (see [[graft.functions.NearestCellExpression]]).
    */
  private def assignCell(cents: Array[Array[Double]], vecCol: String): Column =
    graft.functions.VectorExprs.nearestCell(col(vecCol), cents)

  /** IVF ANN over TRAINED centroids: k-means the corpus, route every
    * corpus vector to its nearest cell with the single-pass
    * [[graft.functions.NearestCellExpression]] (map-only — the cell
    * IS the IVF partition layout), then probe only the `nprobe` cells
    * whose centroids sit nearest each query. The [[ivfTopK]] shape
    * with the coarse quantizer actually learned from the data rather
    * than taken from a label column. Query-side probe selection sorts
    * a k-element (distance, cell) array per query — k×dims literal
    * arithmetic, no join. Ties: lower cell on equal centroid
    * distance, lower neighbor id on equal cosine.
    */
  def ivfTrainedTopK(queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int = 2,
                     kCells: Int = 8, iters: Int = 3,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val clean = DedupOps.widen(corpus.filter(col(vecCol).isNotNull))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = trainCentroids(clean, kCells, iters, idCol, vecCol)
      ivfServeTopK(queries, ivfAssign(clean, cents, idCol, vecCol), cents, k, nprobe,
        idCol, vecCol)
    } finally clean.unpersist(blocking = false)
  }

  /** IVF TRAINING alone: the k-means centroids (4dp-rounded, the
    * [[trainCentroids]] recipe) as a driver-side array — k×dims
    * doubles, the broadcast-shippable trained state. Split out from
    * [[ivfTrainedTopK]] so a sweep (q240's nprobe curve) trains ONCE
    * and serves every sweep point from the same state instead of
    * re-running `iters` corpus passes per point.
    */
  def ivfTrain(corpus: DataFrame, kCells: Int = 8, iters: Int = 3,
               idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] = {
    val clean = DedupOps.widen(corpus.filter(col(vecCol).isNotNull))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try trainCentroids(clean, kCells, iters, idCol, vecCol)
    finally clean.unpersist(blocking = false)
  }

  /** Corpus routed to its IVF cells (map-only): (cell, neighbor_id,
    * c_vec, c_norm). Checkpoint the result when several serve calls
    * will read it — it is the index build, paid once.
    */
  def ivfAssign(corpus: DataFrame, cents: Array[Array[Double]],
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.filter(col(vecCol).isNotNull)
      .select(assignCell(cents, vecCol).as("cell"),
        col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        norm(col(vecCol)).as("c_norm"))

  /** IVF SERVING over pre-built state: nprobe-cell routing per query
    * (k-element literal (distance, cell) sort — no join), broadcast
    * probe join against the assigned corpus, exact cosine inside the
    * probed cells. `assigned` is [[ivfAssign]]'s output (checkpointed
    * by the caller when reused across a sweep).
    */
  def ivfServeTopK(queries: DataFrame, assigned: DataFrame, cents: Array[Array[Double]],
                   k: Int, nprobe: Int = 2,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val distArr = array(cents.indices.map { j =>
      struct(
        graft.functions.VectorExprs.l2Squared(col(vecCol),
          array(cents(j).map(lit).toSeq: _*)).as("d"),
        lit(j).as("cell"))
    }: _*)
    val probes = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        norm(col(vecCol)).as("q_norm"),
        explode_outer(slice(array_sort(distArr), 1, nprobe)).as("p"))
      .filter(col("p").isNotNull) // trap #7: keep distArr out of an inferred filter
      .select(col("query_id"), col("q_vec"), col("q_norm"), col("p.cell").as("cell"))
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosinePre(col("q_vec"), col("c_vec"), col("q_norm"), col("c_norm")), 6).as("cos_sim"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** SemDeDup (semantic deduplication, Abbas et al. 2023): k-means the
    * embeddings, then inside each cell drop every vector whose cosine
    * similarity to a LOWER-id cell-mate reaches `threshold`. Clustering
    * confines the pair comparison to cells, so the corpus-wide pair
    * explosion never materializes — the candidate join shuffles on the
    * cell key alone, which is exactly how this survives 100 TB (cells
    * are the IVF partition layout; per-cell pair counts stay bounded by
    * cell size, and skewed cells AQE-split).
    *
    * The drop decision sits ABOVE an aggregation barrier (max cosine
    * per id) so the pair cosine is evaluated once per pair, never
    * re-substituted into a join condition (NOTES_r3 trap #2).
    *
    * k SCALES WITH THE CORPUS by default (`k < 1` → [[semDedupK]]):
    * a fixed k is quadratic-by-growth — cell size tracks n/k, so
    * within-cell pairs grow as (n/k)² per cell and a 100× corpus with
    * the same k does 10,000× the pair work. Deriving k = n/targetCellRows
    * pins expected cell size, making total pair work ~n·targetCellRows —
    * linear in n. Pass an explicit k only to pin an oracle or replay.
    *
    * Output: (vec_id, cell, dropped) — one row per non-null input
    * vector, `dropped` marking the semantic near-dup losers.
    */
  def semDedup(emb: DataFrame, k: Int = -1, iters: Int = 3, threshold: Double = 0.4,
               idCol: String = "vec_id", vecCol: String = "embedding",
               targetCellRows: Long = 4096): DataFrame = {
    // widen: an embedding table often arrives as a handful of parquet
    // files; the within-cell pair generation below is the quadratic
    // part and must run on every core, not one partition per file
    val clean = DedupOps.widen(emb.filter(col(vecCol).isNotNull))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val kEff = if (k >= 1) k else semDedupK(clean.count(), targetCellRows)
      val cents = trainCentroids(clean, kEff, iters, idCol, vecCol)
      semDedupFromAsg(assignFrame(clean, cents, idCol, vecCol), threshold, Seq("cell"))
    } finally clean.unpersist(blocking = false)
  }

  /** [[semDedup]] SERVING from a pre-trained [[KmeansState]] — the
    * dedup verdict over shared cells, no private Lloyd. One corpus
    * scan (the assignment pass); everything downstream reads its
    * checkpoint.
    */
  def semDedup(emb: DataFrame, state: KmeansState, threshold: Double,
               idCol: String, vecCol: String): DataFrame =
    semDedupFromAsg(
      assignFrame(DedupOps.widen(emb.filter(col(vecCol).isNotNull)),
        state.centroids, idCol, vecCol), threshold, Seq("cell"))

  /** The shared assignment frame (vec_id, vec, cell, nrm),
    * CHECKPOINTED, not transiently persisted: the operators that
    * consume it are already eager (their Lloyd collects ran), and each
    * consumer references the assignment several times (both pair-join
    * sides + the outer join; the layout window; the silhouette
    * distance join). Without materialization every reference replays
    * the full corpus scan + k×dims assignment AFTER the caller's
    * finally-unpersist — measured 3× semDedup's whole cost at sf0.1.
    * Checkpoint blocks are reclaimed by the ContextCleaner when the
    * frame is dropped.
    */
  private def assignFrame(clean: DataFrame, cents: Array[Array[Double]],
                          idCol: String, vecCol: String): DataFrame =
    clean.select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
      assignCell(cents, vecCol).as("cell"), norm(col(vecCol)).as("nrm"))
      .localCheckpoint(true)

  /** The SemDeDup drop rule over a materialized assignment (vec_id,
    * vec, nrm and the `keys` columns): pairs within a group of equal
    * `keys`, max-cosine-per-loser aggregation barrier (the NOTES_r3
    * trap-#2 single-eval discipline), losers at/above `threshold`
    * marked. [[semDedup]] groups by (cell), [[semDedupAdaptive]] by
    * (cell, subcell). Output: (vec_id, keys..., dropped).
    */
  private def semDedupFromAsg(asg: DataFrame, threshold: Double, keys: Seq[String]): DataFrame = {
    val a = asg.select(keys.map(col) ++ Seq(col("vec_id").as("id_a"),
      col("vec").as("va"), col("nrm").as("na")): _*)
    val b = asg.select(keys.map(col) ++ Seq(col("vec_id").as("id_b"),
      col("vec").as("vb"), col("nrm").as("nb")): _*)
    val dropped = a.join(b, keys)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_b"),
        round(cosinePre(col("va"), col("vb"), col("na"), col("nb")), 6).as("cos_sim"))
      .groupBy("id_b").agg(max(col("cos_sim")).as("max_sim"))
      .filter(col("max_sim") >= threshold)
      .select(col("id_b").as("vec_id"), lit(true).as("is_dup"))
    val out = col("vec_id") +: keys.map(col)
    asg.select(out: _*)
      .join(dropped, Seq("vec_id"), "left")
      .select(out :+ coalesce(col("is_dup"), lit(false)).as("dropped"): _*)
  }

  /** [[semDedup]]'s k(n) policy: enough cells to hold expected cell size
    * at `targetCellRows` (min 8 so tiny corpora still cluster), capped at
    * 65536 — the centroid table rides into the task binary as k×dims
    * doubles (64-dim × 64Ki ≈ 32 MB, the practical literal ceiling).
    * Past the cap (n > ~270M vectors at the default target) cell size
    * grows again; the scale path there is two-level clustering (route by
    * a coarse k, then re-cluster each coarse cell — IVF_PQ's layout),
    * which composes from this same function per coarse cell.
    */
  def semDedupK(n: Long, targetCellRows: Long = 4096): Int = {
    require(targetCellRows > 0, s"targetCellRows must be positive, got $targetCellRows")
    val bySize = (n + targetCellRows - 1) / targetCellRows
    math.min(65536L, math.max(8L, bySize)).toInt
  }

  /** [[semDedup]] with ADAPTIVE CELL REFINEMENT — the skew-safe form.
    *
    * The k(n) policy pins the EXPECTED cell size, but a skewed
    * embedding space (one dominant content cluster — boilerplate, a
    * crawler loop) concentrates far more than `targetCellRows` vectors
    * in one cell no matter how large k is, and that cell's pair join
    * reintroduces the n² the clustering exists to prevent. This form
    * runs the flat pass, measures actual cell sizes, and RE-CLUSTERS
    * only the cells above `oversizeFactor × targetCellRows` with their
    * own per-cell Lloyd (same deterministic contract; k from the same
    * k(n) policy on the cell's own count). Pairs then confine to
    * (cell, subcell). This is also the documented two-level path past
    * the 65536 k cap: the flat pass is the coarse quantizer, refinement
    * is the per-cell re-cluster — IVF_PQ's layout, applied only where
    * the data needs it.
    *
    * Cost shape: ONE [[lloyd]] run keyed by oversized cell —
    * `iters + 1` Spark jobs total regardless of how many cells refine
    * (refining per cell in a driver loop would cost #cells × iters jobs
    * and re-scan the corpus each time; under heavy skew the job count
    * itself would track the skew). In a uniform corpus nothing is
    * oversized and this degrades to exactly [[semDedup]] plus one
    * cell-count aggregate. The refined assignment is [[keyedCell]] —
    * map-only, no join — and the pair rule is [[semDedup]]'s, over
    * (cell, subcell). Semantics note: refinement narrows the comparison
    * scope exactly like the flat cells already do (SemDeDup accepts
    * cross-cell misses by design); `PipelineOpsSpec` pins the uniform-corpus
    * degenerate case equal to [[semDedup]] and the skew case's bounded
    * cells.
    *
    * Output: (vec_id, cell, subcell, dropped).
    */
  def semDedupAdaptive(emb: DataFrame, iters: Int = 3, threshold: Double = 0.4,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       targetCellRows: Long = 4096,
                       oversizeFactor: Int = 8): DataFrame = {
    require(oversizeFactor >= 2, s"oversizeFactor must be >= 2: $oversizeFactor")
    val spark = emb.sparkSession
    import spark.implicits._
    val clean = DedupOps.widen(emb.filter(col(vecCol).isNotNull))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val kEff = semDedupK(clean.count(), targetCellRows)
      val cents = trainCentroids(clean, kEff, iters, idCol, vecCol)
      val asg = clean.select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
          assignCell(cents, vecCol).as("cell"), norm(col(vecCol)).as("nrm"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val oversized: Array[(Int, Long)] = asg.groupBy("cell").count()
          .filter(col("count") > oversizeFactor.toLong * targetCellRows)
          .select(col("cell"), col("count")).as[(Int, Long)].collect()
        val sub: Column =
          if (oversized.isEmpty) lit(0)
          else {
            val kByCell: Map[Int, Int] =
              oversized.map { case (c, n) => c -> semDedupK(n, targetCellRows) }.toMap
            // the joint sub-Lloyd only ever touches oversized-cell rows,
            // keyed by their cell
            val brows = asg.filter(col("cell").isin(oversized.map(_._1).toSeq: _*))
              .select(col("cell").as("key"), col("vec_id"), col("vec"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              // per-cell init = the cell's k(cellCount) lowest-id vectors
              // (sub = 0-based rank), same contract as the flat init
              val w = Window.partitionBy("key").orderBy("vec_id")
              val initRows = brows
                .select(col("key"), col("vec"), (row_number().over(w) - 1).as("sub"))
                .filter(col("sub") < kByCell.values.max)
                .collect()
              val init: Map[Int, Array[Array[Double]]] = initRows
                .groupBy(_.getInt(0))
                .map { case (c, rows) =>
                  c -> rows.filter(_.getInt(2) < kByCell(c)).sortBy(_.getInt(2))
                    .map(_.getSeq[Float](1).toArray.map(f => round4(f.toDouble)))
                }
              keyedCell(col("cell"), col("vec"), lloyd(brows, init, iters))
            } finally brows.unpersist(blocking = false)
          }
        semDedupFromAsg(asg.withColumn("subcell", sub).localCheckpoint(true), threshold,
          Seq("cell", "subcell"))
      } finally asg.unpersist(blocking = false)
    } finally clean.unpersist(blocking = false)
  }

  /** ANN quality harness: per-query recall of an approximate top-k
    * result against the exact one — the "measure, don't guess" gate an
    * IVF/LSH deployment needs before trusting its probe settings.
    * Both inputs carry (query_id, neighbor_id) rows (ranks ignored);
    * recall = |approx ∩ exact| / |exact| per query.
    *
    * Scale shape: the exact side is the expensive input (its producer
    * runs over the corpus once per eval sample — evaluate on a SAMPLE
    * of queries, not the full query log), so its plan is referenced
    * ONCE: a single left join marks hits and one aggregation counts
    * both k_exact and hits — not a semi-join branch plus a separate
    * count, which would re-execute an unpersisted exact plan twice.
    * Shuffles touch only top-k-sized result sets (queries × k rows),
    * never the corpus.
    */
  // ---- product quantization (PQ) -----------------------------------------

  /** Product-quantization codebooks: one [[kmeans]] per contiguous
    * `subDim`-wide slice of the embedding — the exact recipe
    * (lowest-id init, 4dp-rounded means, lowest-cell ties) per
    * subspace, so the full training trace replays in SQL. Returns
    * books(s)(cell)(dim).
    *
    * All m subspaces train in ONE [[lloyd]] run keyed by subspace over
    * each vector's m slices: iters+1 jobs in total, where m sequential
    * runs would pay m·(iters+1) corpus passes for the same arithmetic.
    * The init slices the k lowest-id vectors (round4 commutes with
    * slicing).
    *
    * This is the memory layout that makes billion-vector ANN feasible:
    * m codes of log2(k) bits replace dims floats — 8 bytes instead of
    * 256 per vector at (m=8, k=256, dims=64) — and the codebooks are
    * m × k × subDim doubles, always broadcastable.
    */
  def pqTrain(corpus: DataFrame, m: Int = 8, subDim: Int = 8, k: Int = 16, iters: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val clean = corpus.filter(col(vecCol).isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val init = lowestIdVecs(clean, k, idCol, vecCol)
      val slices = clean.select(posexplode(array((0 until m).map(s =>
        slice(col(vecCol), s * subDim + 1, subDim)): _*)).as(Seq("key", "vec")))
      val books = lloyd(slices,
        (0 until m).map(s => s -> init.map(_.slice(s * subDim, (s + 1) * subDim))).toMap, iters)
      Array.tabulate(m)(books)
    } finally clean.unpersist(blocking = false)
  }

  /** Per-subspace nearest-codeword columns `__c0 … __c{m-1}` plus the
    * original vector as `__v` — the shared encode stage. Map-only: the
    * codebooks ride into the [[graft.functions.NearestCellExpression]]s
    * as literals, no join.
    */
  private def pqCodeCols(corpus: DataFrame, books: Array[Array[Array[Double]]], subDim: Int,
                         idCol: String, vecCol: String,
                         carry: Seq[String] = Nil): DataFrame = {
    val codeCols = books.indices.map { s =>
      graft.functions.VectorExprs
        .nearestCell(slice(col(vecCol), s * subDim + 1, subDim), books(s)).as(s"__c$s")
    }
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol) +: carry.map(col) ++: col(vecCol).as("__v") +: codeCols: _*)
  }

  /** The per-probe ADC distance-table expression: m × k 6dp-rounded
    * squared-L2 entries of `vecExpr`'s slices against every codeword.
    */
  private def adcTables(books: Array[Array[Array[Double]]], subDim: Int,
                        vecColName: String): Column =
    array(books.indices.map { s =>
      array(books(s).map { cw =>
        round(graft.functions.VectorExprs.l2Squared(
          slice(col(vecColName), s * subDim + 1, subDim),
          array(cw.map(lit).toSeq: _*)), 6)
      }.toSeq: _*)
    }: _*)

  /** PQ encoding: every vector becomes `m` codeword ids plus its
    * reconstruction error (squared L2 to the concatenated codewords —
    * per-subspace terms rounded to 6dp, fixed-order sum rounded to 4dp,
    * so the value is bit-identical across engines). Map-only.
    *
    * Output: (idCol, codes array<int>, recon_err).
    */
  def pqEncode(corpus: DataFrame, books: Array[Array[Array[Double]]], subDim: Int = 8,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = books.length
    val staged = pqCodeCols(corpus, books, subDim, idCol, vecCol)
    val err = (0 until m).map { s =>
      val bookArr = array(books(s).map(cw => array(cw.map(lit).toSeq: _*)).toSeq: _*)
      round(graft.functions.VectorExprs.l2Squared(
        slice(col("__v"), s * subDim + 1, subDim),
        element_at(bookArr, col(s"__c$s") + 1)), 6)
    }.reduce(_ + _)
    staged.select(col(idCol),
      array((0 until m).map(s => col(s"__c$s")): _*).as("codes"),
      round(err, 4).as("recon_err"))
  }

  /** PQ encoding, LONG FORM: one row per (vector, subspace) carrying
    * that subspace's codeword id and its 6dp-rounded squared-L2
    * reconstruction error. Same codes as [[pqEncode]] (the array form
    * stays the serving layout); this shape exists so any engine can
    * sort and hash the result row-for-row — the `sqEncode` long-form
    * discipline. The per-vector total `recon_err` replays as
    * `sum(sub_err)` rounded to 4dp.
    *
    * Output: (idCol, subspace, code, sub_err). Map-only.
    */
  def pqEncodeLong(corpus: DataFrame, books: Array[Array[Array[Double]]], subDim: Int = 8,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = books.length
    val staged = pqCodeCols(corpus, books, subDim, idCol, vecCol)
    val rows = (0 until m).map { s =>
      val bookArr = array(books(s).map(cw => array(cw.map(lit).toSeq: _*)).toSeq: _*)
      struct(lit(s).as("subspace"), col(s"__c$s").cast("int").as("code"),
        round(graft.functions.VectorExprs.l2Squared(
          slice(col("__v"), s * subDim + 1, subDim),
          element_at(bookArr, col(s"__c$s") + 1)), 6).as("sub_err"))
    }
    staged.select(col(idCol), explode(array(rows: _*)).as("__r"))
      .select(col(idCol), col("__r.subspace"), col("__r.code"), col("__r.sub_err"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query builds
    * its m × k distance table ONCE (query slice vs every codeword —
    * literal arithmetic, 6dp-rounded entries), the table broadcasts
    * with the probe, and every corpus vector scores as the fixed-order
    * sum of m table lookups by its codes — never touching the original
    * corpus floats. The corpus-side input is the CODES frame: at scale
    * that is the only thing stored, 8 bytes a vector.
    *
    * Ranking: ascending rounded distance, neighbor id on ties; self
    * excluded. Output: (query_id, neighbor_id, adist, rank ≤ k).
    */
  def pqAdcTopK(queries: DataFrame, corpus: DataFrame, books: Array[Array[Array[Double]]],
                k: Int = 10, subDim: Int = 8,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = books.length
    val codes = pqCodeCols(corpus, books, subDim, idCol, vecCol)
      .select(col(idCol).as("neighbor_id") +: (0 until m).map(s => col(s"__c$s")): _*)
    val probes = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .select(col("query_id"), adcTables(books, subDim, "__qv").as("__tbl"))
    val adist = (0 until m).map { s =>
      element_at(element_at(col("__tbl"), s + 1), col(s"__c$s") + 1)
    }.reduce(_ + _)
    val w = Window.partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id").asc)
    codes.join(broadcast(probes), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), round(adist, 4).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF-PQ — the FAISS-style billion-vector index, composed from the
    * pieces above: a coarse quantizer routes every vector to one of
    * `kCells` cells, PQ codebooks train on the RESIDUALS (vector − its
    * cell centroid, 4dp-rounded and narrowed to float so the whole
    * trace replays exactly in SQL), and a query scans only its
    * `nprobe` nearest cells, scoring by ADC table lookups over the
    * residual codes. Storage per vector: one cell id + m codes; scan
    * cost per query: ~nprobe/kCells of the corpus, touched through
    * codes only — the index that serves 10⁹ vectors from commodity
    * memory.
    *
    * Residuals are staged as a persisted column (the centroid array
    * joins in as an attribute BEFORE the zip_with, so the interpreted
    * lambda never re-evaluates a captured lookup per element — the
    * DedupOps HOF discipline).
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10, nprobe: Int = 2,
                kCells: Int = 8, coarseIters: Int = 2, m: Int = 8, subDim: Int = 8,
                kCodes: Int = 16, pqIters: Int = 2,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val clean = DedupOps.widen(corpus.filter(col(vecCol).isNotNull))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val coarse = trainCentroids(clean, kCells, coarseIters, idCol, vecCol)
      val coarseArr = array(coarse.map(cw => array(cw.map(lit).toSeq: _*)).toSeq: _*)
      def residual(vec: Column, cv: Column): Column =
        zip_with(vec, cv, (v, c) => round(v.cast("double") - c, 4).cast("float"))
      val resDF = clean
        .select(col(idCol), col(vecCol), assignCell(coarse, vecCol).as("cell"))
        .select(col(idCol), col("cell"), col(vecCol),
          element_at(coarseArr, col("cell") + 1).as("__cv"))
        .select(col(idCol), col("cell"), residual(col(vecCol), col("__cv")).as(vecCol))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val books = pqTrain(resDF, m, subDim, kCodes, pqIters, idCol, vecCol)
        val codes = pqCodeCols(resDF, books, subDim, idCol, vecCol, carry = Seq("cell"))
          .select(col(idCol).as("neighbor_id") +: col("cell") +:
            (0 until m).map(s => col(s"__c$s")): _*)
        val distArr = array(coarse.indices.map { j =>
          struct(
            graft.functions.VectorExprs.l2Squared(col(vecCol),
              array(coarse(j).map(lit).toSeq: _*)).as("d"),
            lit(j).as("cell"))
        }: _*)
        val probes = queries.filter(col(vecCol).isNotNull)
          .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
            explode_outer(slice(array_sort(distArr), 1, nprobe)).as("p"))
          .filter(col("p").isNotNull) // trap #7: keep distArr out of an inferred filter
          .select(col("query_id"), col("__qv"), col("p.cell").as("cell"),
            element_at(coarseArr, col("p.cell") + 1).as("__cv"))
          .select(col("query_id"), col("cell"), residual(col("__qv"), col("__cv")).as("__qr"))
          .select(col("query_id"), col("cell"), adcTables(books, subDim, "__qr").as("__tbl"))
        val adist = (0 until m).map { s =>
          element_at(element_at(col("__tbl"), s + 1), col(s"__c$s") + 1)
        }.reduce(_ + _)
        val w = Window.partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id").asc)
        codes.join(broadcast(probes), Seq("cell"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"), round(adist, 4).as("adist"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
      } finally resDF.unpersist(blocking = false)
    } finally clean.unpersist(blocking = false)
  }

  /** Scalar-quantization (SQ8) bounds: per-dimension (lo, hi), 4dp-
    * rounded so the whole trace replays in SQL. One partial-agg pass;
    * 2×dims doubles to the driver (the centroid idiom).
    */
  def sqTrain(corpus: DataFrame, vecCol: String = "embedding"): Array[(Double, Double)] =
    corpus.filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(round(min(col("v").cast("double")), 4).as("lo"),
        round(max(col("v").cast("double")), 4).as("hi"))
      .orderBy("pos").collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))

  /** SQ8 ENCODE: each float dimension → one byte, code = round((v −
    * lo_d) / (hi_d − lo_d) · 255) clamped to [0, 255] (degenerate dims
    * code to 0). Map-only — bounds ride as literal arrays; 64 dims
    * become 64 bytes/vector, the 4× compression tier between raw
    * floats and PQ's 8 bytes. Output long-form (vec_id, dim, code) so
    * any dialect replays it row-for-row.
    */
  def sqEncode(corpus: DataFrame, bounds: Array[(Double, Double)],
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val loArr = array(bounds.map(b => lit(b._1)).toIndexedSeq: _*)
    val stepArr = array(bounds.map { case (lo, hi) =>
      lit(if (hi > lo) (hi - lo) / 255.0 else 0.0) }.toIndexedSeq: _*)
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col(idCol), (col("pos") + 1).cast("int").as("dim"),
        when(element_at(stepArr, col("pos") + 1) > 0,
          least(lit(255), greatest(lit(0),
            round((col("v").cast("double") - element_at(loArr, col("pos") + 1))
              / element_at(stepArr, col("pos") + 1)).cast("int"))))
          .otherwise(lit(0)).as("code"))
  }

  /** Embedding health report — the data-QA pass a vector pipeline runs
    * before trusting an index build: per-dimension mean and standard
    * deviation (a collapsed dim has std ≈ 0 and carries no geometry; a
    * drifted encoder shows as mean shift), plus the corpus-level
    * pathology counts (null vectors, zero vectors, non-finite values,
    * wrong-length vectors).
    *
    * Determinism: values quantize to integer 1e-6 units; per-dim Σx
    * banks as long and Σx² in 128-bit (decimal here, HUGEINT in the
    * oracle), mean/std derive by the identical double expression both
    * engines evaluate. ONE explode pass; dims-row output.
    *
    * Output: one row per dimension (dim, mean, std) with the pathology
    * counts repeated on every row (broadcast scalars — the report is
    * dims-sized, the repetition costs nothing and keeps it one frame).
    */
  def embeddingStats(corpus: DataFrame, dims: Int = 64,
                     vecCol: String = "embedding"): DataFrame = {
    val path = broadcast(corpus.agg(
      sum(when(col(vecCol).isNull, 1L).otherwise(0L)).as("n_null"),
      sum(when(col(vecCol).isNotNull && size(col(vecCol)) =!= dims, 1L).otherwise(0L))
        .as("n_wrong_len"),
      sum(when(col(vecCol).isNotNull
        && size(filter(col(vecCol), v => v =!= 0.0f)) === 0, 1L).otherwise(0L))
        .as("n_zero"),
      sum(when(exists(col(vecCol), v => isnan(v)), 1L).otherwise(0L)).as("n_nan")))
    corpus.filter(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select((col("pos") + 1).as("dim"),
        round(col("v").cast("double") * 1e6).cast("long").as("__x6"))
      .groupBy("dim")
      .agg(count(lit(1)).as("__n"), sum("__x6").as("__s"),
        sum((col("__x6") * col("__x6")).cast("decimal(38,0)")).as("__s2"))
      .crossJoin(path)
      .select(col("dim"),
        round(col("__s") / col("__n").cast("double") / 1e6, 6).as("mean"),
        round(sqrt(greatest(lit(0.0),
          (col("__s2").cast("double") * col("__n") - col("__s").cast("double") * col("__s"))
            / (col("__n").cast("double") * col("__n")))) / 1e6, 6).as("std"),
        col("n_null"), col("n_wrong_len"), col("n_zero"), col("n_nan"))
  }

  /** Top principal component of the embedding corpus by power
    * iteration — the PCA direction behind whitening, dimensionality
    * reduction and the "is one axis eating the variance" embedding
    * diagnostic. The ENTIRE computation is engine-replayable (the
    * [[graft.ops.ModelOps.logRegTrain]] discipline): covariance cells
    * round to 6dp, every iterate's matrix-vector product banks in
    * exact integer 1e-12 units, the normalized vector rounds to 6dp
    * before the next round — the driver only ferries dims rounded
    * doubles per iteration, so an oracle can replay the whole loop as
    * unrolled SQL and hash-match the eigenvector.
    *
    * Plan shape: moments come from ONE pass each — first moments via
    * posexplode, second moments via a broadcast upper-triangle (i,j)
    * grid nested-loop-joined against the corpus (d·(d+1)/2 cells per
    * row, multiplied inside codegen; the same O(d²) work any Gramian
    * costs, and the groupBy is partial-aggregable so the shuffle
    * carries #partitions × 2080 rows, not the corpus). Each power step is a
    * broadcast join against the 4096-row covariance — bounded driver
    * reads only, exactly like the k-means centroid loop.
    *
    * Output: (dim, loading, lambda, var_share) — the unit top
    * eigenvector, its Rayleigh eigenvalue and the share of total
    * variance (lambda / trace) it explains.
    */
  def pcaTopComponent(corpus: DataFrame, dims: Int = 64, iters: Int = 5,
                      vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (_, covUpper, v) = pcaTrace(corpus, dims, iters, vecCol)
    // symmetric full matrix as a LOCAL relation: 4096 rows on the
    // driver, free to re-scan every iteration
    val cov = (covUpper ++ covUpper.collect { case (i, j, c) if i != j => (j, i, c) })
      .toSeq.toDF("i", "j", "c")
    def c6 = round(col("c") * 1e6).cast("long")
    val vj = broadcast(v.toDF("j", "vj"))
    val vi = broadcast(v.toDF("i", "vi"))
    val lam = cov.join(vj, Seq("j")).join(vi, Seq("i"))
      .agg(sum((round(col("vi") * 1e6).cast("long") * c6).cast("decimal(38,0)")
        * round(col("vj") * 1e6).cast("long")).as("l18"))
      .select(round(col("l18").cast("double") / 1e18, 6).as("lambda"))
    val tr = cov.filter(col("i") === col("j"))
      .agg((sum(c6) / 1e6).as("trace"))
    v.toDF("dim", "loading")
      .crossJoin(broadcast(lam)).crossJoin(broadcast(tr))
      .select(col("dim"), col("loading"), col("lambda"),
        round(col("lambda") / col("trace"), 6).as("var_share"))
  }

  /** Trained PCA state — the first-class artifact of [[pcaTrain]],
    * mirroring the [[ivfTrain]]/[[ivfServeTopK]] index-build/serve
    * split: train ONCE (the O(d²) Gramian + power iteration is the
    * expensive step), then hand the state to every consumer
    * ([[removeTopComponent]], [[isotropyReport]], [[abttGated]])
    * instead of re-deriving the identical trace per call — at 100 TB
    * the trace is a job, not a subexpression. Driver-sized: dims first
    * moments, d(d+1)/2 covariance cells, dims eigenvector loadings.
    */
  final case class PcaState(dims: Int,
                            firsts: Array[(Int, Long, Long)],
                            covUpper: Array[(Int, Int, Double)],
                            v: Seq[(Int, Double)])

  /** Train the PCA state (banked moments + 6dp top eigenvector after
    * `iters` power steps) once — the [[PcaState]] scaladoc explains
    * why consumers should share it.
    */
  def pcaTrain(corpus: DataFrame, dims: Int = 64, iters: Int = 5,
               vecCol: String = "embedding"): PcaState = {
    val (firsts, covUpper, v) = pcaTrace(corpus, dims, iters, vecCol)
    PcaState(dims, firsts, covUpper, v)
  }

  /** The shared power-iteration trace behind [[pcaTopComponent]] and
    * [[removeTopComponent]]: per-dim first moments (dims bounded rows,
    * collected), the 6dp covariance upper triangle (d(d+1)/2 cells),
    * and the 6dp unit top eigenvector after `iters` banked power
    * steps. Banking per the pcaTopComponent contract.
    */
  private def pcaTrace(corpus: DataFrame, dims: Int, iters: Int, vecCol: String)
      : (Array[(Int, Long, Long)], Array[(Int, Int, Double)], Seq[(Int, Double)]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // r15: native one-walk banking (same arithmetic as the HOF
    // transform it replaces — see Bank6ArrayExpression) so the single
    // moments pass codegens instead of evaluating an interpreted
    // lambda per element
    val x6arr = graft.functions.AbttExprs.bank6(col(vecCol))
    val base = corpus.filter(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .select(x6arr.as("__x6"))
    // ONE corpus pass for ALL moments (r14 optimization, guide §1.2
    // step 1 — remove passes): count, per-dim first moments, and the
    // d(d+1)/2 Gramian cells come from a single scalar aggregation
    // (graft.functions.VecMoments — d²/2 multiply-adds per vector as a
    // plain JVM loop). The two passes this replaces — a posexplode for
    // the firsts and a broadcast (i,j)-grid nested-loop join that
    // materialized AND hash-probed 2080 rows PER VECTOR for the second
    // moments — cost ~2080 joined-row materializations per vector;
    // value parity: wrapping-long first moments ≡ sum(long), exact
    // 128-bit second moments ≡ sum(decimal(38,0)) (order-free both
    // ways; the covariance arithmetic below is the UNCHANGED Column
    // expression, now over a 2080-row local relation).
    // partial buffers per PARTITION via mapPartitions over the internal
    // rows, merged on the driver — NOT a udaf(): Spark's typed-
    // Aggregator path re-encodes the whole (1 + d + d(d+1)) long buffer
    // per input row (measured 4.8 s → 160 s on q246 at sf0.1 — the r14
    // interim bench caught it), while this shape serializes one buffer
    // per partition. Merge is elementwise/associative (exact 128-bit
    // adds), so partition count and order cannot change the value —
    // the CPUS=3 gate axis pins that.
    val agg = new graft.functions.VecMomentsAggregator(dims)
    val partBufs = base.queryExecution.toRdd.mapPartitions { it =>
      var buf = agg.zero
      while (it.hasNext) {
        buf = agg.reduce(buf, it.next().getArray(0).toLongArray())
      }
      Iterator.single(buf)
    }.collect()
    val m = partBufs.reduceLeft(agg.merge)
    val nRows = m.n
    val sArr = m.s
    val hiArr = m.hi
    val loArr = m.lo
    // empty corpus: the explode/grid forms produced zero groups — same here
    val firsts =
      if (nRows == 0) Array.empty[(Int, Long, Long)]
      else (0 until dims).map(pos => (pos, nRows, sArr(pos))).toArray
    // Everything past the moments is driver-sized (d(d+1)/2 cells, a
    // dims-vector), so the covariance cells and the power iteration run
    // in plain Scala — the old form spent ~7 tiny Spark jobs (one
    // collect per power step plus the covariance collect) on local
    // relations. Arithmetic is replicated operation-for-operation from
    // the Column chain it replaces (binary round with the NaN/Inf
    // pass-through of BinaryRoundExpression, long-wrapping multiplies,
    // Decimal→double via BigDecimal.doubleValue, NaN→0 long casts), so
    // values are bit-identical; PipelineEvalSpec and the q209/q245/
    // q246/q251 oracle rows pin it.
    def round6(x: Double): Double =
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
      else { val f = math.abs(x) * 1e6 + 0.5; math.signum(x) * (f - (f % 1.0)) / 1e6 }
    def bank6(x: Double): Long =
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x.toLong
      else { val f = math.abs(x) * 1e6 + 0.5; (math.signum(x) * (f - (f % 1.0))).toLong }
    val covUpper =
      if (nRows == 0) Array.empty[(Int, Int, Double)]
      else {
        val nD = nRows.toDouble
        (for (i <- 0 until dims; j <- i until dims) yield (i, j)).zipWithIndex.map {
          case ((i, j), k) =>
            val s2d = new java.math.BigDecimal(
              graft.functions.VecMoments.cellValue(hiArr(k), loArr(k))).doubleValue()
            val c = round6(
              (s2d * nRows - sArr(i).toDouble * sArr(j)) / (nD * nD) / 1e12)
            (i, j, c)
        }.toArray
      }
    // full symmetric cell list, 6dp-banked once (c6 = round(c·1e6)→long)
    val covFull = (covUpper ++ covUpper.collect { case (i, j, c) if i != j => (j, i, c) })
      .map { case (i, j, c) => (i, j, bank6(c)) }
    var v: Seq[(Int, Double)] = (0 until dims).map(_ -> 1.0 / math.sqrt(dims.toDouble))
    for (_ <- 1 to iters) {
      val vj6 = v.toMap.map { case (j, vj) => j -> bank6(vj) }
      // u12 per PRESENT i (groupBy semantics: no cells → no group)
      val u12 = scala.collection.mutable.LinkedHashMap.empty[Int, BigInt]
      covFull.foreach { case (i, j, c6) =>
        vj6.get(j).foreach { w =>
          u12(i) = u12.getOrElse(i, BigInt(0)) + BigInt(c6 * w) // long-wrapping multiply, exact sum
        }
      }
      val ss = u12.values.foldLeft(BigInt(0))((acc, u) => acc + u * u)
      val ssD = math.sqrt(ss.toDouble)
      v = u12.toSeq.map { case (i, u) => i -> round6(u.toDouble / ssD) }.sortBy(_._1)
    }
    (firsts, covUpper, v)
  }

  /** Greedy k-center selection (farthest-point sampling, Gonzalez
    * 1985) — the diversity-first data-selection pass coreset pruning
    * uses: start from the lowest-id vector, then repeatedly take the
    * point FARTHEST (squared-L2) from everything chosen so far. The
    * returned per-round `radius` (the max-min distance at selection
    * time) is the classic 2-approximation certificate of the k-center
    * covering radius — how well k exemplars cover the corpus.
    *
    * Deterministic end to end: exact double distances (the native
    * single-eval l2 fold, bit-identical to the oracle's list
    * arithmetic), ties broken to the lowest id; `radius` rounds to 6dp
    * for the report only — selection compares exact values.
    *
    * Plan shape: k sequential passes, each map-only — the chosen
    * centers ride into the task as ≤ k literal arrays, the per-row
    * min-distance is a `least` over native l2 expressions, and the
    * argmax is a TakeOrdered(1). Nothing pairwise, nothing shuffled;
    * the driver holds k×dims doubles (the Lloyd precedent). An empty
    * corpus (no row passes the null/dims filter) is refused loudly;
    * if k exceeds the DISTINCT corpus, selection STOPS at covering
    * radius 0 (the space is perfectly covered — further rounds could
    * only re-pick duplicate centers), so the report may carry fewer
    * than k rows.
    *
    * Output: (sel_round 0-based, vec_id, radius 6dp) — ≤ k rows.
    */
  def kCenterGreedy(emb: DataFrame, k: Int = 8, dims: Int = 64,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val spark = emb.sparkSession
    import spark.implicits._
    val clean = emb.filter(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val firstRows = clean.orderBy(col(idCol)).limit(1)
        .select(col(idCol).cast("long"), col(vecCol)).collect()
      require(firstRows.nonEmpty,
        s"kCenterGreedy: no rows with a non-null length-$dims '$vecCol'")
      val first = firstRows(0)
      var chosen = Vector((first.getLong(0), first.getSeq[Float](1), 0.0))
      var covered = false // covering radius hit 0 — every further pick is a duplicate
      for (_ <- 1 until k if !covered) {
        val dist = chosen.map { case (_, c, _) =>
          graft.functions.VectorExprs.l2Squared(col(vecCol), typedLit(c))
        }.reduceLeft(least(_, _))
        val next = clean
          .select(col(idCol).cast("long").as("__id"), col(vecCol), dist.as("__d"))
          .orderBy(col("__d").desc, col("__id")).limit(1)
          .collect()(0) // ONE row per round — the bounded driver read
        if (next.getDouble(2) == 0.0) covered = true
        else chosen = chosen :+ ((next.getLong(0), next.getSeq[Float](1), next.getDouble(2)))
      }
      def round6(x: Double): Double = {
        val f = math.abs(x) * 1e6 + 0.5
        math.signum(x) * (f - (f % 1.0)) / 1e6
      }
      chosen.zipWithIndex.map { case ((id, _, d), i) => (i, id, round6(d)) }
        .toDF("sel_round", "vec_id", "radius")
    } finally clean.unpersist(blocking = false)
  }

  /** Isotropy report: mean pairwise cosine over ALL ordered vector
    * pairs (self included) via the exact identity
    * mean_cos = ‖Σᵢ uᵢ‖² / n² (uᵢ = unit-normalized vectors) — ONE
    * pass instead of n². Reported for the raw corpus and again after
    * [[removeTopComponent]]: the quantitative proof that the
    * all-but-the-top fix actually flattened the space (a high raw
    * mean cosine — anisotropy — should drop toward 0 post-transform).
    *
    * Banking: unit coordinates round to 6dp longs, per-dim sums are
    * exact longs, the squared-norm total is a decimal sum — the only
    * float steps are the final divisions, identical in any engine.
    *
    * Plan shape: raw side is one posexplode pass + a vec-keyed norm
    * join + two partial aggregates (dims rows, then 1); the post side
    * pays the [[pcaTrace]] it needs. Nothing pairwise, nothing n².
    *
    * Output: one row (n_raw, cos_raw, n_post, cos_post).
    */
  def isotropyReport(corpus: DataFrame, dims: Int = 64, iters: Int = 5,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    isotropyReport(corpus, pcaTrain(corpus, dims, iters, vecCol), idCol, vecCol)

  /** [[isotropyReport]] serving from a pre-trained [[PcaState]]. */
  def isotropyReport(corpus: DataFrame, state: PcaState,
                     idCol: String, vecCol: String): DataFrame = {
    val raw = bankedVecs(corpus, state.dims, idCol, vecCol)
    // post-transform coordinates re-bank per element (≡ the exploded
    // form's round(value·1e6) per row) — map-only, no explode. r15: the
    // transform + re-banking is the ONE native abtt_b6 walk (the r14
    // HOF re-bank nested the already-duplicated __y chain a second
    // time — 256 transform copies in the committed q246 plan).
    val (m6, v6) = abttBank(state)
    val post = DedupOps.widen(corpus)
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === state.dims)
      .select(graft.functions.AbttExprs.abttB6(col(vecCol), m6, v6).as("__b6"))
    meanCosine(raw, "n_raw", "cos_raw")
      .crossJoin(broadcast(meanCosine(post, "n_post", "cos_post")))
  }

  /** Isotropy-GATED all-but-the-top — the composed serving pipeline:
    * train the PCA state ONCE, measure the raw mean pairwise cosine
    * from it (one bounded driver read), and only when the space is
    * measurably anisotropic (cos_raw > `threshold`) emit the
    * [[removeTopComponent]] transform; otherwise pass the corpus
    * through unchanged (same 6dp long form, so downstream schema never
    * branches). Running the q246 diagnostic and the q245 transform as
    * separate jobs pays the O(d²) Gramian trace twice; this is the
    * check → fix composition over ONE trace (the [[ivfTrain]] serving
    * discipline applied to the PCA family).
    *
    * Output: (vec_id, dim 1-based, value 6dp) — n·dims rows either way.
    */
  def abttGated(corpus: DataFrame, threshold: Double = 0.0001, dims: Int = 64,
                iters: Int = 5, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val state = pcaTrain(corpus, dims, iters, vecCol) // the ONE trace
    val raw = bankedCoords(corpus, dims, idCol, vecCol)
    val gate = meanCosine(bankedVecs(corpus, dims, idCol, vecCol), "n", "c")
      .collect() // ONE row
    // an empty or all-zero-vector corpus has no direction to correct:
    // cos is NULL there (n = 0) — take the identity branch (which is
    // itself empty), exactly the oracle's NULL-CASE semantics, instead
    // of NPEing on the unbox
    val cosRaw =
      if (gate.isEmpty || gate(0).isNullAt(1)) 0.0 else gate(0).getDouble(1)
    if (cosRaw > threshold) removeTopComponent(corpus, state, idCol, vecCol)
    else raw.select(col("vec_id"), (col("dim") + 1).as("dim"),
      round(col("b6") / lit(1e6), 6).as("value"))
  }

  /** Banked 6dp long-form coordinates (vec_id, dim 0-based, b6) — the
    * shared input shape of [[meanCosine]] and the [[abttGated]]
    * identity branch.
    */
  private def bankedCoords(corpus: DataFrame, dims: Int,
                           idCol: String, vecCol: String): DataFrame =
    // outer + null filter: trap #7, as in meanCosine — __b6 is always
    // dims elements behind the size filter, so rows are identical
    bankedVecs(corpus, dims, idCol, vecCol)
      .select(col("vec_id"), posexplode_outer(col("__b6")).as(Seq("dim", "b6")))
      .filter(col("dim").isNotNull)

  /** Banked 6dp coordinates in ARRAY form (vec_id, __b6 array<long>) —
    * the r14 [[meanCosine]] input shape: everything per-vector happens
    * on the array row, so nothing explodes before the final per-dim
    * aggregate.
    */
  private def bankedVecs(corpus: DataFrame, dims: Int,
                         idCol: String, vecCol: String): DataFrame = {
    // r15: native one-walk banking (graft.functions.Bank6ArrayExpression,
    // arithmetic ≡ transform(vec, x => round(x·1e6).cast(long))) — the
    // HOF form ran its lambda interpreted AND was re-inlined by
    // CollapseProject into every downstream reference (sum_sq_long,
    // the s2 filter, the posexplode: 3 evaluations per row in q246's raw
    // side); the native expression evaluates once and codegens.
    val x6arr = graft.functions.AbttExprs.bank6(col(vecCol))
    DedupOps.widen(corpus)
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .select(col(idCol).as("vec_id"), x6arr.as("__b6"))
  }

  /** ‖Σ u‖²/n² over banked ARRAY-form coordinates (`__b6`) — see
    * [[isotropyReport]]. Zero vectors carry no direction and are
    * excluded from both n and the sum.
    *
    * r14 plan shape: the per-vector squared norm is ONE native array
    * fold per row (`sum_sq_long` ≡ the exploded `sum(b6*b6)`, wrapping
    * longs either way), so the old explode → vec-keyed aggregate →
    * checkpoint → coords⋈s2 join (two corpus-sized exchanges plus an
    * n·dims join) collapses to map-only work feeding one partial-
    * aggregable per-dim sum; the unit arithmetic is the UNCHANGED
    * round(b6/√s2·1e6) expression, applied per element.
    */
  private def meanCosine(vecs: DataFrame, nName: String, cosName: String): DataFrame = {
    val withS2 = vecs
      .select(col("__b6"), graft.functions.VectorExprs.sumSqLong(col("__b6")).as("s2"))
      .filter(col("s2") > 0)
    val n = withS2.agg(count(lit(1)).as("n"))
    // outer + dim-null filter: plain posexplode infers size/isnotnull
    // conditions below the Generate that re-evaluate the banking walk
    // twice more per row (trap #7); __b6 is non-null non-empty behind
    // s2 > 0, so rows are identical
    val u = withS2
      .select(posexplode_outer(col("__b6")).as(Seq("dim", "b6")), col("s2"))
      .filter(col("dim").isNotNull)
      .select(col("dim"),
        round(col("b6") / sqrt(col("s2").cast("double")) * lit(1e6)).cast("long").as("u6"))
    u.groupBy("dim").agg(sum("u6").as("sd"))
      .agg(sum((col("sd") * col("sd")).cast("decimal(38,0)")).as("ss"))
      .crossJoin(broadcast(n))
      .select(col("n").as(nName),
        round(col("ss").cast("double") / lit(1e12) / col("n") / col("n"), 6).as(cosName))
  }

  /** All-but-the-top embedding post-processing (Mu & Viswanath, ICLR
    * 2018): subtract the corpus mean, then the projection onto the top
    * principal direction — the standard isotropy fix that measurably
    * improves cosine retrieval on anisotropic embedding spaces (the
    * q209 var_share diagnostic decides whether to run it).
    *
    * Same banked trace as [[pcaTopComponent]] (identical means /
    * eigenvector to the 6dp step); the transform itself banks the
    * centered coordinates as exact integers (c6 = x6 − m6), folds the
    * projection p12 = Σ c6·v6 as a literal `dims`-term codegen sum
    * (map-only, order-free longs — NO shuffle, NO window), and emits
    * y_d = round(c6/1e6 − p12/1e12·(v6/1e6), 6) in long form so any
    * engine replays it row-for-row (the q110 lesson).
    *
    * Plan shape: the trace is pcaTopComponent's cost; the transform is
    * one corpus scan with a broadcast dims-row join on pos — entirely
    * map-side, the right 100 TB shape.
    *
    * Output: (vec_id, dim 1-based, value 6dp) — n·dims rows.
    */
  def removeTopComponent(corpus: DataFrame, dims: Int = 64, iters: Int = 5,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame =
    removeTopComponent(corpus, pcaTrain(corpus, dims, iters, vecCol), idCol, vecCol)

  /** [[removeTopComponent]] serving from a pre-trained [[PcaState]] —
    * compose several consumers over ONE trace (the q251 pipeline).
    */
  def removeTopComponent(corpus: DataFrame, state: PcaState,
                         idCol: String, vecCol: String): DataFrame =
    // posexplode_outer + pos-null filter: the plain posexplode infers a
    // size(__y) > 0 AND isnotnull(__y) filter below the Generate, which
    // re-evaluates the abtt walk twice more per row (NOTES_r3 trap #7);
    // __y is never null/empty behind the size === dims filter, so the
    // outer form emits identical rows
    removeTopArr(corpus, state, idCol, vecCol)
      .select(col("vec_id"), posexplode_outer(col("__y")).as(Seq("pos", "value")))
      .filter(col("pos").isNotNull)
      .select(col("vec_id"), (col("pos") + 1).as("dim"), col("value"))

  /** The transform in ARRAY form (vec_id, __y array<double 6dp>) — the
    * r14 internal shape [[isotropyReport]] consumes without exploding;
    * [[removeTopComponent]] is exactly this plus the final posexplode.
    */
  private def removeTopArr(corpus: DataFrame, state: PcaState,
                           idCol: String, vecCol: String): DataFrame = {
    val (m6, v6) = abttBank(state)
    // r15: the whole bank → project → subtract walk is ONE native
    // codegen'd expression (graft.functions.AbttTransformExpression),
    // arithmetic replicated op-for-op from the r14 Column chain. The
    // chain form — a 64-term reduce over element_at(__x6, ·) projected
    // in one select and consumed in the next — was inlined by
    // CollapseProject into 128 copies of the banking transform PER ROW
    // (the committed q245 r14 plan), interpreted because the tree
    // outgrew codegen: q245 4.2 s → 147 s. An opaque native expression
    // cannot be alias-substituted, and it is the right 100 TB shape:
    // map-only, one array walk per row, no broadcast, no literal-array
    // re-planning.
    DedupOps.widen(corpus)
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === state.dims)
      .select(col(idCol).as("vec_id"),
        graft.functions.AbttExprs.abttY(col(vecCol), m6, v6).as("__y"))
  }

  /** Per-dim banked mean and banked top-eigenvector loading as literal
    * arrays — the [[PcaState]] → abtt parameter derivation shared by
    * the __y and __b6 serving forms (arithmetic unchanged from r14:
    * driver-side round6/bank6 without NaN passthrough, vMap lookup per
    * present first-moment position).
    */
  private def abttBank(state: PcaState): (Array[Long], Array[Long]) = {
    def round6(x: Double): Double = {
      val f = math.abs(x) * 1e6 + 0.5
      math.signum(x) * (f - (f % 1.0)) / 1e6
    }
    def bank6(x: Double): Long = {
      val f = math.abs(x) * 1e6 + 0.5
      (math.signum(x) * (f - (f % 1.0))).toLong
    }
    val vMap = state.v.toMap
    val byPos = state.firsts.map { case (pos, n, s) =>
      pos -> ((bank6(round6(s.toDouble / n.toDouble / 1e6)), bank6(vMap(pos))))
    }.toMap
    ((0 until state.dims).map(i => byPos(i)._1).toArray,
      (0 until state.dims).map(i => byPos(i)._2).toArray)
  }

  /** Source-centroid cosine similarity matrix: per-source mean
    * embedding (6dp-banked) and the pairwise cosine between every two
    * sources — the "which corpora live in the same region of
    * embedding space" mixture diagnostic that guides source merging
    * and contamination suspicion. Centroid aggregation is one
    * partial-aggregable pass over the exploded corpus; the matrix
    * join runs over the sources×dims centroid table (tiny by
    * construction — sources are a governance-sized set).
    *
    * Output: (src_a, src_b, cosine) for src_a < src_b, 6dp, dot and
    * norms banked as exact integers in 1e-6-unit space.
    */
  def sourceCentroidSimilarity(docs: DataFrame, emb: DataFrame, dims: Int = 64,
                               docIdCol: String = "doc_id", vecIdCol: String = "vec_id",
                               srcCol: String = "source",
                               vecCol: String = "embedding"): DataFrame = {
    val joined = emb.filter(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .join(docs.select(col(docIdCol).as(vecIdCol), col(srcCol)), Seq(vecIdCol))
    val cents = joined.select(col(srcCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col(srcCol), col("pos"),
        round(col("v").cast("double") * 1e6).cast("long").as("__x6"))
      .groupBy(srcCol, "pos")
      .agg(round(sum("__x6") / count(lit(1)).cast("double") / 1e6, 6).as("c"))
      .select(col(srcCol), col("pos"), round(col("c") * 1e6).cast("long").as("c6"))
      // q104 contract: both matrix sides read the centroid table, whose
      // lineage is the corpus-sized explode aggregate — checkpoint the
      // sources×dims rows rather than aggregate the corpus twice
      .localCheckpoint(true)
    val a = cents.select(col(srcCol).as("src_a"), col("pos"), col("c6").as("a6"))
    val b = cents.select(col(srcCol).as("src_b"), col("pos"), col("c6").as("b6"))
    a.join(b, Seq("pos")).filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sum((col("a6") * col("b6")).cast("decimal(38,0)")).as("__dot"),
        sum((col("a6") * col("a6")).cast("decimal(38,0)")).as("__na"),
        sum((col("b6") * col("b6")).cast("decimal(38,0)")).as("__nb"))
      .filter(col("__na") > 0 && col("__nb") > 0)
      .select(col("src_a"), col("src_b"),
        round(col("__dot").cast("double")
          / (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))), 6)
          .as("cosine"))
  }

  /** Per-source embedding-centroid DRIFT between two corpus snapshots —
    * the incremental-ingestion monitor that says whether yesterday's
    * mixture/similarity decisions still describe today's corpus:
    * cosine between each source's snapshot-A and snapshot-B centroids
    * (near 1 = the source's content region is stable; a drop says the
    * source changed character and its trained gates/centroids need
    * re-derivation). Composes the q210 snapshot-diff convention (two
    * doc frames in) with the q211 centroid banking (6dp centroids,
    * exact integer dot/norms, one float division at the end).
    *
    * Plan shape: one explode + partial-aggregable (source, pos)
    * centroid pass per snapshot, then a sources×dims join — tiny by
    * construction. Sources present in only one snapshot are absent
    * (nothing to compare); zero-norm centroids are filtered.
    *
    * Output: (source, n_a, n_b, drift_cosine 6dp).
    */
  def snapshotCentroidDrift(docsA: DataFrame, docsB: DataFrame, emb: DataFrame,
                            dims: Int = 64, docIdCol: String = "doc_id",
                            vecIdCol: String = "vec_id", srcCol: String = "source",
                            vecCol: String = "embedding"): DataFrame = {
    def cents(docs: DataFrame, tag: String): DataFrame =
      emb.filter(col(vecCol).isNotNull && size(col(vecCol)) === dims)
        .join(docs.select(col(docIdCol).as(vecIdCol), col(srcCol)), Seq(vecIdCol))
        .select(col(srcCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
        .select(col(srcCol), col("pos"),
          round(col("v").cast("double") * 1e6).cast("long").as("__x6"))
        .groupBy(srcCol, "pos")
        .agg(count(lit(1)).as(s"n_$tag"),
          round(round(sum("__x6") / count(lit(1)).cast("double") / 1e6, 6) * 1e6)
            .cast("long").as(s"${tag}6"))
    cents(docsA, "a").join(cents(docsB, "b"), Seq(srcCol, "pos"))
      .groupBy(srcCol)
      .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
        sum((col("a6") * col("b6")).cast("decimal(38,0)")).as("__dot"),
        sum((col("a6") * col("a6")).cast("decimal(38,0)")).as("__na"),
        sum((col("b6") * col("b6")).cast("decimal(38,0)")).as("__nb"))
      .filter(col("__na") > 0 && col("__nb") > 0)
      .select(col(srcCol), col("n_a"), col("n_b"),
        round(col("__dot").cast("double")
          / (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))), 6)
          .as("drift_cosine"))
  }

  /** Index-refresh ACTUATOR — [[snapshotCentroidDrift]] composed with
    * the IVF trained state into a DECISION (the q251 check→fix pattern
    * applied to index maintenance under incremental ingestion):
    * measure per-source centroid drift between snapshot A (the corpus
    * the serving index was trained on) and snapshot B (today's), then
    *  - STABLE (every comparable source's drift_cosine ≥ `minDriftCos`):
    *    keep yesterday's cells — route snapshot B through the A-trained
    *    centroids (the banked identity: the index build is NOT re-paid,
    *    only the new corpus pays its map-only assignment);
    *  - DRIFTED (any source below the floor, or NO comparable source —
    *    nothing says the old cells still describe anything): retrain on
    *    snapshot B and assign against the fresh cells.
    *
    * The gate is ONE bounded driver read (the sources-sized drift
    * aggregate's min). This overload takes yesterday's centroids as the
    * first-class trained state — the production path, where snapshot
    * A's training is a sunk cost and the stable branch costs one
    * assignment scan.
    *
    * Output: (<vecIdCol>, cell, refreshed) over snapshot B's vectors.
    */
  def ivfRefresh(docsA: DataFrame, docsB: DataFrame, emb: DataFrame,
                 stateA: Array[Array[Double]], minDriftCos: Double, kCells: Int,
                 iters: Int, dims: Int, docIdCol: String, vecIdCol: String,
                 srcCol: String, vecCol: String): DataFrame =
    ivfRefreshOn(docsA, docsB, emb, _ => stateA, minDriftCos, kCells, iters,
      dims, docIdCol, vecIdCol, srcCol, vecCol)

  /** [[ivfRefresh]] convenience form: derives the needed state itself —
    * the gate decides FIRST, then exactly ONE Lloyd runs (snapshot A's
    * when stable, snapshot B's when drifted). In production pass
    * yesterday's [[ivfTrain]] output to the state overload; this form
    * re-pays A's training on the stable branch.
    */
  def ivfRefresh(docsA: DataFrame, docsB: DataFrame, emb: DataFrame,
                 minDriftCos: Double = 0.9, kCells: Int = 8, iters: Int = 3,
                 dims: Int = 64, docIdCol: String = "doc_id",
                 vecIdCol: String = "vec_id", srcCol: String = "source",
                 vecCol: String = "embedding"): DataFrame =
    ivfRefreshOn(docsA, docsB, emb,
      stable => ivfTrain(
        emb.join((if (stable) docsA else docsB).select(col(docIdCol).as(vecIdCol)),
          Seq(vecIdCol)), kCells, iters, vecIdCol, vecCol),
      minDriftCos, kCells, iters, dims, docIdCol, vecIdCol, srcCol, vecCol)

  /** The shared gate → train/serve core: `cents(stable)` supplies the
    * centroids for the branch the drift gate picked.
    */
  private def ivfRefreshOn(docsA: DataFrame, docsB: DataFrame, emb: DataFrame,
                           cents: Boolean => Array[Array[Double]],
                           minDriftCos: Double, kCells: Int, iters: Int, dims: Int,
                           docIdCol: String, vecIdCol: String, srcCol: String,
                           vecCol: String): DataFrame = {
    val drift = snapshotCentroidDrift(docsA, docsB, emb, dims, docIdCol,
      vecIdCol, srcCol, vecCol)
    val mins = drift.agg(min("drift_cosine")).collect() // ONE sources-bounded row
    val stable = mins.nonEmpty && !mins(0).isNullAt(0) &&
      mins(0).getDouble(0) >= minDriftCos
    val corpusB = emb.join(docsB.select(col(docIdCol).as(vecIdCol)), Seq(vecIdCol))
    corpusB.filter(col(vecCol).isNotNull)
      .select(col(vecIdCol), assignCell(cents(stable), vecCol).as("cell"),
        lit(!stable).as("refreshed"))
  }

  /** PER-SOURCE partial index refresh — [[ivfRefresh]]'s gate split by
    * source. The q256 decision is global-min: ONE drifted source
    * retrains the whole index and re-routes every vector, so at a
    * 100 TB incremental ingest the common case (one hot source drifts)
    * pays the worst case. Here each source decides for itself:
    *
    *   - drift_cosine ≥ `minDriftCos` → STABLE: that source's
    *     snapshot-B vectors route through yesterday's
    *     (snapshot-A-trained) cells — map-only, refreshed = false;
    *   - below the floor, or NO comparable snapshot-A source → that
    *     source's vectors go through the freshly-trained snapshot-B
    *     quantizer, refreshed = true.
    *
    * COMPARABILITY CONTRACT: `cell` is meaningful only WITHIN a
    * codebook, and `refreshed` IS the codebook tag (false =
    * yesterday's centroids, true = today's). Downstream candidate
    * generation must never equi-join `cell` across the tag — a
    * mixed-tag bucket compares vectors quantized by different
    * centroids. A serving layer treats the two halves as two index
    * partitions (probe both, merge by exact distance) — exactly the
    * staged-migration window every real index rollover has.
    *
    * Cost shape: the gate is TWO sources-bounded driver reads (the
    * drift verdicts + snapshot B's source list); at most TWO Lloyds
    * run, each ONLY when its branch is non-empty — all-stable pays one
    * A-train plus a map-only route, all-drifted pays exactly q256's
    * refresh. In production both codebooks are [[ivfTrain]] state
    * handed in, not retrained per call.
    *
    * Output: (<vecIdCol>, <srcCol>, cell, refreshed) over snapshot B's
    * non-null vectors.
    */
  def ivfRefreshPartial(docsA: DataFrame, docsB: DataFrame, emb: DataFrame,
                        minDriftCos: Double = 0.9, kCells: Int = 8, iters: Int = 3,
                        dims: Int = 64, docIdCol: String = "doc_id",
                        vecIdCol: String = "vec_id", srcCol: String = "source",
                        vecCol: String = "embedding"): DataFrame =
    ivfRefreshPartialOn(docsA, docsB, emb,
      onA => ivfTrain(
        emb.join((if (onA) docsA else docsB).select(col(docIdCol).as(vecIdCol)),
          Seq(vecIdCol)), kCells, iters, vecIdCol, vecCol),
      minDriftCos, dims, docIdCol, vecIdCol, srcCol, vecCol)

  /** [[ivfRefreshPartial]] production form: yesterday's codebook is
    * HANDED IN as [[ivfTrain]] state, so the stable branch costs zero
    * training — only the refresh branch (when non-empty) pays one
    * Lloyd on the new snapshot. The train-once/serve-many discipline
    * (PcaState/KmeansState/ivfTrain) applied to the rollover path.
    */
  def ivfRefreshPartial(docsA: DataFrame, docsB: DataFrame, emb: DataFrame,
                        stateA: Array[Array[Double]], minDriftCos: Double,
                        kCells: Int, iters: Int, dims: Int, docIdCol: String,
                        vecIdCol: String, srcCol: String,
                        vecCol: String): DataFrame =
    ivfRefreshPartialOn(docsA, docsB, emb,
      onA => if (onA) stateA
      else ivfTrain(emb.join(docsB.select(col(docIdCol).as(vecIdCol)), Seq(vecIdCol)),
        kCells, iters, vecIdCol, vecCol),
      minDriftCos, dims, docIdCol, vecIdCol, srcCol, vecCol)

  /** The shared per-source gate → branch-train/serve core:
    * `cents(onA)` supplies the codebook for each branch, and is
    * invoked ONLY for branches with sources to serve.
    */
  private def ivfRefreshPartialOn(docsA: DataFrame, docsB: DataFrame, emb: DataFrame,
                                  cents: Boolean => Array[Array[Double]],
                                  minDriftCos: Double, dims: Int, docIdCol: String,
                                  vecIdCol: String, srcCol: String,
                                  vecCol: String): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val drift = snapshotCentroidDrift(docsA, docsB, emb, dims, docIdCol,
      vecIdCol, srcCol, vecCol)
    // r15: the two gate reads are INDEPENDENT driver-blocking jobs —
    // overlap them (guide §2.6, concurrent independent jobs). Each
    // job's result is unchanged by concurrency; only the idle driver
    // wait between them disappears.
    val stableSrcsF = Future(drift.filter(col("drift_cosine") >= minDriftCos)
      .select(col(srcCol)).collect().map(_.getString(0)).toSet)
    val bSrcsF = Future(docsB.select(col(srcCol)).distinct()
      .collect().map(_.getString(0)).toSet)
    val stableSrcs = Await.result(stableSrcsF, Duration.Inf)
    val bSrcs = Await.result(bSrcsF, Duration.Inf)
    val refreshSrcs = bSrcs -- stableSrcs
    val serveSrcs = stableSrcs intersect bSrcs
    val corpusB = emb
      .join(docsB.select(col(docIdCol).as(vecIdCol), col(srcCol)), Seq(vecIdCol))
      .filter(col(vecCol).isNotNull)
    def branch(srcs: Set[String], cs: Array[Array[Double]], onA: Boolean): DataFrame =
      corpusB.filter(col(srcCol).isin(srcs.toSeq: _*))
        .select(col(vecIdCol), col(srcCol), assignCell(cs, vecCol).as("cell"),
          lit(!onA).as("refreshed"))
    if (refreshSrcs.isEmpty) branch(serveSrcs, cents(true), onA = true)
    else if (serveSrcs.isEmpty) branch(refreshSrcs, cents(false), onA = false)
    else {
      // both branches live: their trainings are independent Lloyd runs
      // on disjoint responsibilities — overlap them too (each is a
      // chain of small driver-gated jobs; serialized they idle half
      // the cluster per phase)
      val aF = Future(cents(true))
      val bF = Future(cents(false))
      branch(serveSrcs, Await.result(aF, Duration.Inf), onA = true)
        .unionByName(branch(refreshSrcs, Await.result(bF, Duration.Inf), onA = false))
    }
  }

  /** Rank-biased overlap between two ranked lists per query: RBO@k
    * with persistence p — the ranked-list agreement measure recall@k
    * flattens (recall treats rank 1 and rank k as equal; RBO weights
    * agreement at the top geometrically, which is what serving
    * actually cares about). Truncated-normalized form:
    * RBO = Σ_{d=1..k} p^(d-1)·(X_d/d) · (1-p)/(1-p^k), X_d = overlap
    * of the two depth-d prefixes; identical lists score exactly 1.
    *
    * X_d for all d comes from ONE join: a shared neighbor enters every
    * prefix from depth max(rank_a, rank_b), so the per-depth overlap
    * is a bounded ≤k fan-out + count — never a per-depth re-join.
    * Per-depth terms bank as integer 1e-9 units before the per-query
    * sum.
    *
    * Output: (query_id, rbo 6dp).
    */
  def rboEval(a: DataFrame, b: DataFrame, k: Int = 10, p: Double = 0.9): DataFrame = {
    val aa = a.select(col("query_id"), col("neighbor_id"), col("rank").as("__ra"))
      .filter(col("__ra") <= k)
    val bb = b.select(col("query_id"), col("neighbor_id"), col("rank").as("__rb"))
      .filter(col("__rb") <= k)
    val m = aa.join(bb, Seq("query_id", "neighbor_id"))
      .select(col("query_id"), greatest(col("__ra"), col("__rb")).as("__m"))
    val xd = m.select(col("query_id"), explode(sequence(col("__m"), lit(k))).as("d"))
      .groupBy("query_id", "d").agg(count(lit(1)).as("__x"))
    val grid = aa.select("query_id").distinct()
      .select(col("query_id"), explode(sequence(lit(1), lit(k))).as("d"))
    grid.join(xd, Seq("query_id", "d"), "left")
      .select(col("query_id"),
        round(pow(lit(p), col("d") - 1) * coalesce(col("__x"), lit(0L)) / col("d")
          * (lit(1.0) - lit(p)) / (lit(1.0) - pow(lit(p), lit(k))) * 1e9)
          .cast("long").as("__t9"))
      .groupBy("query_id")
      .agg(round(sum("__t9") / 1e9, 6).as("rbo"))
  }

  /** Per-source exemplars: the k documents whose embeddings sit
    * closest to their source's mean embedding — the "show me three
    * representative documents per source" selection behind dataset
    * cards and eyeball QA. Medoid-style: distances are to the 6dp-
    * banked centroid ([[sourceCentroidSimilarity]]'s banking), per-
    * vector squared distance is an exact integer sum in 1e-12 units,
    * and the per-source top-k is one window over rows already grouped
    * by source.
    *
    * Output: (source, rank, id, dist 6dp), rank 1..k by (dist, id).
    */
  def sourceExemplars(docs: DataFrame, emb: DataFrame, k: Int = 3, dims: Int = 64,
                      docIdCol: String = "doc_id", vecIdCol: String = "vec_id",
                      srcCol: String = "source",
                      vecCol: String = "embedding"): DataFrame = {
    val joined = emb.filter(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .join(docs.select(col(docIdCol).as(vecIdCol), col(srcCol)), Seq(vecIdCol))
      .select(col(vecIdCol), col(srcCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col(vecIdCol), col(srcCol), col("pos"),
        round(col("v").cast("double") * 1e6).cast("long").as("__x6"))
      .localCheckpoint(true) // centroid aggregate + the distance pass both read it
    val cents = joined.groupBy(srcCol, "pos")
      .agg(round(sum("__x6") / count(lit(1)).cast("double") / 1e6, 6).as("__c"))
      .select(col(srcCol), col("pos"), round(col("__c") * 1e6).cast("long").as("__c6"))
    val d2 = joined.join(broadcast(cents), Seq(srcCol, "pos"))
      .select(col(vecIdCol), col(srcCol),
        ((col("__x6") - col("__c6")) * (col("__x6") - col("__c6"))).as("__t"))
      .groupBy(srcCol, vecIdCol).agg(sum("__t").as("__d12"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(srcCol)
      .orderBy(col("__d12").asc, col(vecIdCol).asc)
    d2.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col(srcCol), col("rank"), col(vecIdCol),
        round(sqrt(col("__d12").cast("double") / 1e12), 6).as("dist"))
  }

  /** Diagonal-Mahalanobis embedding outliers: per-dimension z-scores
    * against the corpus mean/std (the diagonal-covariance Mahalanobis
    * distance squared), summed per vector — the geometric-outlier scan
    * that catches broken encoders and out-of-distribution shards
    * before an index build trusts the vectors. Full covariance would
    * need a dims^2 solve; the diagonal form is the standard first-pass
    * screen and keeps every step an aggregate.
    *
    * Determinism discipline: components quantize to integer 1e-6 units
    * ([[embeddingStats]]'s banking), mean/std round to 6dp BEFORE the
    * z-scores, per-dim z^2 banks as integer 1e-6 units so the per-vec
    * sum is order-free. Zero-std dimensions are skipped (no signal).
    *
    * Plan shape: the exploded corpus is scanned twice (moment
    * aggregate, then z-projection against the broadcast 64-row stats)
    * — both passes are map-side off the parquet scan; materializing
    * the dims-times-larger exploded frame to save the second scan
    * would cost more than it saves. Top-K by score is take-ordered;
    * the rank window runs over K rows only.
    *
    * Output: (id, score, rank) — the K highest-scoring vectors.
    */
  def mahalanobisOutliers(corpus: DataFrame, dims: Int = 64, topK: Int = 20,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val ex = corpus.filter(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col(idCol), col("pos"),
        round(col("v").cast("double") * 1e6).cast("long").as("__x6"))
    val stats = ex.groupBy("pos")
      .agg(count(lit(1)).as("__n"), sum("__x6").as("__s"),
        sum((col("__x6") * col("__x6")).cast("decimal(38,0)")).as("__s2"))
      .select(col("pos"),
        round(col("__s") / col("__n").cast("double") / 1e6, 6).as("__mean"),
        round(sqrt(greatest(lit(0.0),
          (col("__s2").cast("double") * col("__n") - col("__s").cast("double") * col("__s"))
            / (col("__n").cast("double") * col("__n")))) / 1e6, 6).as("__std"))
      .filter(col("__std") > 0)
    val z = (col("__x6") / 1e6 - col("__mean")) / col("__std")
    val scores = ex.join(broadcast(stats), Seq("pos"))
      .select(col(idCol), round(z * z * 1e6).cast("long").as("__z26"))
      .groupBy(idCol)
      .agg(round(sum("__z26") / 1e6, 4).as("score"))
    val top = scores.orderBy(col("score").desc, col(idCol).asc).limit(topK)
    top.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col(idCol).asc)).cast("int"))
  }

  /** SQ8 reconstruction-error report — the QA gate of the quantization
    * tier: mean squared error between each float dimension and its
    * decoded byte code (`lo_d + code·step_d`), i.e. how much geometry
    * the 4× compression actually costs on THIS corpus. One map-only
    * pass over the exploded vectors (encode and decode fuse into the
    * same projection — the codes never materialize); per-dim errors
    * quantize to integer 1e-6 units and the squared sum banks in
    * 128-bit decimal (HUGEINT in the oracle), so the report is exact
    * and order-free at any corpus size.
    *
    * Output: one row (n_vecs, n_vals, mse) — mse in squared value
    * units, rounded 6dp.
    */
  def sqReconError(corpus: DataFrame, bounds: Array[(Double, Double)],
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val loArr = array(bounds.map(b => lit(b._1)).toIndexedSeq: _*)
    val stepArr = array(bounds.map { case (lo, hi) =>
      lit(if (hi > lo) (hi - lo) / 255.0 else 0.0) }.toIndexedSeq: _*)
    val lo = element_at(loArr, col("pos") + 1)
    val step = element_at(stepArr, col("pos") + 1)
    val code = when(step > 0,
      least(lit(255), greatest(lit(0),
        round((col("v").cast("double") - lo) / step).cast("int"))))
      .otherwise(lit(0))
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(round((col("v").cast("double") - (lo + code * step)) * 1e6)
        .cast("long").as("__e6"))
      .agg(count(lit(1)).as("n_vals"),
        sum((col("__e6") * col("__e6")).cast("decimal(38,0)")).as("__ss"))
      .select(expr(s"n_vals div ${bounds.length}").as("n_vecs"), col("n_vals"),
        round(col("__ss").cast("double") / col("n_vals") / 1e12, 6).as("mse"))
  }

  /** SQ8 asymmetric top-k: the corpus is scanned through its BYTE codes
    * only (the floats never re-read — SQ's serving contract); each
    * query's exact float vector scores against the DECODED corpus
    * point, per-dim terms rounded 6dp and summed in dimension order
    * (the q111 determinism discipline), so Spark and the SQL replay
    * agree bit-for-bit. Queries broadcast; the codes scan is the only
    * corpus-sized work.
    */
  def sqTopK(queries: DataFrame, corpus: DataFrame, bounds: Array[(Double, Double)],
             k: Int = 10, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val loArr = array(bounds.map(b => lit(b._1)).toIndexedSeq: _*)
    val stepArr = array(bounds.map { case (lo, hi) =>
      lit(if (hi > lo) (hi - lo) / 255.0 else 0.0) }.toIndexedSeq: _*)
    val codes = sqEncode(corpus, bounds, idCol, vecCol)
      .groupBy(col(idCol).as("neighbor_id"))
      .agg(array_sort(collect_list(struct(col("dim"), col("code")))).as("__dc"))
      .select(col("neighbor_id"), transform(col("__dc"), x => x.getField("code")).as("__codes"))
    val probes = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val term = (c: Column, d: Column) => {
      val decoded = element_at(loArr, d + 1) + c.cast("double") * element_at(stepArr, d + 1)
      round(pow(element_at(col("__qv"), d + 1).cast("double") - decoded, 2.0), 6)
    }
    val dist = round(aggregate(
      transform(col("__codes"), (c, d) => term(c, d)), lit(0.0), (acc, x) => acc + x), 4)
    val w = Window.partitionBy("query_id").orderBy(col("sq_dist").asc, col("neighbor_id").asc)
    codes.join(broadcast(probes), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), dist.as("sq_dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Cross-corpus SEMANTIC admission — [[graft.ops.DedupOps.dedupAgainstCorpus]]'s
    * NEW × CORPUS shape for embeddings (the semDedup analog of q105's
    * MinHash gate): coarse cells train on the CORPUS (the committed
    * deterministic Lloyd), both sides assign to cells, candidate pairs
    * form only as NEW × CORPUS within a shared cell, and a new vector
    * is rejected when its best corpus cosine ≥ `threshold`. The shape
    * that admits a daily embedding batch against a 100 TB lake:
    * corpus×corpus pair work never forms, and the only corpus-sized
    * shuffle is the cell-keyed join.
    *
    * Output per non-null NEW vector: (new_id, is_dup, match_id,
    * match_cos) — best match by cosine, ties to the lowest corpus id.
    */
  def embCrossAdmission(fresh: DataFrame, corpus: DataFrame, threshold: Double = 0.4,
                        k: Int = 8, iters: Int = 3,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val clean = DedupOps.widen(corpus.filter(col(vecCol).isNotNull))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = trainCentroids(clean, k, iters, idCol, vecCol)
      val corpusCells = clean.select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"),
        assignCell(cents, vecCol).as("cell"))
      val freshClean = fresh.filter(col(vecCol).isNotNull)
      val freshCells = freshClean.select(col(idCol).as("new_id"), col(vecCol).as("__nv"),
        assignCell(cents, vecCol).as("cell"))
      val pairs = freshCells.join(corpusCells, Seq("cell"))
        .select(col("new_id"), col("corpus_id"),
          round(cosine(col("__nv"), col("__cv")), 6).as("cos_sim"))
      val best = pairs.groupBy("new_id")
        .agg(max(struct(col("cos_sim").as("c"), (-col("corpus_id")).as("negid"))).as("m"))
        .select(col("new_id"), col("m.c").as("match_cos"), (-col("m.negid")).as("match_id"))
      freshClean.select(col(idCol).as("new_id"))
        .join(best, Seq("new_id"), "left")
        .select(col("new_id"),
          coalesce(col("match_cos") >= threshold, lit(false)).as("is_dup"),
          col("match_id"), col("match_cos"))
    } finally clean.unpersist(blocking = false)
  }

  /** IVF-PQ + exact re-rank — the standard two-stage serving pipeline:
    * the compressed index ([[ivfPqTopK]]) narrows the corpus to `candK`
    * candidates per query through codes alone, then ONLY those
    * candidate rows rejoin their original float vectors for an exact
    * cosine top-`k`. This is how a billion-vector index actually
    * answers: ADC precision loss (q101's recall gate measures it)
    * is bought back on a candidate set ~candK/corpus the size of a
    * brute-force scan.
    *
    * Scale shape: the only full-corpus work is inside ivfPqTopK (codes
    * scan of nprobe cells); the re-rank joins candK×queries id pairs to
    * the corpus on the id key and broadcasts the query vectors. Output
    * matches [[bruteForceTopK]]'s (query_id, neighbor_id, cos_sim,
    * rank) contract.
    */
  def pqRerankTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10, candK: Int = 50,
                   nprobe: Int = 2, kCells: Int = 8, coarseIters: Int = 2, m: Int = 8,
                   subDim: Int = 8, kCodes: Int = 16, pqIters: Int = 2,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cands = ivfPqTopK(queries, corpus, candK, nprobe, kCells, coarseIters,
        m, subDim, kCodes, pqIters, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val nvec = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"),
        norm(col(vecCol)).as("__nn"))
    val qvec = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        norm(col(vecCol)).as("__qn"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    cands.join(nvec, Seq("neighbor_id"))
      .join(broadcast(qvec), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosinePre(col("__qv"), col("__nv"), col("__qn"), col("__nn")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Recall@k CURVE from one approx run and one exact run — the eval
    * report that justifies a serving k: both inputs carry their `rank`
    * column, a broadcast k-values table cuts each at every k in ONE
    * pass (no per-k re-execution — the q101 "reference the exact plan
    * once" discipline, extended to the whole curve), and per-query
    * recalls aggregate to a banked mean (integer 1e-6 units, so the
    * cross-query average is order-free).
    *
    * Output per k: (k, n_queries, mean_recall).
    */
  def recallCurve(approx: DataFrame, exact: DataFrame,
                  ks: Seq[Int] = Seq(1, 5, 10)): DataFrame = {
    val spark = approx.sparkSession
    import spark.implicits._
    val kdf = broadcast(ks.toDF("k"))
    val exK = exact.select(col("query_id"), col("neighbor_id"), col("rank"))
      .crossJoin(kdf).filter(col("rank") <= col("k"))
      .select("k", "query_id", "neighbor_id")
      .localCheckpoint(true) // hit join + per-query size agg both read it
    val ivK = approx.select(col("query_id"), col("neighbor_id"), col("rank"))
      .crossJoin(kdf).filter(col("rank") <= col("k"))
      .select("k", "query_id", "neighbor_id")
    val hits = exK.join(ivK, Seq("k", "query_id", "neighbor_id"))
      .groupBy("k", "query_id").agg(count(lit(1)).as("h"))
    val ke = exK.groupBy("k", "query_id").agg(count(lit(1)).as("k_exact"))
    ke.join(hits, Seq("k", "query_id"), "left")
      .select(col("k"), col("query_id"),
        round(coalesce(col("h"), lit(0L)) * lit(1.0) / col("k_exact"), 6).as("recall"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_queries"),
        sum(round(col("recall") * 1e6).cast("long")).as("__r6"))
      .select(col("k"), col("n_queries"),
        round(col("__r6") / col("n_queries") / 1e6, 6).as("mean_recall"))
  }

  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")).distinct()
        .withColumn("__m", lit(1)), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k_exact"), count(col("__m")).as("hits"))
      .select(col("query_id"), col("k_exact"), col("hits"),
        round(col("hits") * lit(1.0) / col("k_exact"), 6).as("recall"))

  /** Semantic-cluster training layout — the in-context-pretraining
    * ordering: documents land in per-CLUSTER shards (cell = trained
    * k-means cell), positioned within their shard by the seeded hash,
    * so semantically related documents stream adjacently while the
    * within-cluster order stays a reproducible shuffle (the
    * [[graft.ops.SampleOps.shardShuffle]] layout with the shard key
    * learned from the embeddings instead of hashed).
    *
    * Plan shape: the Lloyd training is the committed deterministic
    * k-means (partial aggs, k×dims to the driver); assignment + layout
    * is one map-only pass plus one per-cell window — no global sort.
    * Output: (vec_id, cell, pos).
    */
  def semanticLayout(emb: DataFrame, k: Int = 8, iters: Int = 3, seed: Long = 42,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val clean = DedupOps.widen(emb.filter(col(vecCol).isNotNull))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = trainCentroids(clean, k, iters, idCol, vecCol)
      layoutOn(clean, cents, seed, idCol, vecCol)
        // k-row-per-cell result, materialized eagerly while `clean` is
        // still cached — the window pass reads the cache, not the source
        .localCheckpoint(true)
    } finally clean.unpersist(blocking = false)
  }

  /** [[semanticLayout]] SERVING from a pre-trained [[KmeansState]] —
    * the shard layout over shared cells, no private Lloyd. One
    * map-only assignment pass + the per-cell window; lineage is cheap,
    * so no checkpoint — callers materializing repeatedly checkpoint
    * themselves.
    */
  def semanticLayout(emb: DataFrame, state: KmeansState, seed: Long,
                     idCol: String, vecCol: String): DataFrame =
    layoutOn(DedupOps.widen(emb.filter(col(vecCol).isNotNull)),
      state.centroids, seed, idCol, vecCol)

  /** The layout window over an assigned corpus: per-cell positions in
    * seeded-hash order. Output: (<idCol>, cell, pos).
    */
  private def layoutOn(clean: DataFrame, cents: Array[Array[Double]], seed: Long,
                       idCol: String, vecCol: String): DataFrame = {
    val w = Window.partitionBy("cell")
      .orderBy(SampleOps.seededHash(col(idCol), seed), col(idCol))
    clean.select(col(idCol), assignCell(cents, vecCol).as("cell"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
  }

  /** k-NN majority-vote classification with leave-one-out evaluation —
    * the label-propagation primitive (score an unlabeled/new point by
    * its nearest labeled neighbors; here evaluated on held-out corpus
    * points so accuracy is measurable without a second dataset).
    *
    * Queries are a bounded sample (the q101/q127 eval contract: this is
    * a harness you run on a query sample to pick k, not a corpus×corpus
    * pass), broadcast against one corpus scan; the vote is a k-row-per-
    * query aggregate. Ties break to the smaller label, neighbor ties to
    * the smaller id — deterministic across engines.
    *
    * Output per query: (query_id, true_label, pred_label, votes,
    * correct).
    */
  def knnClassify(queries: DataFrame, corpus: DataFrame, k: Int = 5,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  labelCol: String = "label"): DataFrame = {
    val labeled = corpus.filter(col(vecCol).isNotNull && col(labelCol).isNotNull)
    val top = bruteForceTopK(queries.filter(col(vecCol).isNotNull), labeled, k, idCol, vecCol)
    val votes = top
      .join(labeled.select(col(idCol).as("neighbor_id"), col(labelCol).as("__nl")), Seq("neighbor_id"))
      .groupBy("query_id", "__nl").agg(count(lit(1)).as("__votes"))
      .groupBy("query_id")
      .agg(max(struct(col("__votes").as("v"), (-col("__nl")).as("negl"))).as("m"))
      .select(col("query_id"), (-col("m.negl")).cast("int").as("pred_label"),
        col("m.v").as("votes"))
    queries.filter(col(labelCol).isNotNull)
      .select(col(idCol).as("query_id"), col(labelCol).as("true_label"))
      .join(votes, Seq("query_id"))
      .select(col("query_id"), col("true_label"), col("pred_label"), col("votes"),
        (col("true_label") === col("pred_label")).as("correct"))
  }

  /** Reciprocal-rank fusion of two (or more) ranked retrieval lists —
    * the standard hybrid-search combiner (dense ANN ∪ lexical/quantized
    * retriever): rrf(d) = Σ_lists 1/(c + rank_list(d)), candidates
    * appearing in any list. Each input is (query_id, neighbor_id, rank).
    *
    * Plan shape: the inputs are already k-sized per query, so the union
    * + one partial-aggregated groupBy + per-query top window shuffle
    * only result sets, never the corpus. Per-list terms round 6dp
    * before the sum (q111 determinism discipline); ties break to the
    * smaller neighbor id.
    */
  def rrfFuse(lists: Seq[DataFrame], c: Int = 60, topK: Int = 10): DataFrame = {
    val terms = lists.map(_.select(col("query_id"), col("neighbor_id"),
      round(lit(1.0) / (lit(c) + col("rank")), 6).as("__t")))
    val fused = terms.reduce(_.unionByName(_))
      .groupBy("query_id", "neighbor_id")
      .agg(round(sum(col("__t")), 6).as("rrf_score"), count(lit(1)).as("n_lists"))
    val w = Window.partitionBy("query_id").orderBy(col("rrf_score").desc, col("neighbor_id"))
    fused.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }

  /** Per-cell mean vectors — a one-pass "k-means with given assignment"
    * for IVF centroids (the assignment column already exists in the
    * testdata as `label`; a full Lloyd's iteration would alternate this
    * with re-assignment).
    */
  def cellCentroids(emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
                    cellCol: String = "label"): DataFrame = {
    val dim = size(col(vecCol))
    emb.select(col(cellCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(cellCol, "pos").agg(avg("v").as("mean_v"))
      .groupBy(cellCol)
      .agg(array_sort(collect_list(struct(col("pos"), col("mean_v")))).as("pairs"))
      .select(col(cellCol), transform(col("pairs"), p => p.getField("mean_v").cast("float")).as(vecCol))
  }

  /** Label-noise scan (confident-learning-style): for each sampled
    * vector, the fraction of its k exact nearest neighbors sharing its
    * label — low agreement flags likely MIS-labeled rows for review
    * before the labels train anything. Self is excluded (its own label
    * would bias every score up).
    *
    * Plan shape: the bounded query sample rides the brute-force eval
    * contract (q24/q101); the neighbor-label join keys on the k-sized
    * result set. At corpus scale the scorer runs over IVF-probed
    * candidates instead. Output: (<idCol>, label, n_same, agreement,
    * suspect = agreement < `suspectBelow`).
    */
  def labelNoiseScan(emb: DataFrame, k: Int = 10, nQueries: Int = 50,
                     suspectBelow: Double = 0.3, idCol: String = "vec_id",
                     vecCol: String = "embedding", labelCol: String = "label"): DataFrame = {
    val base = emb.filter(col(vecCol).isNotNull && col(labelCol).isNotNull)
    val qs = base.filter(col(idCol) < nQueries)
    val topk = bruteForceTopK(qs, base, k, idCol, vecCol)
    topk
      .join(base.select(col(idCol).as("neighbor_id"), col(labelCol).as("__nl")),
        Seq("neighbor_id"))
      .join(broadcast(qs.select(col(idCol).as("query_id"), col(labelCol).as("label"))),
        Seq("query_id"))
      .groupBy("query_id", "label")
      .agg(count(lit(1)).as("__kf"),
        sum(when(col("__nl") === col("label"), 1L).otherwise(0L)).as("n_same"))
      .select(col("query_id").as(idCol), col("label"), col("n_same"),
        round(col("n_same") / col("__kf").cast("double"), 6).as("agreement"))
      .withColumn("suspect", col("agreement") < suspectBelow)
  }

  /** IVF cell-balance audit of the trained coarse quantizer: per-cell
    * population, share, and load factor vs the uniform ideal —
    * the serving-p99 gate (a 10× hot cell means 10× probe latency for
    * every query routed there; empty cells waste probes). Empty cells
    * REPORT as zero rows rather than vanishing.
    *
    * Plan shape: one Lloyd training (the committed k-means trace), one
    * map-only assignment + k-row hash aggregate, and a k-row grid
    * left-join so empties surface. Output: (cell, n_vecs, share,
    * load_factor).
    */
  def ivfBalance(emb: DataFrame, k: Int = 8, iters: Int = 3,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val clean = emb.filter(col(vecCol).isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = try {
      val cents = trainCentroids(clean, k, iters, idCol, vecCol)
      clean.select(assignCell(cents, vecCol).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
        .localCheckpoint(true) // grid join + the total both read it
    } finally clean.unpersist(blocking = false)
    val tot = counts.agg(sum("n_vecs").as("__t"))
    (0 until k).toDF("cell")
      .join(counts, Seq("cell"), "left")
      .crossJoin(broadcast(tot))
      .select(col("cell"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        round(coalesce(col("n_vecs"), lit(0L)) / col("__t").cast("double"), 6).as("share"),
        round(coalesce(col("n_vecs"), lit(0L)) * lit(k.toLong) / col("__t").cast("double"), 4)
          .as("load_factor"))
  }

  /** Matryoshka truncation eval: recall@k of brute-force cosine over
    * the FIRST d dimensions against the full-dimension truth, for each
    * d — the harness that decides how far MRL-style embeddings can be
    * truncated (4–8× index shrink) before retrieval quality pays.
    * Truncation is a prefix slice; no re-normalization (cosine
    * normalizes per pair).
    *
    * Plan shape: the full-dim truth executes ONCE (checkpointed —
    * every d's recall join reads it; the q101 reference-once rule);
    * each d adds one brute pass over the bounded query sample. Output:
    * (dims, query_id, k_exact, hits, recall).
    */
  def matryoshkaRecall(emb: DataFrame, dims: Seq[Int] = Seq(8, 16, 32), k: Int = 10,
                       nQueries: Int = 5, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val q = emb.filter(col(idCol) < nQueries)
    val exact = bruteForceTopK(q, emb, k, idCol, vecCol).localCheckpoint(true)
    dims.map { d =>
      def trunc(df: DataFrame): DataFrame =
        df.withColumn(vecCol, slice(col(vecCol), 1, d))
      recallAtK(bruteForceTopK(trunc(q), trunc(emb), k, idCol, vecCol), exact)
        .select(lit(d).as("dims"), col("query_id"), col("k_exact"), col("hits"), col("recall"))
    }.reduce(_.unionByName(_))
  }

  /** Hard-negative mining for contrastive/metric training: for each
    * query vector, the m most-similar corpus vectors with a DIFFERENT
    * label — the near-misses that teach an encoder what "similar but
    * wrong" looks like (random negatives are trivially separable; the
    * top-of-the-wrong-class band carries the gradient signal).
    *
    * Plan shape: same contract as the brute-force eval tier (q24/q101)
    * — queries are a bounded sample broadcast against the corpus, one
    * scan, one k-sized window per query. At corpus scale the scorer
    * runs over IVF-probed candidates instead ([[ivfTrainedTopK]]'s
    * cell-confined join) — the label filter and window are unchanged.
    *
    * Output: (query_id, query_label, neighbor_id, neighbor_label,
    * cos_sim, rank), rank 1..m by descending similarity, ties to the
    * smaller neighbor id.
    */
  def hardNegatives(emb: DataFrame, m: Int = 10, nQueries: Int = 5,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val base = emb.filter(col(vecCol).isNotNull && col(labelCol).isNotNull)
    val q = base.filter(col(idCol) < nQueries)
      .select(col(idCol).as("query_id"), col(labelCol).as("query_label"),
        col(vecCol).as("q_vec"), norm(col(vecCol)).as("q_norm"))
    val c = base.select(col(idCol).as("neighbor_id"), col(labelCol).as("neighbor_label"),
      col(vecCol).as("c_vec"), norm(col(vecCol)).as("c_norm"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id") &&
        col("neighbor_label") =!= col("query_label"))
      .select(col("query_id"), col("query_label"), col("neighbor_id"), col("neighbor_label"),
        round(cosinePre(col("q_vec"), col("c_vec"), col("q_norm"), col("c_norm")), 6).as("cos_sim"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= m)
  }

  /** DCG position weights 1/log2(i+1) for ranks i = 1..k, banked as
    * exact 1e-9 integers. Public so the DuckDB oracle is built from the
    * SAME literals — no cross-engine log in either plan, so DCG sums
    * are order-independent exact longs on both sides.
    */
  def dcgWeightNanos(k: Int): Array[Long] =
    Array.tabulate(k)(i => Math.round(1e9 / (Math.log(i + 2) / Math.log(2.0))))

  /** Ideal DCG (nano units) when relevance is the graded k..1 ladder. */
  def idcgNanos(k: Int): Long =
    dcgWeightNanos(k).zipWithIndex.map { case (w, i) => (k - i).toLong * w }.sum

  /** Graded retrieval eval — NDCG@k + MRR of an approximate ranked
    * list against the exact one (both (query_id, neighbor_id, rank)):
    * the metric tier above recall@k (q101/q176), which is blind to
    * WHERE in the list the truth landed. Relevance of a system item is
    * the graded ladder k+1−truth_rank (0 if outside the exact top-k);
    * DCG banks rel·w_rank in exact nano units with the position
    * weights from [[dcgWeightNanos]]; MRR is 1/rank of the first
    * relevant system item.
    *
    * Plan shape: both inputs are k-sized per query, so everything
    * after the producers shuffles result sets only; the weight table
    * is a k-row broadcast. The expensive side is the exact producer —
    * same bounded-query-sample contract as q101.
    *
    * Output: (query_id, n_hits, dcg, ndcg, mrr).
    */
  def gradedRetrievalEval(approx: DataFrame, exact: DataFrame, k: Int = 10): DataFrame = {
    val spark = approx.sparkSession
    import spark.implicits._
    val wdf = broadcast(dcgWeightNanos(k).zipWithIndex
      .map { case (w, i) => (i + 1, w) }.toSeq.toDF("rank", "__w"))
    val truth = exact.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        (lit(k + 1) - col("rank")).cast("long").as("__rel"))
    approx.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .join(wdf, Seq("rank"))
      .join(truth, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("rank"), col("__w"),
        coalesce(col("__rel"), lit(0L)).as("__rel"))
      .groupBy("query_id")
      .agg(count(when(col("__rel") > 0, 1)).as("n_hits"),
        sum(col("__rel") * col("__w")).as("__dcg9"),
        min(when(col("__rel") > 0, col("rank"))).as("__fr"))
      .select(col("query_id"), col("n_hits"),
        round(col("__dcg9") / 1e9, 6).as("dcg"),
        round(col("__dcg9") / lit(idcgNanos(k).toDouble), 6).as("ndcg"),
        round(coalesce(lit(1.0) / col("__fr"), lit(0.0)), 6).as("mrr"))
  }

  /** External cluster-quality eval of the trained k-means against the
    * ground-truth label column: purity (Σ per-cluster majority mass /
    * n — exact rational) and NMI (mutual information over the
    * cell×label contingency, normalized by √(H_cell·H_label)). The
    * harness that decides whether the learned cells (semDedup, IVF,
    * semantic layout) actually track semantic classes.
    *
    * Determinism: training is the committed deterministic Lloyd
    * ([[kmeans]] trace); every MI/entropy term is computed per
    * contingency cell, rounded to 1e-6 micro-nats, and summed as exact
    * longs (order-free, q140's banking). Plan shape: the contingency
    * table is ONE hash aggregate over the assigned corpus (≤ k×|labels|
    * rows thereafter — driver-scale) and is checkpointed because the
    * size/entropy/MI passes all read it.
    *
    * Output one row: (n, n_cells, n_labels, purity, nmi).
    */
  def clusterLabelEval(emb: DataFrame, k: Int = 8, iters: Int = 3,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       labelCol: String = "label"): DataFrame = {
    val clean = emb.filter(col(vecCol).isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cells = try {
      val cents = trainCentroids(clean, k, iters, idCol, vecCol)
      labelContingency(clean, cents, vecCol, labelCol)
    } finally clean.unpersist(blocking = false)
    labelEvalFromCells(cells)
  }

  /** [[clusterLabelEval]] SERVING from a pre-trained [[KmeansState]] —
    * purity/NMI of the shared cells against the label column, no
    * private Lloyd. One assignment + contingency pass.
    */
  def clusterLabelEval(emb: DataFrame, state: KmeansState,
                       idCol: String, vecCol: String, labelCol: String): DataFrame =
    labelEvalFromCells(labelContingency(
      emb.filter(col(vecCol).isNotNull), state.centroids, vecCol, labelCol))

  /** The cell×label contingency table, CHECKPOINTED — sizes + purity +
    * MI + both entropies all read it (≤ k×|labels| rows).
    */
  private def labelContingency(clean: DataFrame, cents: Array[Array[Double]],
                               vecCol: String, labelCol: String): DataFrame =
    clean.filter(col(labelCol).isNotNull)
      .select(col(labelCol).as("__lbl"), assignCell(cents, vecCol).as("__cell"))
      .groupBy("__cell", "__lbl").agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)

  /** Purity/NMI rollup over the contingency table (driver-scale input;
    * every MI/entropy term banked per the q140 discipline).
    */
  private def labelEvalFromCells(cells: DataFrame): DataFrame = {
    val byCell = cells.groupBy("__cell")
      .agg(sum("__c").as("__a"), max("__c").as("__mx"))
      .localCheckpoint(true) // n/H_cell aggregate + the MI join both read it
    val byLbl = cells.groupBy("__lbl").agg(sum("__c").as("__b"))
      .localCheckpoint(true) // same: H_label aggregate + the MI join
    val tot = byCell.agg(sum("__a").as("n"), sum("__mx").as("__pure"),
      count(lit(1)).as("n_cells"))
    val nLbl = byLbl.agg(count(lit(1)).as("n_labels"))
    // per-cell micro-nat terms, exact-long banked (q140 discipline)
    val mi = cells.join(byCell, "__cell").join(byLbl, "__lbl").crossJoin(broadcast(tot))
      .select(round((col("__c") / col("n").cast("double"))
        * log(col("__c") * col("n").cast("double") / (col("__a") * col("__b"))) * 1e6)
        .cast("long").as("__mi6"))
      .agg(sum("__mi6").as("__mi6"))
    val hc = byCell.crossJoin(broadcast(tot))
      .select(round(-(col("__a") / col("n").cast("double"))
        * log(col("__a") / col("n").cast("double")) * 1e6).cast("long").as("__h6"))
      .agg(sum("__h6").as("__hc6"))
    val hl = byLbl.crossJoin(broadcast(tot))
      .select(round(-(col("__b") / col("n").cast("double"))
        * log(col("__b") / col("n").cast("double")) * 1e6).cast("long").as("__h6"))
      .agg(sum("__h6").as("__hl6"))
    tot.crossJoin(nLbl).crossJoin(mi).crossJoin(hc).crossJoin(hl)
      .select(col("n"), col("n_cells"), col("n_labels"),
        round(col("__pure") / col("n").cast("double"), 6).as("purity"),
        round(when(col("__hc6") > 0 && col("__hl6") > 0,
          col("__mi6") / sqrt(col("__hc6").cast("double") * col("__hl6").cast("double")))
          .otherwise(0.0), 6).as("nmi"))
  }

  /** Simplified (centroid-based) silhouette per cluster — the cluster-
    * quality score that tells a SemDedup/IVF build whether its k
    * produced real structure or arbitrary partitions, at O(n·k)
    * instead of the O(n²) of the classic pairwise silhouette
    * (Rousseeuw 1987; the centroid simplification is the standard
    * large-n form). Per vector: a = squared-L2 to its own centroid,
    * b = min squared-L2 to any other centroid,
    * s = (b − a) / max(a, b) (0 when both are 0); per cluster the mean
    * of 6dp-rounded s banks at 1e6 (exact, order-free).
    *
    * Plan shape: the Lloyd loop is [[kmeans]]'s (deterministic init /
    * tie-break / 4dp rounding — the oracle replays it as unrolled
    * CTEs); assignment is the single-pass literal-centroid expression
    * (map-only); distances come from ONE broadcast nested-loop join
    * against the k-row centroid table (n·k rows, codegen'd l2);
    * the per-cluster rollup is one partial-aggregable groupBy. Nothing
    * shuffles the corpus beyond the Lloyd iterations themselves.
    *
    * Output: (cell, n, mean_sil 6dp) — one row per non-empty cluster.
    */
  def silhouetteReport(emb: DataFrame, k: Int = 8, iters: Int = 3,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 2, "silhouette needs at least 2 clusters (b is undefined for k = 1)")
    val clean = emb.filter(col(vecCol).isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = trainCentroids(clean, k, iters, idCol, vecCol)
      // k-row result, materialized eagerly while `clean` is still
      // cached — the distance pass reads the cache, not the source
      silhouetteOn(clean, cents, idCol, vecCol).localCheckpoint(true)
    } finally clean.unpersist(blocking = false)
  }

  /** [[silhouetteReport]] SERVING from a pre-trained [[KmeansState]] —
    * cluster-quality of the shared cells, no private Lloyd. One
    * assignment + broadcast distance pass.
    */
  def silhouetteReport(emb: DataFrame, state: KmeansState,
                       idCol: String, vecCol: String): DataFrame = {
    require(state.k >= 2, "silhouette needs at least 2 clusters (b is undefined for k = 1)")
    silhouetteOn(emb.filter(col(vecCol).isNotNull), state.centroids, idCol, vecCol)
  }

  /** The simplified-silhouette rollup over an assigned corpus and its
    * k-row broadcast centroid table. Output: (cell, n, mean_sil).
    */
  private def silhouetteOn(clean: DataFrame, cents: Array[Array[Double]],
                           idCol: String, vecCol: String): DataFrame = {
    val spark = clean.sparkSession
    import spark.implicits._
    val centDf = broadcast(
      cents.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toDF("__ocell", "__cv"))
    clean
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        assignCell(cents, vecCol).as("__cell"))
      .filter(col("__cell").isNotNull)
      .crossJoin(centDf)
      .select(col("__id"), col("__cell"), col("__ocell"),
        graft.functions.VectorExprs.l2Squared(col("__v"), col("__cv")).as("__d"))
      .groupBy("__id", "__cell")
      .agg(min(when(col("__ocell") === col("__cell"), col("__d"))).as("__a"),
        min(when(col("__ocell") =!= col("__cell"), col("__d"))).as("__b"))
      .select(col("__cell"),
        round(when(greatest(col("__a"), col("__b")) > 0,
          (col("__b") - col("__a")) / greatest(col("__a"), col("__b")))
          .otherwise(0.0), 6).as("__s"))
      .groupBy(col("__cell").as("cell"))
      .agg(count(lit(1)).as("n"),
        round(sum(round(col("__s") * 1e6).cast("long")) / count(lit(1)) / lit(1e6), 6)
          .as("mean_sil"))
  }

  /** The COMPOSED train-once/serve-many cluster pipeline (the q251
    * check→fix discipline applied to the Lloyd family): ONE
    * deterministic Lloyd trains the cells, ONE checkpointed assignment
    * frame feeds all three consumers — the [[semDedup]] drop verdict,
    * the [[semanticLayout]] shard position, and the per-cell
    * [[silhouetteReport]] quality — where running them as separate
    * jobs pays three private Lloyd loops (iters collect-ferried corpus
    * aggregates each) and three assignment scans for identical
    * centroids.
    *
    * Plan shape: the Lloyd trace (iters partial-agg passes over the
    * cached corpus), then ONE k×dims map-only assignment materialized
    * once; the dedup pair join confines to cells, the layout window
    * partitions by cell, the silhouette rollup is k rows broadcast
    * back onto the verdict join. Nothing scans the source twice.
    *
    * Output: (vec_id, cell, pos, dropped, mean_sil) — one row per
    * non-null vector; mean_sil is the vector's CELL quality (the
    * governance join a curation decision reads next to the verdict).
    *
    * `k = -1` (the ONLY auto sentinel) derives k from the [[semDedupK]]
    * policy (pinned expected cell size — the scale path: a fixed k is
    * quadratic-by-growth in the dedup tier's within-cell pairs). Any
    * other k below 2 is refused — an accidental k = 0 from a config
    * must not silently switch policies. The default stays pinned at
    * 8 for oracle replay.
    */
  def clusterServeReport(emb: DataFrame, k: Int = 8, iters: Int = 3,
                         threshold: Double = 0.4, seed: Long = 42,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         targetCellRows: Long = 4096): DataFrame = {
    require(k == -1 || k >= 2,
      "clusterServeReport needs k >= 2 (silhouette b is undefined for k = 1) " +
        "or the explicit auto-k sentinel k = -1")
    val clean = DedupOps.widen(emb.filter(col(vecCol).isNotNull))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val kEff = if (k >= 1) k else semDedupK(clean.count(), targetCellRows)
      val cents = trainCentroids(clean, kEff, iters, idCol, vecCol)
      val asg = assignFrame(clean, cents, idCol, vecCol)
      val ded = semDedupFromAsg(asg, threshold, Seq("cell"))
      val w = Window.partitionBy("cell")
        .orderBy(SampleOps.seededHash(col("vec_id"), seed), col("vec_id"))
      val lay = asg.select(col("vec_id"), col("cell"))
        .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      val sil = silhouetteOn(asg.select(col("vec_id").as(idCol), col("vec").as(vecCol)),
        cents, idCol, vecCol)
      ded.join(lay.select(col("vec_id"), col("pos")), Seq("vec_id"))
        .join(broadcast(sil.select(col("cell"), col("mean_sil"))), Seq("cell"))
        .select(col("vec_id"), col("cell"), col("pos"), col("dropped"), col("mean_sil"))
    } finally clean.unpersist(blocking = false)
  }
}
