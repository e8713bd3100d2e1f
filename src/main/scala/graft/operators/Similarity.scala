package graft.operators

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers:
  *  - `bruteForceTopK`: exact top-k cosine for a (small, broadcast) query
  *    set against the full corpus. The corpus never shuffles — queries are
  *    broadcast, similarity + per-query top-k run map-side then reduce on
  *    the tiny (query, k) result. This is the correct 100 TB baseline when
  *    |queries| is small.
  *  - `lshTopK`: random-hyperplane LSH. Hyperplanes are deterministic ±1
  *    vectors derived from md5 (reproducible in the SQL oracle), applied to
  *    integer-quantized vectors so bucket signs are exact integer arithmetic
  *    (no float order-sensitivity). Candidates = same bucket → per-query
  *    top-k within bucket. At scale this turns the all-pairs problem into a
  *    bucket-local one (the standard IVF/LSH trade: recall vs candidates).
  *
  * All pair math runs on pre-quantized vectors with precomputed norms and
  * the codegen'd LongArrayDot primitive — one projection pass over each
  * side, then pure integer loops per candidate pair.
  */
object Similarity {

  /** Deterministic ±1 hyperplane component for (plane, dim): +1 iff the
    * first hex digit of md5("p{plane}_{dim}") is 0-7. Computed driver-side
    * (identical to the oracle's md5) and shipped as a literal array. */
  def planeComponent(plane: Int, dim: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"p${plane}_$dim".getBytes("UTF-8"))
    // first hex digit = high nibble of byte 0
    if (((hex(0) >> 4) & 0xf) < 8) 1L else -1L
  }

  /** The `numPlanes` hyperplanes for `dims` dimensions, as literal columns. */
  private def planes(numPlanes: Int, dims: Int): Seq[Column] =
    (0 until numPlanes).map { p =>
      array((0 until dims).map(j => lit(planeComponent(p, j))): _*)
    }

  /** `numPlanes`-bit LSH bucket id of a pre-quantized `array<bigint>`
    * vector: bit p = sign of the integer dot with hyperplane p. */
  def lshBucketQ(qv: Column, numPlanes: Int, dims: Int): Column =
    planes(numPlanes, dims).zipWithIndex.map { case (plane, p) =>
      when(ldot(qv, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Convenience over a raw float/double embedding column. */
  def lshBucket(vec: Column, numPlanes: Int, dims: Int = 64): Column =
    lshBucketQ(quantize1000(vec), numPlanes, dims)

  /** Project to (renamed id, quantized vector, norm²) — one pass per side. */
  private def quantized(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, qvAs: String, nAs: String): DataFrame =
    df.select(col(idCol).as(idAs), quantize1000(col(vecCol)).as(qvAs))
      .withColumn(nAs, ldot(col(qvAs), col(qvAs)))

  /** Embedding-quality audit: cosine of every vector to its LABEL CENTROID
    * — the standard mislabel/outlier detector over a labeled embedding
    * table (a vector far from its own class centroid is a labeling error,
    * an encoder failure, or genuine drift).
    *
    * Exactness: the centroid is the element-wise TRUNCATED integer mean
    * `sum(q_i) div n` in ×1000-quantized space — deterministic and
    * order-free (Spark `div` truncates toward zero; the oracle emulates
    * that for negative sums, since DuckDB `//` floors). Dividing by the
    * label count (rather than using the raw sum, which cosine's scale
    * invariance would otherwise allow) keeps centroid coordinates in the
    * same ×1000 range as the vectors, so the int64 norm dot can NEVER
    * overflow regardless of label size — a raw-sum centroid's norm² wraps
    * silently past ~3e8-member labels. One double division at the very
    * end (the repo-wide vector-parity rule); the norm product is
    * multiplied in DOUBLE.
    *
    * Scale shape: one posexplode partial-agg'd shuffle keyed (label, dim)
    * — 64× row inflation map-side combined down to |labels|·dims rows; the
    * centroid table is broadcast (|labels| ≪ corpus); scoring is one
    * map-side pass with the codegen'd integer dot. The corpus never
    * self-joins and never shuffles whole vectors. */
  def labelCentroidAudit(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      minCosine: Double): DataFrame = {
    // the quantized projection feeds BOTH the centroid aggregation and the
    // scoring join — checkpoint it once (CLAUDE.md: any frame two passes
    // re-read, or the interpreted quantize HOF runs per pass)
    val q = vectors.select(col(idCol).as("vid"), col(labelCol).as("lbl"),
      quantize1000(col(vecCol)).as("qv"))
      .localCheckpoint(true)
    val centroids = truncMeanCentroids(q)
      .withColumn("nc", ldot(col("cv"), col("cv")))
    q.withColumn("nv", ldot(col("qv"), col("qv")))
      .join(broadcast(centroids), "lbl")
      .select(col("vid").as(idCol), col("lbl").as(labelCol),
        quantizedCosinePre(col("qv"), col("cv"), col("nv"), col("nc")).as("centroid_cos"))
      .withColumn("is_outlier", col("centroid_cos") < lit(minCosine))
  }

  /** Exact ROC-AUC of the centroid-dot classifier — "does similarity to
    * the positive class centroid rank positives above negatives?", the
    * standard embedding-quality / linear-probe audit as ONE exact integer
    * statistic. The score is the int64 dot of each ×1000-quantized vector
    * with the positive-label centroid (same truncated-mean centroid as
    * [[labelCentroidAudit]]); AUC is the tie-corrected Mann-Whitney
    * statistic computed on the (distinct score, count, positive count)
    * REGISTER frame: a tie group spanning ranks [a, b] contributes its
    * positives at doubled average rank `2a + n_s − 1` (= `2·cum_before +
    * n_s + 1`), so `AUC·2·n₁·n₀ = Σ_s p_s·(2·cum_s + n_s + 1) −
    * n₁·(n₁+1)` — every term integral, one final floor division to ppm.
    *
    * Scale shape: centroid = one posexplode partial agg + dim-sized
    * collect (sketch-register rule); scoring is a map-side codegen'd dot;
    * the ordered window runs over DISTINCT scores only (q110's register
    * playbook — never the row frame); sums ride DECIMAL(38,0) so 10¹⁰
    * vectors cannot overflow the rank products. */
  def centroidScoreAuc(
      vectors: DataFrame,
      vecCol: String,
      labelCol: String,
      posLabel: Int): DataFrame = {
    val regs = centroidScores(vectors, lit(0L), vecCol, labelCol, posLabel)
      .groupBy("score")
      .agg(count(lit(1)).as("ns"),
        sum(when(col("lbl") === posLabel, 1L).otherwise(0L)).as("ps"))
    val cum = regs.withColumn("cb",
      coalesce(sum(col("ns")).over(Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    def dec(c: Column) = c.cast("decimal(38,0)")
    cum.agg(sum(col("ps")).as("n1"), sum(col("ns")).as("n"),
        sum(dec(col("ps")) * (lit(2L) * col("cb") + col("ns") + 1L)).as("r2"))
      .select(col("n1").as("n_pos"), (col("n") - col("n1")).as("n_neg"),
        call_function("div",
          (col("r2") - dec(col("n1")) * (col("n1") + 1L)) * 1000000L,
          greatest(dec(col("n1")) * (col("n") - col("n1")) * 2L,
            lit(1L).cast("decimal(38,0)"))).as("auc_ppm"))
  }

  /** `(lbl, qv)` frame → `(lbl, cv)` truncated-mean centroids: the
    * element-wise TRUNCATED integer mean `sum(q_i) div n` per label in
    * ×1000-quantized space — the ONE centroid definition shared by
    * [[labelCentroidAudit]], [[centroidScoreAuc]] and [[scoreCalibration]]
    * (single-source rule; see labelCentroidAudit's scaladoc for why the
    * mean, not the raw sum, and why truncation is mirrored in the
    * oracles). Reassembly in dim order via an interpreted HOF is fine —
    * the frame is |labels| rows, never the corpus. */
  private def truncMeanCentroids(q: DataFrame): DataFrame =
    q.select(col("lbl"), posexplode(col("qv")).as(Seq("i", "x")))
      .groupBy("lbl", "i").agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .select(col("lbl"), col("i"), call_function("div", col("s"), col("n")).as("s"))
      .groupBy("lbl").agg(collect_list(struct(col("i"), col("s"))).as("cl"))
      .select(col("lbl"), expr("transform(array_sort(cl), e -> e.s)").as("cv"))

  /** The centroid-dot score frame `(vid, lbl, score)` shared by
    * [[centroidScoreAuc]] and [[scoreCalibration]] (single-source rule:
    * the AUC and the calibration report must agree on the score
    * definition): truncated-mean positive-label centroid in ×1000
    * quantized space, codegen'd int64 dot per vector. */
  private def centroidScores(
      vectors: DataFrame,
      idExpr: Column,
      vecCol: String,
      labelCol: String,
      posLabel: Int): DataFrame = {
    val q = vectors.select(idExpr.as("vid"), col(labelCol).as("lbl"),
      quantize1000(col(vecCol)).as("qv"))
      .localCheckpoint(true)
    // the grouped centroid agg is EMPTY when posLabel is absent from the
    // data; fold to ONE row (a global agg always emits) defaulting to the
    // empty centroid — ldot with [] is 0, so the operator stays total
    // (all scores 0, AUC 0) instead of emitting a NULL row
    val centroid = truncMeanCentroids(q.filter(col("lbl") === posLabel))
      .agg(first(col("cv")).as("cv"))
      .select(coalesce(col("cv"), array().cast("array<bigint>")).as("cv"))
    q.crossJoin(broadcast(centroid))
      .select(col("vid"), col("lbl"), ldot(col("qv"), col("cv")).as("score"))
  }

  /** Calibration report of the centroid-dot classifier: score-ordered
    * NTILE bins with per-bin positive rate — the reliability-diagram
    * companion to [[centroidScoreAuc]]'s single ranking statistic (a
    * well-ranked score can still be mis-calibrated; the bin table shows
    * WHERE). NTILE allocation over the total order (score, vid) is
    * engine-exact (q120/t23 precedent); the per-bin mean score uses the
    * offset floor-division trick because scores can be negative
    * (`(Σ + 10⁹·n) div n − 10⁹`, s27 rule — truncate ≠ floor below 0).
    *
    * Scale note: NTILE over an unpartitioned ORDER BY is a global row
    * sort — this is a REPORT over a scored table (bins are the output,
    * rows the input), the one shape where a total sort is the semantics;
    * at 100 TB you'd bin by fixed score ranges instead (one map-side
    * pass), trading exact deciles for boundedness. */
  def scoreCalibration(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      posLabel: Int,
      bins: Int = 10): DataFrame = {
    val scored = centroidScores(vectors, col(idCol), vecCol, labelCol, posLabel)
      .withColumn("bin",
        ntile(bins).over(Window.orderBy(col("score"), col("vid"))).cast("integer"))
    scored.groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("lbl") === posLabel, 1L).otherwise(0L)).as("n_pos"),
        sum(col("score")).as("ssum"))
      .select(col("bin"), col("n"), col("n_pos"),
        call_function("div", col("n_pos") * 1000000L, col("n")).as("pos_rate_ppm"),
        (call_function("div", col("ssum") + lit(1000000000L) * col("n"), col("n"))
          - 1000000000L).as("mean_score"))
  }

  /** Exact top-k cosine neighbors for each query vector (self excluded).
    * `queries` should be small (it is broadcast). */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = quantized(queries, idCol, vecCol, "query_id", "qv_q", "n_q")
    val c = quantized(corpus, idCol, vecCol, "neighbor_id", "qv_c", "n_c")
    val sims = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        quantizedCosinePre(col("qv_q"), col("qv_c"), col("n_q"), col("n_c")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF (inverted-file) index: a coarse k-means quantizer assigns every
    * vector to its nearest centroid; queries probe only the `nProbe`
    * closest cells. Deterministic: centroids seed from the `nCentroids`
    * lowest-id vectors and run a fixed number of Lloyd iterations — no RNG.
    *
    * Scale shape: centroids are tiny and broadcast; assignment is one
    * map-side pass over the corpus (never shuffled); training aggregates
    * only (centroid, partial-sum) pairs. The classic recall/candidates
    * trade: probe more cells for more recall. */
  def ivfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      iterations: Int = 5,
      localTrainThreshold: Long = LocalTrainThreshold): (DataFrame, Array[Array[Long]]) = {
    // everything in ×1000-quantized integer space: element sums are exact
    // longs and centroids round to integers, so assignments are identical
    // regardless of partitioning AND every distance is a codegen'd ldot
    // (the interpreted per-centroid HOF fold was the bench bottleneck).
    // Checkpoint once: every Lloyd iteration plus the final assignment
    // re-reads this frame — without it each pass re-scans the parquet and
    // re-quantizes (iterations × full-scan jobs).
    val vecs = corpus.select(col(idCol).as("id"), quantize1000(col(vecCol)).as("v"))
      .localCheckpoint(true)
    ivfIndexQuantized(vecs, nCentroids, iterations, localTrainThreshold)
  }

  /** [[ivfIndex]] over a PRE-QUANTIZED, already-checkpointed `(id, v)`
    * frame — lets composite indexes (IVF-PQ) share ONE corpus quantize
    * pass instead of each sub-index re-scanning and re-checkpointing the
    * same projection. */
  def ivfIndexQuantized(
      vecs: DataFrame,
      nCentroids: Int,
      iterations: Int = 5,
      localTrainThreshold: Long = LocalTrainThreshold): (DataFrame, Array[Array[Long]]) = {
    val centroids = trainCentroids(vecs, nCentroids, iterations, localTrainThreshold)
    (assignCells(vecs, centroids).select(col("id"), col("cell")), centroids)
  }

  /** Deterministic Lloyd training over a pre-quantized `(id, v)` frame —
    * the shared quantizer trainer behind [[ivfIndex]] (full vectors) and
    * [[pqTopK]] (per-subspace slices). Seed = the `nCentroids` lowest-id
    * vectors; fixed `iterations`.
    *
    * Adaptive (same trade as GraphAlgorithms.LocalEdgeThreshold): every
    * Lloyd iteration collects (cell, sums) to the driver anyway, so below
    * ~64k vectors collecting the TRAINING SET once and iterating locally
    * with the identical integer argmin/round arithmetic produces the same
    * centroids without per-iteration job scheduling. Assignment of the
    * full corpus stays distributed either way (one map-side pass). */
  private def trainCentroids(
      vecs: DataFrame,
      nCentroids: Int,
      iterations: Int,
      localTrainThreshold: Long = LocalTrainThreshold): Array[Array[Long]] = {
    if (vecs.count() <= localTrainThreshold) {
      // ONE ordered collect supplies the seeds (nCentroids lowest-id
      // vectors) AND the training rows — the old seed-collect + row-collect
      // was an extra job of pure scheduling overhead per training (the PQ
      // family pays this per subspace; guide §1.2 step 1). trainLocal's
      // sums commute, so row order is irrelevant beyond seed selection.
      val rows = vecs.orderBy("id").select("v").collect()
        .map(_.getSeq[Long](0).toArray)
      // contract, not clamp: centroids ship as PLAN LITERALS, so an empty
      // corpus cannot even build the assignment plan — refuse loudly (the
      // empty-world gate enumerates this family as documented refusals)
      require(rows.nonEmpty,
        "index training requires a non-empty corpus (kmeans/IVF centroids are plan literals)")
      return trainLocal(rows, rows.take(nCentroids), iterations)
    }
    // deterministic seed: the nCentroids lowest-id vectors
    var centroids: Array[Array[Long]] = vecs.orderBy("id").limit(nCentroids)
      .select("v").collect().map(_.getSeq[Long](0).toArray)
    require(centroids.nonEmpty,
      "index training requires a non-empty corpus (kmeans/IVF centroids are plan literals)")
    var it = 0
    while (it < iterations) {
      val assigned = assignCells(vecs, centroids)
      // new centroid = rounded mean of members; empty cells keep theirs
      val dims = centroids(0).length
      val sums = assigned
        .groupBy("cell")
        .agg(count(lit(1)).as("n"),
          array((0 until dims).map(i => sum(element_at(col("v"), i + 1))): _*).as("sums"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        val n = r.getAs[Long]("n")
        next(r.getAs[Int]("cell")) =
          r.getSeq[Long](r.fieldIndex("sums")).map(s => Math.round(s.toDouble / n)).toArray
      }
      centroids = next
      it += 1
    }
    centroids
  }

  /** Most norm rows [[itemCosine]] forces to broadcast. An attached norm
    * row is (item, n2), two longs: 24 B as an UnsafeRow (8 B null bitset +
    * 2 × 8 B), so the cap is ~24 MB of rows per broadcast before hash-map
    * overhead. The cap counts rows of that width: a norm frame that gains
    * columns must revisit it. */
  val NormBroadcastMaxRows: Long = 1000000L

  /** Norm-table join side for [[itemCosine]], from the MEASURED item
    * count, not an estimate: a provably small norm table broadcasts (zero
    * pair-side exchanges — the fast plan at gate scale, where AQE's own
    * BHJ conversion also lands); past [[NormBroadcastMaxRows]] it
    * shuffle-hashes — per-partition build side (items/numPartitions),
    * never a sort of the pair frame, safe at any item count where a
    * forced broadcast would OOM (r6 rule). */
  private[graft] def attachNorm(nItems: Long, side: DataFrame): DataFrame =
    if (nItems <= NormBroadcastMaxRows) broadcast(side) else side.hint("shuffle_hash")

  /** Below this many corpus vectors, Lloyd training iterates on the driver
    * (the per-iteration reduction collects there regardless). */
  val LocalTrainThreshold: Long = 65536L

  /** Driver-side Lloyd iterations — bit-identical to the distributed loop:
    * same ‖c‖²−2·v·c integer argmin (strict `<` keeps the lowest cell on
    * ties, matching array_min's struct ordering), same Math.round mean,
    * empty cells keep their centroid. */
  private def trainLocal(
      rows: Array[Array[Long]],
      init: Array[Array[Long]],
      iterations: Int): Array[Array[Long]] = {
    var centroids = init
    val dims = if (centroids.nonEmpty) centroids(0).length else 0
    var it = 0
    while (it < iterations) {
      val norms = centroids.map(c => c.map(x => x * x).sum)
      val sums = Array.ofDim[Long](centroids.length, dims)
      val counts = new Array[Long](centroids.length)
      rows.foreach { v =>
        var best = 0
        var bestD = Long.MaxValue
        var i = 0
        while (i < centroids.length) {
          val c = centroids(i)
          var dot = 0L
          var j = 0
          while (j < dims) { dot += c(j) * v(j); j += 1 }
          val d = norms(i) - 2L * dot
          if (d < bestD) { bestD = d; best = i }
          i += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dims) { sums(best)(j) += v(j); j += 1 }
      }
      centroids = centroids.zipWithIndex.map { case (c, i) =>
        if (counts(i) == 0L) c.clone()
        else sums(i).map(s => Math.round(s.toDouble / counts(i)))
      }
      it += 1
    }
    centroids
  }

  /** argmin over centroids of ‖v−c‖² ≡ argmin of (‖c‖² − 2·v·c): ‖v‖² is
    * constant per row, so distances reduce to one codegen'd integer dot per
    * centroid against a broadcast literal. */
  /** Per-centroid `(distance, cell)` structs for a quantized vector
    * column against LITERAL centroids — the one distance/tie-break
    * algebra shared by cell assignment and every probed-cells site
    * (s3/s10/s16/s36/s40): a fix here lands everywhere at once, which is
    * what the oracle mirrors. */
  private def probeCellStructs(v: Column, centroids: Array[Array[Long]]): Seq[Column] =
    centroids.zipWithIndex.toSeq.map { case (c, i) =>
      val cNorm = c.map(x => x * x).sum
      val d = lit(cNorm) - lit(2L) * ldot(v, lit(c))
      struct(d.as("d"), lit(i).as("cell"))
    }

  private def cellExpr(v: Column, centroids: Array[Array[Long]]): Column =
    // native argmin (CellArgmin) ≡ array_min(array(probeCellStructs)).cell:
    // same ‖c‖²−2·v·c integer distances, same lowest-cell tie-break, zero
    // per-row struct/array allocation — this runs once per corpus row in
    // every IVF assignment (r15 verdict #3, guide §1.2 step 2)
    cellArgmin(v, centroids)

  /** [[cellExpr]] surfaced as BIGINT — the single-source assignment
    * formula for callers whose oracle rides a long cell column (w31's
    * streaming ingest): same struct array_min, same lowest-cell tie-break
    * as [[assignCells]], cast after the argmin so the election cannot
    * drift from the batch path. */
  def assignCellExprLong(v: Column, centroids: Array[Array[Long]]): Column =
    cellExpr(v, centroids).cast("long")

  private def assignCells(vecs: DataFrame, centroids: Array[Array[Long]]): DataFrame =
    vecs.withColumn("cell", cellExpr(col("v"), centroids))

  /** Production ANN INSERT path: assign new vectors to a FROZEN centroid
    * table (no retrain) — returns the same `(id, cell)` shape as
    * [[ivfIndex]]'s cell table, so inserts are a `unionByName` onto the
    * existing index. Row-local map-side work only (broadcast-sized
    * centroid literals, codegen'd ldot distances); by construction the
    * result equals a full re-assignment of the combined corpus against
    * the same centroids — which is what the s40 oracle asserts. */
  def assignToIndex(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Long]]): DataFrame =
    assignCells(
      vectors.select(col(idCol).as("id"), quantize1000(col(vecCol)).as("v")),
      centroids).select(col("id"), col("cell"))

  /** IVF top-k: search only vectors in the `nProbe` cells nearest to each
    * query. Exact cosine within the probed cells. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val (cells, centroids) = ivfIndex(corpus, idCol, vecCol, nCentroids)
    ivfTopKFromIndex(cells, centroids, corpus, queries, idCol, vecCol, k, nProbe)
  }

  /** [[ivfTopK]] against a PREBUILT index — callers sweeping `nProbe` (or
    * serving many query batches) pay the training once; at 100 TB the
    * index build is the expensive pass and searches must reuse it. */
  def ivfTopKFromIndex(
      cells: DataFrame,
      centroids: Array[Array[Long]],
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int): DataFrame = {
    val c = quantized(corpus, idCol, vecCol, "neighbor_id", "qv_c", "n_c")
      .join(cells.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
    // query probes: its nProbe nearest centroids (same quantized space and
    // same ldot distance algebra as training) — one quantized projection,
    // probes exploded in place (no second quantize + self-join)
    val probeCells = probeCellStructs(col("qv_q"), centroids)
    val q = quantized(queries, idCol, vecCol, "query_id", "qv_q", "n_q")
      .withColumn("cell",
        explode(slice(array_sort(array(probeCells: _*)), 1, nProbe).getField("cell")))
    val sims = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        quantizedCosinePre(col("qv_q"), col("qv_c"), col("n_q"), col("n_c")).as("cosine"))
      .distinct() // a neighbor can appear via multiple probed cells
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Hard-negative mining: for each labeled query vector, the top-k most
    * similar corpus vectors with a DIFFERENT label — the contrastive-
    * training staple (the best negatives are the near-misses, not random
    * draws). This is filtered ANN: the IVF index is trained on the FULL
    * corpus, so ONE index serves every label predicate (the filter applies
    * to candidates inside the probed cells, never re-training or
    * re-scanning per filter) — at 100 TB the index is the expensive
    * artifact and label predicates are free candidate-side filters. Same
    * deterministic integer k-means + exact quantized cosine as [[ivfTopK]],
    * so the approximate algorithm stays oracle-able; same recall trade
    * (a hard negative in an unprobed cell is missed). */
  def ivfHardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val (cells, centroids) = ivfIndex(corpus, idCol, vecCol, nCentroids)
    val c = quantized(corpus, idCol, vecCol, "neighbor_id", "qv_c", "n_c")
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("neighbor_label")), "neighbor_id")
      .join(cells.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
    val probeCells = probeCellStructs(col("qv_q"), centroids)
    val q = quantized(queries, idCol, vecCol, "query_id", "qv_q", "n_q")
      .join(queries.select(col(idCol).as("query_id"),
        col(labelCol).as("query_label")), "query_id")
      .withColumn("cell",
        explode(slice(array_sort(array(probeCells: _*)), 1, nProbe).getField("cell")))
    // the label gate runs BEFORE ranking (a same-label near-miss must not
    // occupy a rank slot) and map-side (inside the cell join, so filtered
    // candidates never reach the top-k window)
    val sims = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id") &&
        col("neighbor_label") =!= col("query_label"))
      .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
        quantizedCosinePre(col("qv_q"), col("qv_c"), col("n_q"), col("n_c")).as("cosine"))
      .distinct() // a neighbor can appear via multiple probed cells
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Semantic near-dup via IVF blocking: embedding near-dup pairs where the
    * candidate blocks are the k-means cells of [[ivfIndex]] instead of an
    * exact metadata key. THE 100 TB scale path for semantic dedup — exact
    * blocking keys (label, domain) don't exist for raw embeddings, and
    * all-pairs cosine is quadratic; cells bound candidates to
    * Σ|cell|² ≪ n². Single-probe by design: near-dups straddling a cell
    * boundary are missed (the standard IVF recall trade — more centroids =
    * smaller cells = cheaper pairs but more boundary misses). Deterministic
    * end-to-end: integer k-means (bit-identical on any partitioning) +
    * exact quantized cosine, so the result is oracle-able despite being an
    * approximate algorithm. `maxCellSize` caps a degenerate cell (e.g. a
    * mode-collapsed embedding cluster) exactly like an LSH band cap. */
  def ivfNearDup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      nCentroids: Int = 16,
      iterations: Int = 5,
      maxCellSize: Long = Dedup.defaultMaxBucketSize): DataFrame = {
    val (cells, _) = ivfIndex(corpus, idCol, vecCol, nCentroids, iterations)
    val withCell = corpus.join(cells.withColumnRenamed("id", idCol), idCol)
    Dedup.embeddingNearDup(withCell, idCol, vecCol, "cell", minCosine, maxCellSize)
  }

  /** Multi-probe LSH top-k (the Hamming-1 form of Lv et al., VLDB'07): each
    * query probes its own hyperplane bucket PLUS the `numPlanes` buckets
    * differing in exactly one plane bit — a near neighbor that fell on the
    * other side of a single hyperplane (the dominant LSH miss mode) is
    * recovered. Recall rises toward brute force at `numPlanes + 1`× cost
    * on the QUERY side only: the corpus is bucketed once and never
    * re-shuffled or re-scanned; the probe explosion happens inside the
    * broadcast query relation, and each (query, corpus) pair can match at
    * most once (a corpus row has one bucket; probe buckets are distinct). */
  def lshTopKMultiProbe(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numPlanes: Int = 8,
      dims: Int = 64): DataFrame = {
    val c = quantized(corpus, idCol, vecCol, "neighbor_id", "qv_c", "n_c")
      .withColumn("bucket", lshBucketQ(col("qv_c"), numPlanes, dims))
    val flips = array((lit(0L) +: (0 until numPlanes).map(p => lit(1L << p))): _*)
    val q = quantized(queries, idCol, vecCol, "query_id", "qv_q", "n_q")
      .withColumn("bucket0", lshBucketQ(col("qv_q"), numPlanes, dims))
      .withColumn("flip", explode(flips))
      .select(col("query_id"), col("qv_q"), col("n_q"),
        col("bucket0").bitwiseXOR(col("flip")).as("bucket"))
    val sims = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        quantizedCosinePre(col("qv_q"), col("qv_c"), col("n_q"), col("n_c")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** LSH-bucketed top-k: neighbors searched only within the query's bucket. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numPlanes: Int = 8,
      dims: Int = 64): DataFrame = {
    val c = quantized(corpus, idCol, vecCol, "neighbor_id", "qv_c", "n_c")
      .withColumn("bucket", lshBucketQ(col("qv_c"), numPlanes, dims))
    val q = quantized(queries, idCol, vecCol, "query_id", "qv_q", "n_q")
      .withColumn("bucket", lshBucketQ(col("qv_q"), numPlanes, dims))
    val sims = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        quantizedCosinePre(col("qv_q"), col("qv_c"), col("n_q"), col("n_c")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Product-quantization ANN (Jégou et al., PAMI 2011 shape): the vector
    * space splits into `numSubspaces` contiguous slices, each with its own
    * deterministic k-means codebook ([[trainCentroids]] per slice); every
    * corpus vector is ENCODED as `numSubspaces` small codes, and queries
    * rank candidates by the asymmetric approximation
    * `Σ_s ⟨q_s, codebook_s[code_s]⟩` — inner products against
    * reconstructed centroids, never the original vectors.
    *
    * Why it matters at 100 TB: the searchable index is codes — 8 bytes a
    * vector instead of 512 (64 × int64 quantized) — so the candidate scan
    * shuffles/caches 64× less; the original embeddings are only needed
    * for an (optional) exact re-rank of the short list. Here the encode
    * is ONE zero-shuffle projection (codebooks are driver literals, the
    * argmin is a codegen'd expression per subspace), queries broadcast,
    * and the approx score is integer-exact — no floats anywhere, so the
    * oracle unrolls the whole per-subspace training and reproduces every
    * code and score bit-for-bit. */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numSubspaces: Int = 8,
      subCentroids: Int = 16,
      iterations: Int = 3,
      dims: Int = 64): DataFrame = {
    require(dims % numSubspaces == 0, "dims must divide evenly into subspaces")
    val subDim = dims / numSubspaces
    val vecs = corpus.select(col(idCol).as("id"), quantize1000(col(vecCol)).as("v"))
      .localCheckpoint(true)
    val codebooks = pqCodebooks(vecs, numSubspaces, subDim, subCentroids, iterations)
    val enc = vecs.select(col("id").as("neighbor_id"),
      pqCodesCol(numSubspaces, subDim, codebooks).as("codes"))
    val q = queries.select(col(idCol).as("query_id"),
      quantize1000(col(vecCol)).as("qv_q"))
    val sims = enc.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        pqApproxCol(subDim, codebooks).as("approx_dot"))
    val w = Window.partitionBy("query_id").orderBy(col("approx_dot").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("approx_dot"))
  }

  /** PQ code assignment per (vector, subspace) — the index-health view of
    * the same training/encode pipeline as [[pqTopK]]: deterministic integer
    * k-means per subspace, argmin code per slice, one zero-shuffle encode
    * projection, then an explode to long (id, subspace, code) rows. Used
    * for codebook-balance audits (a subspace whose codes collapse onto few
    * centroids contributes no discrimination to the asymmetric score). */
  def pqCodes(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numSubspaces: Int = 8,
      subCentroids: Int = 16,
      iterations: Int = 3,
      dims: Int = 64): DataFrame = {
    require(dims % numSubspaces == 0, "dims must divide evenly into subspaces")
    val subDim = dims / numSubspaces
    val vecs = corpus.select(col(idCol).as("id"), quantize1000(col(vecCol)).as("v"))
      .localCheckpoint(true)
    val codebooks = pqCodebooks(vecs, numSubspaces, subDim, subCentroids, iterations)
    vecs.select(col("id"),
        pqCodesCol(numSubspaces, subDim, codebooks).as("codes"))
      .select(col("id"), posexplode(col("codes")).as(Seq("subspace", "code")))
  }

  /** PQ reconstruction distortion per subspace — Σ‖v_s − codebook_s[code_s]‖²
    * over the corpus, exact integers end-to-end (quantized slices, integer
    * codebooks). The per-subspace residual energy is the direct read on
    * which subspaces the quantizer represents poorly; one zero-shuffle
    * encode projection, then an m-row aggregate. */
  def pqDistortion(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numSubspaces: Int = 8,
      subCentroids: Int = 16,
      iterations: Int = 3,
      dims: Int = 64): DataFrame = {
    require(dims % numSubspaces == 0, "dims must divide evenly into subspaces")
    val subDim = dims / numSubspaces
    val vecs = corpus.select(col(idCol).as("id"), quantize1000(col(vecCol)).as("v"))
      .localCheckpoint(true)
    val codebooks = pqCodebooks(vecs, numSubspaces, subDim, subCentroids, iterations)
    distortionAgainst(vecs, codebooks, numSubspaces, subDim)
  }

  /** PQ codebook drift — the PQ leg of the index-maintenance trilogy
    * (IVF delete s36, IVF insert s40): codebooks trained on `train` are
    * FROZEN and the distortion is measured on `target` (a corpus
    * increment) — rising per-subspace distortion vs the training-corpus
    * baseline is the "retrain the quantizer" alarm. Encoding the target
    * is row-local map-side work against literal codebooks; the increment
    * pays no training cost. */
  def pqDistortionFrozen(
      train: DataFrame,
      target: DataFrame,
      idCol: String,
      vecCol: String,
      numSubspaces: Int = 8,
      subCentroids: Int = 16,
      iterations: Int = 3,
      dims: Int = 64): DataFrame = {
    require(dims % numSubspaces == 0, "dims must divide evenly into subspaces")
    val subDim = dims / numSubspaces
    val tv = train.select(col(idCol).as("id"), quantize1000(col(vecCol)).as("v"))
      .localCheckpoint(true)
    val codebooks = pqCodebooks(tv, numSubspaces, subDim, subCentroids, iterations)
    val vecs = target.select(col(idCol).as("id"), quantize1000(col(vecCol)).as("v"))
    distortionAgainst(vecs, codebooks, numSubspaces, subDim)
  }

  /** Per-subspace quantization error of `vecs` against literal codebooks:
    * one row-local encode + explode, one subspace-keyed partial agg. */
  private def distortionAgainst(vecs: DataFrame,
      codebooks: Array[Array[Array[Long]]], numSubspaces: Int,
      subDim: Int): DataFrame =
    vecs.select(col("v"),
        pqCodesCol(numSubspaces, subDim, codebooks).as("codes"))
      .select(posexplode(
          pqSubDistortions(col("v"), col("codes"), codebooks, subDim))
        .as(Seq("subspace", "d2")))
      .groupBy("subspace")
      .agg(count(lit(1)).as("n"), sum(col("d2")).as("sum_d2"))

  /** Per-subspace codebooks over a pre-quantized `(id, v)` frame —
    * bounded driver state: m × ksub × subDim longs.
    *
    * Below the local-training threshold the frame is collected ONCE
    * (ordered by id) and every subspace trains on driver-side slices —
    * identical arithmetic (seeds = the ksub lowest-id vectors' slices,
    * same trainLocal loop; Long sums commute so row order is irrelevant)
    * at 2 Spark jobs instead of the per-subspace path's 3·m (seed collect
    * + count + row collect per subspace dominated the PQ family's gate
    * time — pure job-scheduling overhead, guide §1.2 step 1). */
  private def pqCodebooks(vecs: DataFrame, m: Int, subDim: Int, ksub: Int,
      iterations: Int): Array[Array[Array[Long]]] =
    if (vecs.count() <= LocalTrainThreshold) {
      val rows = vecs.orderBy("id").select("v").collect()
        .map(_.getSeq[Long](0).toArray)
      require(rows.nonEmpty,
        "index training requires a non-empty corpus (kmeans/IVF centroids are plan literals)")
      (0 until m).map { s =>
        val off = s * subDim
        // slice semantics of slice(v, off+1, subDim): in-bounds elements only
        val sl = rows.map { v =>
          val lo = math.min(off, v.length)
          java.util.Arrays.copyOfRange(v, lo, math.min(off + subDim, v.length))
        }
        trainLocal(sl, sl.take(ksub), iterations)
      }.toArray
    } else
      (0 until m).map { s =>
        trainCentroids(
          vecs.select(col("id"), slice(col("v"), s * subDim + 1, subDim).as("v")),
          ksub, iterations)
      }.toArray

  /** All m codes in ONE native pass (PqEncode) — argmin per subspace
    * against literal codebooks, no per-centroid slice/struct allocation. */
  private def pqCodesCol(m: Int, subDim: Int,
      codebooks: Array[Array[Array[Long]]]): Column =
    pqEncode(col("v"), codebooks, subDim)

  /** Asymmetric PQ score `Σ_s ⟨q_s, codebook_s[code_s]⟩` — one native pass
    * (PqApproxDot) per candidate pair. Expects `qv_q` (query vector) and a
    * `codes` array column. */
  private def pqApproxCol(subDim: Int,
      codebooks: Array[Array[Array[Long]]]): Column =
    pqApproxDot(col("qv_q"), col("codes"), codebooks, subDim)

  /** IVF-PQ: the billion-scale index shape — the IVF coarse quantizer
    * gates CANDIDATES (only `nProbe` cells are searched) and PQ codes
    * provide the per-candidate score, so a query touches neither the full
    * corpus nor any full vector: candidate volume is bounded by the
    * probed cells and each candidate costs m code-table integer dots.
    * Both stages reuse the audited deterministic machinery ([[ivfIndex]]
    * coarse cells, [[pqTopK]] codebooks/codes), so the composite is as
    * oracle-able as its parts. */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      numSubspaces: Int = 8,
      subCentroids: Int = 16,
      pqIterations: Int = 3,
      dims: Int = 64): DataFrame = {
    require(dims % numSubspaces == 0, "dims must divide evenly into subspaces")
    val subDim = dims / numSubspaces
    // ONE corpus quantize pass + checkpoint shared by the coarse IVF
    // training and the PQ codebooks (each used to re-scan + re-checkpoint
    // the identical projection)
    val vecs = corpus.select(col(idCol).as("id"), quantize1000(col(vecCol)).as("v"))
      .localCheckpoint(true)
    val (cells, centroids) = ivfIndexQuantized(vecs, nCentroids)
    val codebooks = pqCodebooks(vecs, numSubspaces, subDim, subCentroids, pqIterations)
    val enc = vecs.select(col("id").as("neighbor_id"),
        pqCodesCol(numSubspaces, subDim, codebooks).as("codes"))
      .join(cells.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
    val probeCells = probeCellStructs(col("qv_q"), centroids)
    val q = queries.select(col(idCol).as("query_id"), quantize1000(col(vecCol)).as("qv_q"))
      .withColumn("cell",
        explode(slice(array_sort(array(probeCells: _*)), 1, nProbe).getField("cell")))
    val sims = enc.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        pqApproxCol(subDim, codebooks).as("approx_dot"))
      .distinct()
    val w = Window.partitionBy("query_id").orderBy(col("approx_dot").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("approx_dot"))
  }

  /** k-center greedy coreset selection (farthest-first traversal,
    * Gonzalez 1985 — the 2-approximation to the k-center cover): seed at
    * the lowest id, then repeatedly add the point FARTHEST from every
    * selected center. The classic diverse-subset picker for training-data
    * curation ("cover the embedding space with k exemplars"), and the
    * radius sequence it emits is the coverage guarantee: after the r-th
    * pick, every corpus point is within √radius_sq(r) of some center.
    *
    * Exactness: distances are integer squared-L2 on ×1000-quantized
    * vectors (‖v‖² − 2·v·c + ‖c‖², all codegen'd integer dots); argmax
    * ties break to the lowest id — bit-deterministic, fully unrollable in
    * the SQL oracle.
    *
    * Scale shape: the corpus frame carries ONE running register (dmin);
    * each round is a map-side `least(dmin, dist-to-new-center)` update
    * plus a top-1 reduction — k bounded driver collects of ONE row each,
    * no pairwise matrix, no shuffle beyond the top-1. */
  def kCenterSelect(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = corpus.sparkSession
    val vecs = corpus.select(col(idCol).as("id"), quantize1000(col(vecCol)).as("v"))
      .localCheckpoint(true)
    def distTo(c: Array[Long]): Column = {
      val cn = c.map(x => x * x).sum
      ldot(col("v"), col("v")) - lit(2L) * ldot(col("v"), lit(c)) + lit(cn)
    }
    val seedRows = vecs.orderBy("id").limit(1).select("id", "v").collect()
    // same contract as trainCentroids: greedy k-center seeds are plan
    // literals, an empty corpus refuses loudly (empty-world gate)
    require(seedRows.nonEmpty,
      "k-center training requires a non-empty corpus")
    val seed = seedRows(0)
    val picks = scala.collection.mutable.ArrayBuffer(
      (1, seed.getLong(0), 0L))
    var cur = vecs.withColumn("dmin", distTo(seed.getSeq[Long](1).toArray))
    var r = 2
    while (r <= k) {
      val top = cur.orderBy(col("dmin").desc, col("id")).limit(1)
        .select("id", "v", "dmin").collect()(0)
      picks += ((r, top.getLong(0), top.getLong(2)))
      cur = cur.withColumn("dmin",
        least(col("dmin"), distTo(top.getSeq[Long](1).toArray)))
      r += 1
    }
    import spark.implicits._
    picks.toSeq.toDF("rank", "center_id", "radius_sq")
  }

  /** Two-stage PQ retrieval: [[pqTopK]] produces a `poolSize` candidate
    * short list from codes alone, then ONLY those candidates fetch their
    * real vectors for an exact quantized-cosine re-rank — the production
    * ANN serving pattern (approximate index narrows, exact math decides).
    * At 100 TB the full-vector table is touched for poolSize rows per
    * query instead of the corpus. */
  def pqRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      poolSize: Int,
      numSubspaces: Int = 8,
      subCentroids: Int = 16,
      iterations: Int = 3,
      dims: Int = 64): DataFrame = {
    require(poolSize >= k, "poolSize must be >= k")
    val cand = pqTopK(corpus, queries, idCol, vecCol, poolSize,
      numSubspaces, subCentroids, iterations, dims)
      .select(col("query_id"), col("neighbor_id"))
    val c = quantized(corpus, idCol, vecCol, "neighbor_id", "qv_c", "n_c")
    val q = quantized(queries, idCol, vecCol, "query_id", "qv_q", "n_q")
    val sims = cand.join(c, Seq("neighbor_id")).join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        quantizedCosinePre(col("qv_q"), col("qv_c"), col("n_q"), col("n_c")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** MMR (maximal marginal relevance) diversified top-k: greedy selection
    * maximizing `λ·cos(q,c) − (1−λ)·max_{s∈selected} cos(c,s)` — the
    * classic redundancy-penalized retrieval (Carbonell & Goldstein, SIGIR
    * '98), the standard fix when a plain ANN top-k returns five copies of
    * the same near-duplicate document.
    *
    * Two stages, split by what scales: the candidate POOL (top `poolSize`
    * by exact cosine) is the distributed part — same broadcast-queries
    * map-side shape as [[bruteForceTopK]], corpus never shuffles; the
    * greedy re-rank is inherently sequential but runs per query over ≤
    * `poolSize` candidates, so it executes as one `flatMapGroups` whose
    * group work is O(poolSize²·dims) on quantized integer vectors —
    * bounded, shuffle-parallel across queries, no driver involvement.
    *
    * Determinism/parity: all cosines are the canonical quantized form
    * (integer dot ÷ √(double norm product)) — bit-identical to the SQL
    * oracle's unrolled greedy rounds; ties in MMR score break toward the
    * smallest neighbor id on both sides. Requires long ids. */
  def mmrDiversifyTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      poolSize: Int,
      lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && poolSize >= k, "need 1 <= k <= poolSize")
    val q = quantized(queries, idCol, vecCol, "query_id", "qv_q", "n_q")
    val c = quantized(corpus, idCol, vecCol, "neighbor_id", "qv_c", "n_c")
    val sims = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv_c"),
        quantizedCosinePre(col("qv_q"), col("qv_c"), col("n_q"), col("n_c")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    val pool = sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= poolSize)
    val spark = corpus.sparkSession
    import spark.implicits._
    pool
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("cosine"), col("qv_c"))
      .as[(Long, Long, Double, Seq[Long])]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Seq[Long])]) =>
        def dot(a: Array[Long], b: Array[Long]): Long = {
          var s = 0L; var i = 0
          while (i < a.length) { s += a(i) * b(i); i += 1 }; s
        }
        // same canonical double as quantizedCosinePre/the oracle's cosSql
        def cos(a: Array[Long], na: Long, b: Array[Long], nb: Long): Double =
          if (na == 0L || nb == 0L) 0.0
          else dot(a, b).toDouble / math.sqrt(na.toDouble * nb.toDouble)
        val remaining = scala.collection.mutable.ArrayBuffer(
          it.map { case (_, id, rel, qv) =>
            val arr = qv.toArray
            (id, rel, arr, dot(arr, arr))
          }.toSeq: _*)
        val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Array[Long], Long)]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
        var rank = 1
        while (rank <= k && remaining.nonEmpty) {
          val best =
            if (sel.isEmpty) remaining.minBy(cd => (-cd._2, cd._1))
            else remaining.minBy { cd =>
              val ms = sel.iterator.map(s => cos(cd._3, cd._4, s._3, s._4)).max
              (-(lambda * cd._2 - (1.0 - lambda) * ms), cd._1)
            }
          remaining -= best
          sel += best
          out += ((qid, rank, best._1, best._2))
          rank += 1
        }
        out.iterator
      }
      .toDF("query_id", "mmr_rank", "neighbor_id", "cosine")
  }

  /** Recall@k of an approximate top-k result against exact ground truth —
    * the evaluation every ANN index ships with. Both inputs are top-k
    * frames with (query_id, neighbor_id); output is one row per ground-
    * truth query: (query_id, n_hits, recall_ppm) where recall_ppm is the
    * exact floor ppm `10⁶·|approx ∩ truth| div k` (integer division per
    * the repo ppm rule). Queries the approximate index missed entirely
    * still appear with 0 — silent drops would overstate recall.
    *
    * Scale shape: one equi-join on (query_id, neighbor_id) — both sides
    * are k rows per query, so this joins RESULT-sized frames; the corpus
    * is never touched. */
  def annRecall(truth: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val t = truth.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val hits = t.join(a, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    t.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        call_function("div",
          lit(1000000L) * coalesce(col("n_hits"), lit(0L)), lit(k.toLong))
          .as("recall_ppm"))
  }

  /** NDCG@k ranking quality of an approximate top-k against brute-force
    * truth — the graded companion to [[annRecall]] (which only counts set
    * hits; NDCG also charges the approx list for ranking good neighbors
    * low).
    *
    * EXACT arithmetic via a harmonic discount: position i contributes
    * gain/(i+1) with gain = k−truth_rank+1, and scaling by L = lcm(2..k+1)
    * makes every term an integer — `L div (i+1)` is exact — so DCG is an
    * integer sum and the single double division by the (constant, ideal)
    * IDCG happens once. The log2 discount of textbook NDCG is NOT used:
    * neither engine guarantees correctly-rounded logs, and harmonic
    * weighting preserves the metric's ordering semantics.
    *
    * Scale shape: joins two RESULT-sized top-k frames on (query, neighbor)
    * — the corpus is never touched. Zero-hit queries surface with ndcg 0. */
  def ndcgAt(truth: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    // lcm(2..k+1) grows ~e^k: L(30) ≈ 2.3e12 and the largest DCG sum is
    // ≤ k²·L — still < 2^63 at k=30, overflow (ANSI runtime error) beyond
    require(k > 0 && k <= 30, "k must be in [1, 30]: lcm(2..k+1) overflows Long past that")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val L = (2 to k + 1).map(_.toLong).foldLeft(1L)((l, x) => l / gcd(l, x) * x)
    val idcg = (1 to k).map(i => (k - i + 1).toLong * (L / (i + 1))).sum
    val gains = truth.select(col("query_id"), col("neighbor_id"),
      (lit(k + 1) - col("rank")).cast("long").as("gain"))
    // integral div (Spark `/` on longs is double division — exact only
    // below 2^53, and L grows as lcm(2..k+1))
    val discs = approx.select(col("query_id"), col("neighbor_id"),
      call_function("div", lit(L), col("rank").cast("long") + lit(1L)).as("disc"))
    val dcg = discs.join(gains, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(sum(col("gain") * col("disc")).as("dcg_scaled"))
    truth.select("query_id").distinct()
      .join(dcg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("dcg_scaled"), lit(0L)).as("dcg_scaled"),
        (coalesce(col("dcg_scaled"), lit(0L)).cast("double") / idcg.toDouble).as("ndcg"))
  }

  /** Item–item cosine similarity over a sparse (user, item, value) rating
    * matrix — the classic "customers who bought X also bought Y, weighted"
    * collaborative-filtering neighborhood (Sarwar et al., WWW'01).
    *
    * Exactness: dots and squared norms are integer sums over the SAME
    * capped matrix; the only double is the final
    * `dot / √(‖a‖²·‖b‖²)` — the repo's canonical one-hop division.
    *
    * Scale shape: duplicate (user, item) rows are SUMMED first (so the cap
    * counts distinct items by construction — no footgun), then ONE
    * user-key shuffle builds each user's sorted (item, value) array, the
    * cap is a free row-local size filter, and co-rated pairs are a
    * row-local in-array explode (two native generators, the q54 basket
    * shape) — per-user work bounded at cap², and the former per-user
    * self-join's extra exchange is gone; norms are one item-keyed
    * aggregate over the same capped arrays; the top-k is TakeOrdered. The
    * capped array frame is checkpointed once (read by norms + pairs).
    *
    * Returns (rank, item_a, item_b, dot, cosine), top `k` by cosine. */
  def itemCosine(
      ratings: DataFrame,
      userCol: String,
      itemCol: String,
      valueCol: String,
      maxUserItems: Long,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = ratings
      .groupBy(col(userCol).as("__u"), col(itemCol).as("__i"))
      .agg(sum(col(valueCol)).as("__q"))
      .groupBy("__u")
      .agg(sort_array(collect_list(struct(col("__i").as("i"), col("__q").as("q"))))
        .as("iv"))
      .filter(size(col("iv")) <= maxUserItems)
      .localCheckpoint(true)
    // items-sized and read by BOTH norm joins — checkpoint once; the
    // count below picks the attach strategy from the ACTUAL size
    val nrm = byUser.select(explode(col("iv")).as("e"))
      .groupBy(col("e.i").as("__i")).agg(sum(col("e.q") * col("e.q")).as("n2"))
      .localCheckpoint(true)
    val nItems = nrm.count()
    val dots = byUser
      .select(col("iv"), posexplode(col("iv")).as(Seq("x", "a")))
      .select(col("a"), explode(expr("slice(iv, x + 2, size(iv) - x - 1)")).as("b"))
      .groupBy(col("a.i").as("item_a"), col("b.i").as("item_b"))
      .agg(sum(col("a.q") * col("b.q")).as("dot"))
    // norm attach: the pair frame is O(items·cap) rows and nrm O(items) —
    // the planner's SMJ sorts the PAIR side twice just to join a frame
    // that is always the smaller of the two (the r16 sf1 stage
    // decomposition, OPTIMIZATION_r16.md: stages sum ~11 s, full query
    // 38 s — the gap was exactly these two sorts; the plain plan measured
    // 53.6 s vs 14.7 s under shuffle_hash). Strategy is picked from the
    // MEASURED item count, see [[attachNorm]].
    val scored = dots
      .join(attachNorm(nItems, nrm.select(col("__i").as("item_a"), col("n2").as("na"))), "item_a")
      .join(attachNorm(nItems, nrm.select(col("__i").as("item_b"), col("n2").as("nb"))), "item_b")
      .withColumn("cosine",
        col("dot").cast("double") / sqrt(col("na").cast("double") * col("nb").cast("double")))
    scored.orderBy(col("cosine").desc, col("item_a"), col("item_b")).limit(k)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("cosine").desc, col("item_a"), col("item_b"))).cast("int"))
      .select(col("rank"), col("item_a"), col("item_b"), col("dot"), col("cosine"))
  }

  /** Mutual-1-NN pairs from an undirected `(id_a, id_b, cosine)` candidate
    * pair table (e.g. [[ivfNearDup]] output): each vector's single best
    * neighbor, kept only when the choice is reciprocal — the high-
    * precision pair proposer of entity matching and the edge set of
    * [[graft.queries]] s39's clustering.
    *
    * The per-id 1-NN election is ONE map-side partial agg: max of a
    * `(cosine, -nb)` struct ≡ highest cosine with ties to the SMALLEST
    * neighbor id — identical to the `row_number() over (order by cosine
    * desc, nb)` = 1 election, without shuffling the full pair table
    * through a per-id sort. The 1-NN table (corpus-sized, tiny next to
    * the pairs) is checkpointed once so the mutual self-join doesn't
    * recompute the candidate chain on both sides.
    *
    * PRECONDITION: id columns must be NUMERIC (the tie-break negates
    * `nb`) — a string-id pair table fails analysis; map string ids to
    * longs first (the q107 long-encoding rule). */
  def mutualOneNn(pairs: DataFrame): DataFrame = {
    val nn1 = oneNnTable(pairs)
    nn1.select(col("id").as("id_a"), col("nb").as("id_b"), col("cosine"))
      .join(nn1.select(col("nb").as("id_a"), col("id").as("id_b")),
        Seq("id_a", "id_b"))
      .filter(col("id_a") < col("id_b"))
  }

  /** The per-id 1-NN election behind [[mutualOneNn]], exposed for the
    * hubness audit (s48): each id's single best neighbor from an
    * undirected candidate pair table — the map-side `max(struct(cosine,
    * -nb))` election, checkpointed (≥2 consumers downstream in every
    * caller). Same NUMERIC-id precondition as [[mutualOneNn]]. */
  def oneNnTable(pairs: DataFrame): DataFrame = {
    val sym = pairs.select(col("id_a").as("id"), col("id_b").as("nb"), col("cosine"))
      .unionByName(pairs.select(col("id_b").as("id"), col("id_a").as("nb"), col("cosine")))
    sym.groupBy("id")
      .agg(max(struct(col("cosine"), (-col("nb")).as("nnb"))).as("m"))
      .select(col("id"), (-col("m.nnb")).as("nb"), col("m.cosine").as("cosine"))
      .localCheckpoint(true)
  }

  /** Dominant principal direction of the embedding covariance by
    * integer power iteration ([[principalDirectionPpm]]) — the "collapsed
    * embedding space" audit: a single direction soaking up most variance
    * means the encoder (or a dedup bug upstream) has crushed the
    * representation.
    *
    * DETERMINISTIC AND EXACT at any scale, by construction:
    *  - vectors are ×1000-quantized; the per-dim mean is the offset-rule
    *    truncated integer mean (sign-safe on both engines);
    *  - the covariance register is Σ c_i·c_j over centered integers — one
    *    (dim, dim)-keyed partial-agg'd shuffle, dims²-sized output; the
    *    corpus is touched once (work n·d² map-side, like any Gram matrix);
    *  - each power step is cov·v in DECIMAL(38) (≡ DuckDB HUGEINT —
    *    products bounded by 64·4·10⁶·n·10⁶, inside 10³⁸ for any feasible
    *    n), then an integer max-abs normalization to ±10⁶ ppm with the
    *    sign canonicalized positive-at-argmax (offset floor-div rule, so
    *    truncate-vs-floor can never diverge) — magnitudes CANNOT grow
    *    across iterations, so the iteration count is unbounded-safe;
    *  - argmax ties break to the lowest dim.
    *
    * [[principalDirectionPpm]] returns one row per dimension:
    * (dim, loading_ppm ∈ [−10⁶, 10⁶]).
    *
    * Below: the exact integer covariance register `(i, j, cv)` over ×1000-quantized
    * vectors — the ONE corpus-sized pass behind s37/s38. The offset-mean
    * register is dim-sized, so collecting it is bounded (the sketch-
    * register rule) and centering becomes a row-local zip_with against a
    * literal; the Gram outer product is then a row-local two-generator
    * upper-triangle explode (the q54 basket shape — n·d²/2 rows straight
    * into a d²-keyed partial agg, NO id-keyed self-join exchange: the
    * former cent⋈cent shuffle was the whole cost of s38) mirrored to the
    * full matrix at register size. */
  private def covarianceRegister(
      vectors: DataFrame,
      idCol: String,
      vecCol: String): (DataFrame, DataFrame) = {
    // checkpoint: the mean collect and the Gram pass both read this frame,
    // and the interpreted quantize HOF must not run per pass (the
    // labelCentroidAudit two-pass rule); callers also count it for free
    val q = vectors.select(col(idCol).as("id"), quantize1000(col(vecCol)).as("qv"))
      .localCheckpoint(true)
    // mean offset 10⁶ (not 10³): floor((s+K·n)/n)−K is K-invariant where
    // the numerator is non-negative, so this is hash-identical to the old
    // 10³ offset while staying sign-safe down to a per-dim mean of −10⁶
    // (quantized) instead of −10³ — same spelling in the oracle chain
    val muArr = q.select(posexplode(col("qv")).as(Seq("i", "x")))
      .groupBy("i").agg(
        expr("((sum(x) + 1000000 * count(1)) div count(1)) - 1000000").as("mu"))
      .orderBy("i").collect().map(_.getLong(1)) // dim-sized register collect
    val cent = q.select(
      zip_with(col("qv"), lit(muArr), (x, m) => x - m).as("c"))
    val ut = cent
      .select(col("c"), posexplode(col("c")).as(Seq("x", "ci")))
      .select(col("x").as("i"), col("ci"),
        posexplode(expr("slice(c, x + 1, size(c) - x)")).as(Seq("p", "cj")))
      .select(col("i"), (col("i") + col("p")).as("j"),
        (col("ci") * col("cj")).as("t"))
      .groupBy("i", "j").agg(sum(col("t")).as("cv"))
    val cov = ut.unionByName(ut.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("cv")))
      .localCheckpoint(true)
    (cov, q)
  }

  /** Shared integer power iteration over a `(i, j, cv)` covariance
    * register: v₀ = 1, each step is C·v in DECIMAL(38) then a ±10⁶
    * max-abs ppm normalization (offset floor-div, sign canonicalized
    * positive-at-argmax, argmax ties to the lowest dim) — magnitudes
    * CANNOT grow, so the iteration count is unbounded-safe. Returns the
    * final `(j, vv)` register, checkpointed (dim-sized) so multi-consumer
    * reads (s38 touches it three times) never replay the iteration
    * chain. */
  private def powerIterationPpm(cov: DataFrame, iterations: Int): DataFrame = {
    val dims = cov.filter(col("j") === 0).select(col("i"))
    var v = dims.select(col("i").as("j"), lit(1L).cast("decimal(38,0)").as("vv"))
    for (_ <- 1 to iterations) {
      val u = cov.join(v, "j")
        .groupBy(col("i"))
        .agg(sum(col("cv").cast("decimal(38,0)") * col("vv")).as("u"))
      val mx = u.orderBy(abs(col("u")).desc, col("i")).limit(1)
        .select(col("u").as("um"))
      // um = 0 (all-zero matvec: zero covariance, or n = 1) would
      // normalize to a confident-looking −10⁶ on every dim; emit 0
      // loadings instead (mirrored in the oracle's v$k CTE — a no-op
      // whenever the matvec is nonzero, so hashes cannot move)
      v = u.crossJoin(broadcast(mx))
        .select(col("i").as("j"),
          expr("cast(case when um = 0 then 0 else" +
            " ((case when um < 0 then -u else u end) * 1000000" +
            " + abs(um) * 1000000) div greatest(abs(um), 1) - 1000000 end" +
            " as decimal(38,0))")
            .as("vv"))
    }
    v.localCheckpoint(true)
  }

  def principalDirectionPpm(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      iterations: Int = 3): DataFrame = {
    val (cov, _) = covarianceRegister(vectors, idCol, vecCol)
    powerIterationPpm(cov, iterations)
      .select(col("j").cast("int").as("dim"), col("vv").cast("long").as("loading_ppm"))
  }

  /** How collapsed is the embedding space — the fraction of total variance
    * along the [[principalDirectionPpm]] direction, as the exact integer
    * Rayleigh-over-trace ratio `(vᵀCv · 10⁶) div (trace(C) · vᵀv)` ∈
    * [0, 10⁶] ppm (C is PSD so the numerator is non-negative — floor and
    * truncate agree). 1/dims ≈ 15625 ppm is isotropic; → 10⁶ means one
    * direction owns the space (encoder collapse or upstream dedup bug).
    * Same registers as the direction: cov is the only corpus-sized work. */
  def varianceConcentrationPpm(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      iterations: Int = 3): DataFrame = {
    val (cov, q) = covarianceRegister(vectors, idCol, vecCol)
    val v = powerIterationPpm(cov, iterations)
    val rayleighNum = cov
      .join(v.select(col("j").as("i"), col("vv").as("vi")), "i")
      .join(v.select(col("j"), col("vv").as("vj")), "j")
      .agg(sum(col("vi") * col("cv").cast("decimal(38,0)") * col("vj")).as("num"))
    val traceNorm = cov.filter(col("i") === col("j"))
      .agg(sum(col("cv").cast("decimal(38,0)")).as("trace"))
      .crossJoin(broadcast(v.agg(sum(col("vv") * col("vv")).as("vnorm"))))
    // count the checkpointed quantized frame — no third raw-corpus scan
    val nVec = q.agg(count(lit(1)).as("n_vectors"))
    // greatest(..., 1): a zero-variance corpus (all vectors identical)
    // gives trace = 0 — clamp the staged denominator so the ANSI
    // IntegralDivide cannot abort (the t25/d25 rule; a no-op whenever any
    // variance exists, and num = 0 when trace = 0, so the result is 0 ppm)
    rayleighNum.crossJoin(broadcast(traceNorm)).crossJoin(broadcast(nVec))
      .select(col("n_vectors"),
        col("trace").cast("long").as("trace"),
        expr("cast((num * 1000000) div greatest(trace * vnorm, 1) as bigint)")
          .as("rayleigh_ppm"))
  }

  /** Embedding-space COHORT DRIFT — each label cohort against the rest of
    * the corpus, entirely in exact integer register math (the crawl-drift
    * monitor an embedding pipeline runs before trusting a new batch: a
    * cohort whose centroid moved or whose dispersion blew up is a
    * distribution shift, per-dim mean registers are the ×1000-quantized
    * convention):
    *
    *  - `shift_d2` = ‖c − c_rest‖² between the truncated-mean cohort
    *    centroid and the complement centroid (both integer vectors);
    *  - `disp_own` / `disp_rest` = mean squared distance to the own/rest
    *    centroid, derived from REGISTERS only:
    *    Σ‖x−c‖² = Σ‖x‖² − 2·Σᵢcᵢ·sᵢ + n·‖c‖² — the corpus is touched by
    *    exactly two scans (per-dim sums + per-row ‖x‖²), never per
    *    (cohort × row);
    *  - `drift_ppm` = ⌊disp_own·10⁶ / max(disp_rest, 1)⌋ (clamped — class
    *    (a) of the division-sweep taxonomy; a single-label corpus has an
    *    empty rest).
    *
    * Scale shape: two corpus-sized partial-agg'd scans into a (labels ×
    * dims) register frame; everything after is register arithmetic. */
  def cohortDrift(vectors: DataFrame, vecCol: String, labelCol: String): DataFrame = {
    def ld(a: Column, b: Column): Column = call_function("div", a, b)
    val q = vectors
      .select(col(labelCol).as("lbl"), quantize1000(col(vecCol)).as("qv"))
      .localCheckpoint(true)
    val perDim = q.select(col("lbl"), posexplode(col("qv")).as(Seq("i", "x")))
      .groupBy("lbl", "i").agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    val tot = perDim.groupBy("i").agg(sum(col("s")).as("ts"), sum(col("n")).as("tn"))
    // integer truncated means — Spark `div` and DuckDB `//` both truncate
    // toward zero on negatives (CLAUDE.md r10), so plain div mirrors
    val dims = perDim.join(tot, "i")
      .select(col("lbl"), col("s"), col("n"),
        ld(col("s"), col("n")).as("c"),
        ld(col("ts") - col("s"), greatest(col("tn") - col("n"), lit(1L))).as("cr"),
        (col("ts") - col("s")).as("sr"))
    val regs = dims.groupBy("lbl").agg(
      // min, not first: the oracle's MIN(n) — identical when every vector
      // has the same width, and deterministic (not first()-arbitrary) on
      // ragged input
      min(col("n")).as("n"),
      sum(col("c") * col("s")).as("cs"),
      sum(col("cr") * col("sr")).as("crsr"),
      sum(col("c") * col("c")).as("cc"),
      sum(col("cr") * col("cr")).as("crcr"),
      sum((col("c") - col("cr")) * (col("c") - col("cr"))).as("shift_d2"))
    val xx = q.select(col("lbl"), ldot(col("qv"), col("qv")).as("x2"))
      .groupBy("lbl").agg(sum(col("x2")).as("sxx"))
    val gx = xx.agg(sum(col("sxx")).as("txx"), count(lit(1)).as("n_labels"))
    regs.join(xx, "lbl").crossJoin(broadcast(gx))
      .crossJoin(broadcast(q.agg(count(lit(1)).as("nn"))))
      .select(col("lbl").cast("long").as("label"), col("n"), col("shift_d2"),
        ld(col("sxx") - col("cs") * 2L + col("n") * col("cc"), col("n")).as("disp_own"),
        ld(col("txx") - col("sxx") - col("crsr") * 2L +
            (col("nn") - col("n")) * col("crcr"),
          greatest(col("nn") - col("n"), lit(1L))).as("disp_rest"))
      .withColumn("drift_ppm",
        ld(col("disp_own") * 1000000L, greatest(col("disp_rest"), lit(1L))))
  }
}
