package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate/exact nearest-neighbor search over an embedding column
  * (SURVEY.md §2.3). The exact path is the correctness baseline; the LSH
  * path is the 100 TB scale path: bucket both sides (row-local signatures),
  * join only within buckets, then top-k.
  */
object Similarity {

  /** Embedding centroid drift — the VECTOR member of the drift-monitor
    * family (numeric PSI, categorical PSI, this): per label, the cosine
    * between the reference and current MEAN embeddings, as
    * `drift_micro = 1e6 − cos_micro` (0 = unchanged direction, 2e6 =
    * fully reversed). Catches a re-embedded or corrupted shard before it
    * poisons ANN indexes and semantic dedup.
    *
    * DETERMINISM: components quantize row-locally to micro longs, per
    * label reduce through the exact [[graft.expressions.OpqSupport
    * .longVectorSum]] (order-independent long sums), the mean re-quantizes
    * once (`round(Σ/n)` — micro-scale longs, so dots and norms stay
    * ≤ ~6e13, exactly representable), and the cosine is long dot / long
    * norms through ONE fixed parenthesization. A label present on only
    * one side reports NULL cosine (no direction to compare) — never a
    * silent 0.
    *
    * Scale shape: one label-key reduce per side with map-side O(dim)
    * partials (each partition forwards one 64-long buffer per label — the
    * corpus never shuffles), then a full-outer join over O(labels) rows.
    *
    * Returns (label, n_ref, n_cur, cos_micro, drift_micro), ordered by
    * caller. */
  def centroidDrift(
      reference: DataFrame,
      current: DataFrame,
      labelCol: String,
      vecCol: String,
      dim: Int): DataFrame =
    scoreCentroidDriftAgainst(current,
      centroidBaseline(reference, labelCol, vecCol, dim), labelCol, vecCol, dim)

  /** Frozen centroid baseline for the streaming monitor: one row per
    * reference label — (label, ref_c micro-mean array, n_ref). Persist it
    * and rebuild on the reference's own cadence. */
  def centroidBaseline(
      reference: DataFrame,
      labelCol: String,
      vecCol: String,
      dim: Int): DataFrame =
    microCentroids(reference, labelCol, vecCol, dim, "ref_c", "n_ref")

  /** Score a current frame's per-label centroids against a frozen
    * [[centroidBaseline]] — the per-micro-batch body of a streaming
    * drift monitor under [[graft.streaming.Streams.eachBatch]], exposed for batch
    * backfills too (and what [[centroidDrift]] itself runs). */
  def scoreCentroidDriftAgainst(
      current: DataFrame,
      baseline: DataFrame,
      labelCol: String,
      vecCol: String,
      dim: Int): DataFrame = {
    val c = microCentroids(current, labelCol, vecCol, dim, "cur_c", "n_cur")
    def dot(a: Column, b: Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    val joined = baseline.join(c, Seq("label"), "full_outer")
    val cos = dot(col("ref_c"), col("cur_c")).cast("double") /
      (sqrt(dot(col("ref_c"), col("ref_c")).cast("double")) *
        sqrt(dot(col("cur_c"), col("cur_c")).cast("double")))
    joined.select(col("label"),
      coalesce(col("n_ref"), lit(0L)).as("n_ref"),
      coalesce(col("n_cur"), lit(0L)).as("n_cur"),
      round(cos * lit(1e6)).cast("long").as("cos_micro"),
      (lit(1000000L) - round(cos * lit(1e6)).cast("long")).as("drift_micro"))
  }

  /** Shared micro-mean centroid build (see [[centroidDrift]]'s
    * determinism notes). */
  private def microCentroids(
      df: DataFrame, labelCol: String, vecCol: String, dim: Int,
      sumAs: String, nAs: String): DataFrame = {
    import graft.expressions.OpqSupport
    require(dim >= 1, "dim must be at least 1")
    df.filter(col(vecCol).isNotNull)
      .select(col(labelCol).as("label"),
        transform(col(vecCol),
          v => round(v.cast("double") * lit(1e6)).cast("long")).as("__q"))
      .groupBy("label")
      .agg(OpqSupport.longVectorSum(col("__q"), dim).as("__s"),
        count(lit(1)).as(nAs))
      .select(col("label"),
        transform(col("__s"),
          s => round(s.cast("double") / col(nAs)).cast("long")).as(sumAs),
        col(nAs))
  }

  /** Per-label embedding outlier detection — the row-level companion to
    * [[centroidDrift]]: each vector's squared euclidean distance to its
    * OWN label's micro-mean centroid, flagged against the label's own
    * `quantile` distance (default p95). Catches the mis-embedded /
    * mislabeled / corrupted INDIVIDUAL rows that a centroid-level monitor
    * averages away — the pre-index hygiene pass an ANN build wants.
    *
    * DETERMINISM: vectors quantize row-locally to micro longs, centroids
    * are the [[centroidDrift]] micro-means (exact long sums, one
    * re-quantize), dist2 is an exact long sum of squared long deltas
    * (micro-scale components keep it ≤ ~3e14 at dim 64 — exactly
    * representable), and the per-label threshold quantizes once
    * (`round(percentile(dist2, q))`). Flags compare longs.
    *
    * Scale shape: one label-key reduce for centroids (O(dim) map-side
    * partials), centroid table is O(labels) and joins back by label (a
    * broadcast at any realistic label count), one label-key percentile
    * reduce over (label, dist2), rejoined the same way. The corpus
    * shuffles once on the label key.
    *
    * Returns one row per vector: (id, label, dist2, threshold, is_outlier). */
  def embeddingOutliers(
      df: DataFrame,
      idCol: String,
      labelCol: String,
      vecCol: String,
      dim: Int,
      quantile: Double = 0.95): DataFrame = {
    require(quantile > 0 && quantile < 1, "quantile must be in (0, 1)")
    val cents = microCentroids(df, labelCol, vecCol, dim, "cent", "n")
      .select(col("label"), col("cent"))
    val dist2 = aggregate(
      zip_with(col("__q"), col("cent"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)
    val scored = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(labelCol).as("label"),
        transform(col(vecCol),
          v => round(v.cast("double") * lit(1e6)).cast("long")).as("__q"))
      .join(broadcast(cents), Seq("label"))
      .select(col("id"), col("label"), dist2.as("dist2"))
    val thresholds = scored.groupBy("label")
      .agg(round(expr(s"percentile(dist2, $quantile)")).cast("long")
        .as("threshold"))
    scored.join(broadcast(thresholds), Seq("label"))
      .select(col("id"), col("label"), col("dist2"), col("threshold"),
        (col("dist2") > col("threshold")).as("is_outlier"))
  }

  /** Johnson–Lindenstrauss random-projection top-k: project both sides
    * to `projDim` dimensions with a DETERMINISTIC ±1 sign matrix, rank
    * candidates by the exact integer dot product in the projected space,
    * keep `k · expand` per query, and re-rank those by exact float
    * cosine. The dimensionality-reduction rung of the ANN ladder — the
    * coarse pass still scans the corpus but at projDim/dim of the
    * arithmetic and bytes (64→16 dims = 4× cheaper scan), where
    * LSH/IVF/PQ change the ASYMPTOTICS; JL is the right tool when recall
    * must stay near 1 and the corpus fits a scan budget.
    *
    * DETERMINISM (no RNG): sign(i, j) = parity of the middle bits of a
    * squared linear mix, `((t²) >> 6) mod 2` with
    * `t = i·1297 + j·7919 + 104729` — exact long arithmetic both engines
    * reproduce verbatim (t ≤ ~3·10⁵ at dim 64, t² fits easily).
    * Components quantize to micro longs before projecting, so projected
    * vectors and coarse dots are EXACT LONGS (|proj_j| ≤ dim·2·10⁶ →
    * coarse dot ≤ ~5·10¹⁷ at projDim 32); ties break on candidate id at
    * both stages; the final cosine is the shared float-dot convention.
    * RECALL DIAL (measured on the sf0.001 embeddings, exact-top-10
    * overlap): 0.43 at (16, 4), 0.64 at (16, 8), 0.76 at (32, 8 — the
    * defaults), 0.88 at (32, 16) — JL trades recall against scan cost
    * smoothly; raise `expand` first (rerank cost is linear in it), then
    * `projDim` (coarse-scan cost is linear in it).
    *
    * Scale shape: projection is row-local; the coarse pass is the
    * broadcast-query-set scan (the bruteForceTopK plan) over ids +
    * projected vectors only — full vectors re-attach to the k·expand
    * survivors via id-key joins, never riding the scan. */
  def randomProjectionTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int = 10,
      projDim: Int = 32,
      expand: Int = 8,
      seed: Long = 104729L): DataFrame = {
    require(k >= 1 && projDim >= 1 && expand >= 1, "k, projDim, expand must be >= 1")
    def project(vec: Column): Column =
      transform(sequence(lit(0), lit(projDim - 1)), j =>
        aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1), (v, i) => {
            val t = i.cast("long") * lit(1297L) + j.cast("long") * lit(7919L) + lit(seed)
            val sign = when(pmod(shiftright(t * t, 6), lit(2L)) === 0L, lit(1L))
              .otherwise(lit(-1L))
            sign * round(v.cast("double") * lit(1e6)).cast("long")
          }),
          lit(0L), (acc, v) => acc + v))
    val cp = corpus.select(col(idCol).as("__cid"), project(col(vecCol)).as("__cp"))
    val qp = queries.select(col(queryIdCol).as("__qid"),
      project(col(queryVecCol)).as("__qp"))
    val coarseDot = aggregate(
      zip_with(col("__cp"), col("__qp"), (x, y) => x * y),
      lit(0L), (acc, v) => acc + v)
    val wCoarse = Window.partitionBy(col("__qid"))
      .orderBy(desc("__dot"), asc("__cid"))
    val cand = cp.join(broadcast(qp), col("__cid") =!= col("__qid"))
      .withColumn("__dot", coarseDot)
      .withColumn("__crank", row_number().over(wCoarse))
      .filter(col("__crank") <= k * expand)
      .select(col("__qid"), col("__cid"))
    val rescored = cand
      .join(corpus.select(col(idCol).as("__cid"), col(vecCol).as("__cv")), Seq("__cid"))
      .join(broadcast(queries.select(col(queryIdCol).as("__qid"),
        col(queryVecCol).as("__qv"))), Seq("__qid"))
      .withColumn("cos", cosine(col("__cv"), col("__qv")))
    val w = Window.partitionBy(col("__qid")).orderBy(desc("cos"), asc("__cid"))
    rescored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("__qid").as("query_id"), col("rank"),
        col("__cid").as("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** Exact brute-force cosine top-k.
    *
    * The query set is broadcast (it must be small — this is the
    * "small-query-set behind a broadcast" exact path; it never shuffles the
    * corpus). Ranking tiebreak on candidate id keeps results reproducible. */
  def bruteForceTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int = 10): DataFrame = {
    val scored = corpus
      .join(broadcast(queries), col(idCol) =!= col(queryIdCol))
      .withColumn("cos", cosine(col(vecCol), col(queryVecCol)))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(desc("cos"), asc(idCol))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(queryIdCol).as("query_id"), col("rank"),
              col(idCol).as("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** Hard-negative mining for contrastive / retrieval training: for each
    * query, the top-k most-similar corpus examples whose LABEL differs —
    * the near-boundary negatives that make a contrastive batch
    * informative (random negatives are trivially separable; hard ones
    * carry the gradient). Same plan as [[bruteForceTopK]] — broadcast
    * query set, label disequality folded into the join condition so
    * same-label rows never score, WindowGroupLimit rank — and at corpus
    * scale the same swap to the IVF/PQ candidate generators applies.
    * Returns (query_id, query_label, rank, neighbor_id, neighbor_label,
    * cos). */
  def hardNegatives(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      queryLabelCol: String,
      k: Int = 10): DataFrame = {
    val scored = corpus
      .join(broadcast(queries),
        col(idCol) =!= col(queryIdCol) && col(labelCol) =!= col(queryLabelCol))
      .withColumn("cos", cosine(col(vecCol), col(queryVecCol)))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(desc("cos"), asc(idCol))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(queryIdCol).as("query_id"), col(queryLabelCol).as("query_label"),
        col("rank"), col(idCol).as("neighbor_id"), col(labelCol).as("neighbor_label"),
        round(col("cos"), 6).as("cos"))
  }

  /** Contrastive TRIPLET mining — the batch-construction step of metric /
    * embedding training: for each anchor, the nearest SAME-label example
    * (positive) and the nearest DIFFERENT-label example (the hard
    * negative, per [[hardNegatives]]), plus the cosine margin between
    * them. Semi-hard mining is one `filter` on the margin column away.
    * Same plan family as [[bruteForceTopK]] — broadcast anchor set, one
    * scored pass over the corpus, two WindowGroupLimit rank-1 selections
    * — and at corpus scale the candidate generator swaps for the IVF/PQ
    * index exactly as in the top-k family. Returns one row per anchor
    * with a same-label and different-label partner:
    * (anchor_id, anchor_label, pos_id, pos_cos, neg_id, neg_cos,
    * margin). */
  def contrastiveTriplets(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      anchors: DataFrame,
      anchorIdCol: String,
      anchorVecCol: String,
      anchorLabelCol: String): DataFrame = {
    val scored = corpus
      .join(broadcast(anchors), col(idCol) =!= col(anchorIdCol))
      .withColumn("cos", cosine(col(vecCol), col(anchorVecCol)))
    def best(pred: Column, outId: String, outCos: String): DataFrame = {
      val w = Window.partitionBy(col(anchorIdCol)).orderBy(desc("cos"), asc(idCol))
      scored.filter(pred)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col(anchorIdCol), col(anchorLabelCol),
          col(idCol).as(outId), round(col("cos"), 6).as(outCos))
    }
    val pos = best(col(labelCol) === col(anchorLabelCol), "pos_id", "pos_cos")
    val neg = best(col(labelCol) =!= col(anchorLabelCol), "neg_id", "neg_cos")
      .drop(anchorLabelCol)
    pos.join(neg, Seq(anchorIdCol))
      .select(col(anchorIdCol).as("anchor_id"), col(anchorLabelCol).as("anchor_label"),
        col("pos_id"), col("pos_cos"), col("neg_id"), col("neg_cos"),
        round(col("pos_cos") - col("neg_cos"), 6).as("margin"))
  }

  /** Brute-force top-k over int8-QUANTIZED vectors: both sides compress
    * through [[graft.functions.VectorFunctions.quantizeInt8]] before
    * scoring, so the broadcast and the scan carry a quarter of the float32
    * bytes — the memory/bandwidth shape a 100 TB embedding corpus needs.
    * Same plan as [[bruteForceTopK]] (broadcast query set, WindowGroupLimit
    * rank); the quantization arithmetic is deterministic double+integer
    * math, exactly re-derivable in SQL, so the whole compressed path is
    * oracle-checkable. */
  def quantizedTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int = 10): DataFrame = {
    val corpusQ = corpus.select(col(idCol), quantizeInt8(col(vecCol)).as("__qv"))
    val queriesQ = queries.select(col(queryIdCol), quantizeInt8(col(queryVecCol)).as("__qq"))
    val scored = corpusQ
      .join(broadcast(queriesQ), col(idCol) =!= col(queryIdCol))
      .withColumn("cos_q", cosineInt8(col("__qv"), col("__qq")))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(desc("cos_q"), asc(idCol))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(queryIdCol).as("query_id"), col("rank"),
              col(idCol).as("neighbor_id"), round(col("cos_q"), 6).as("cos_q"))
  }

  /** Approximate top-k via random-hyperplane LSH: corpus and queries hash to
    * sign-pattern buckets; candidates are same-bucket rows only. With b bits
    * the corpus splits into ≤2^b buckets, so pairwise work drops by ~2^b at
    * some recall cost (raise recall by probing fewer bits or multiple
    * tables). The corpus side is one narrow projection + one shuffle on the
    * bucket key — no broadcast, no cross join. */
  def lshTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      dim: Int,
      k: Int = 10,
      nbits: Int = 8,
      tables: Int = 1): DataFrame = {
    // `tables` independent hash tables trade compute for recall: a true
    // neighbor is missed only if it splits from the query in EVERY table
    // (miss prob p^L instead of p). Each side explodes L× and joins on
    // (table, sign-pattern). Candidate generation is ids-only: the bucket
    // join and the multi-table dedup shuffle (id, bucket) pairs, never
    // embeddings — at dim=1024 float every deduped row would otherwise
    // carry ~8 KB of vector payload through two exchanges.
    def bucketed(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(
        col(id),
        posexplode(array((0 until tables).map(t =>
          lshBucketTable(col(vec), nbits, dim, t)): _*)))
        .withColumnRenamed("pos", "table_id")
        .withColumnRenamed("col", "bucket")
    val pairs = bucketed(corpus, idCol, vecCol)
      .join(bucketed(queries, queryIdCol, queryVecCol), Seq("table_id", "bucket"))
      .filter(col(idCol) =!= col(queryIdCol))
      .select(col(queryIdCol), col(idCol))
      .distinct() // a pair colliding in several tables is scored once
    // vectors re-attach after the dedup: corpus side is one equi-join on id
    // (AQE broadcasts the narrow pair list when it is small), query side is
    // an explicit broadcast (the query set is small by contract)
    val scored = pairs
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(queries.select(col(queryIdCol), col(queryVecCol))), Seq(queryIdCol))
      .withColumn("cos", cosine(col(vecCol), col(queryVecCol)))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(desc("cos"), asc(idCol))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(queryIdCol).as("query_id"), col("rank"),
              col(idCol).as("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** Centroid table collapsed to ONE row holding the full (cell, cvec)
    * struct array — the broadcastable form every IVF stage scores against.
    * Collection order is irrelevant: every consumer re-sorts with the total
    * [[byCosDescCellAsc]] comparator (cells are distinct by contract). */
  private[graft] def centroidArray(centroids: DataFrame, idCol: String, vecCol: String): DataFrame =
    centroids.agg(collect_list(struct(col(idCol).as("cell"), col(vecCol).as("cvec"))).as("__cents"))

  /** Comparator ordering (cos desc, cell asc) — the exact tiebreak the
    * IVF window argmax historically used; total order because centroid ids
    * are distinct, so the sorted result is independent of collect order. */
  private def byCosDescCellAsc(l: Column, r: Column): Column =
    when(l.getField("cos") > r.getField("cos"), -1)
      .when(l.getField("cos") < r.getField("cos"), 1)
      .when(l.getField("cell") < r.getField("cell"), -1)
      .when(l.getField("cell") > r.getField("cell"), 1)
      .otherwise(0)

  /** Row-local top-`n` centroid cells for `vec`: scores every centroid of
    * the broadcast `__cents` array in-row and sorts the k-element array
    * locally — ZERO row fan-out and no Window node. (The previous
    * crossJoin+window argmax materialized corpus×k rows through the
    * pipeline before discarding all but one per doc; at k=1024 cells that
    * is 1024 rows streamed per document just to compute an argmax.)
    * Requires `__cents` from [[centroidArray]] in scope via
    * `crossJoin(broadcast(...))` of the single array row. */
  private[graft] def topCellsLocal(vec: Column, n: Int): Column =
    slice(
      array_sort(
        transform(col("__cents"), c =>
          struct(cosine(vec, c.getField("cvec")).as("cos"), c.getField("cell").as("cell"))),
        byCosDescCellAsc),
      1, n)

  /** cvec of `cellCol` from the in-scope broadcast `__cents` array — the
    * row-local centroid lookup (an O(k) array filter per row; cells are
    * distinct by contract, so the filtered array has exactly one element).
    * ONLY for callers whose `cellCol` is a cheap ATTRIBUTE (e.g. produced
    * by an `explode` Generate, which `CollapseProject` cannot substitute
    * through): handing it a computed cell EXPRESSION re-evaluates that
    * expression once per filter element after projection collapse — the
    * argmax-inside-filter shape that made the first residual-composite
    * audit row cost O(k²·dim) per row. Expression-cell callers use
    * [[bestCentLocal]] instead. */
  private def centVecOf(cellCol: Column): Column =
    element_at(filter(col("__cents"), c => c.getField("cell") === cellCol), 1)
      .getField("cvec")

  /** Row-local argmax centroid as ONE struct (cos, cell, cvec) — carrying
    * the winning centroid's vector in the struct so residual callers need
    * no per-element lookup against a computed cell id (see [[centVecOf]]'s
    * caveat). After projection collapse the argmax evaluates at most twice
    * per row (once for the cell id, once for the residual's cvec), never
    * per centroid element. */
  private def bestCentLocal(vec: Column): Column =
    element_at(
      array_sort(
        transform(col("__cents"), c =>
          struct(cosine(vec, c.getField("cvec")).as("cos"),
            c.getField("cell").as("cell"), c.getField("cvec").as("cvec"))),
        byCosDescCellAsc),
      1)

  /** Residual vec − cvec[cell], per coordinate: the exact double
    * subtraction rounded once back to float — IEEE single-precision
    * subtraction, exactly re-derivable in SQL, so every residual-PQ stage
    * downstream stays oracle-checkable. Requires `__cents` in scope. */
  private def residualLocal(vec: Column, cellCol: Column): Column =
    zip_with(vec, centVecOf(cellCol),
      (x, y) => (x.cast("double") - y.cast("double")).cast("float"))

  /** (id, cell, residual) for every corpus row: the coarse-cell assignment
    * plus the residual vec − cvec[cell] that residual PQ quantizes. FAISS
    * IVFPQ encodes residuals rather than raw vectors because the residual
    * distribution is far tighter than the vector distribution (the coarse
    * quantizer has already absorbed the cell-level energy), so the same
    * m×ksub codebook budget buys a finer quantization — a measured
    * recall gain at equal code bytes (`MeasureProps --ivfpq-recall`).
    * One row-local pass against the broadcast centroid array: no fan-out,
    * no shuffle, and the residual coordinates are exact single-precision
    * subtractions. Feed the result to [[trainPqCodebooks]] (vecCol =
    * "residual") to train residual codebooks, then search with
    * [[ivfPqTopK]]`(..., residual = true)`. */
  def ivfResiduals(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centroidIdCol: String,
      centroidVecCol: String): DataFrame = {
    val cents = centroidArray(centroids, centroidIdCol, centroidVecCol)
    corpus.crossJoin(broadcast(cents))
      .select(col(idCol), col(vecCol), bestCentLocal(col(vecCol)).as("__bc"))
      .select(col(idCol), col("__bc").getField("cell").as("cell"),
        zip_with(col(vecCol), col("__bc").getField("cvec"),
          (x, y) => (x.cast("double") - y.cast("double")).cast("float")).as("residual"))
  }

  /** Full IVF top-k search: corpus vectors are quantized to their nearest
    * centroid cell ([[ivfAssign]]); each query probes only its `nprobe`
    * closest cells and ranks candidates inside them. At 100 TB the corpus
    * side is one narrow shuffle on the cell id (or zero if the table is
    * stored partitioned by cell) and the scanned fraction is ~nprobe/|cells|
    * — the standard recall/cost dial. Centroids and queries are broadcast
    * (both small by construction); cell assignment is the row-local
    * [[topCellsLocal]] fold — no corpus×k fan-out, no Window sort. */
  def ivfTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centroidIdCol: String,
      centroidVecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int = 10,
      nprobe: Int = 1): DataFrame = {
    // assignment computed IN-LINE carrying the corpus columns — joining the
    // corpus back to a bare (id, cell) table would scan and shuffle the full
    // corpus a second time just to restore vecCol
    val cents = centroidArray(centroids, centroidIdCol, centroidVecCol)
    val corpusCells = corpus.crossJoin(broadcast(cents))
      .select(col(idCol), col(vecCol), explode(topCellsLocal(col(vecCol), 1)).as("__best"))
      .select(col(idCol), col(vecCol), col("__best.cell").as("cell"))
    val probed = queries.crossJoin(broadcast(cents))
      .select(col(queryIdCol), col(queryVecCol),
        explode(topCellsLocal(col(queryVecCol), nprobe)).as("__probe"))
      .select(col(queryIdCol), col(queryVecCol), col("__probe.cell").as("cell"))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(desc("cos"), asc(idCol))
    corpusCells.join(broadcast(probed), Seq("cell"))
      .filter(col(idCol) =!= col(queryIdCol))
      .withColumn("cos", cosine(col(vecCol), col(queryVecCol)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(queryIdCol).as("query_id"), col("rank"),
              col(idCol).as("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** Materializes the IVF index as a LAYOUT: the corpus written
    * cell-PARTITIONED (one directory per coarse cell, assignment via the
    * row-local [[topCellsLocal]] fold) plus the centroid table as a
    * kind-tagged model artifact. The point is what the layout buys at read
    * time: a probe query touches `nprobe` cells, and because `cell` is a
    * PARTITION column, [[ivfTopKIndexed]] prunes every other partition at
    * the scan — the nprobe/|cells| scan fraction stops being a shuffle
    * optimization and becomes an I/O one (on 100 TB of embeddings with
    * k=1024 cells and nprobe=8, the probe reads ~0.8% of the bytes, no
    * shuffle of the corpus at all). Build cost is one pass over the corpus
    * (the same assignment [[ivfTopK]] computes inline on every search) —
    * write once, probe many.
    *
    * Column names are recorded in the corpus sidecar, and both artifacts
    * are kind-tagged, so a reader can neither mis-bind columns nor hand
    * the probe a non-index directory. One nuance: the `cell` partition
    * column round-trips through directory-name type INFERENCE (a long cell
    * id reads back as int) — [[ivfTopKIndexed]]'s probe filter and join
    * coerce across the width difference (bit-equality to the inline search
    * is pinned in SourcesSpec), but consumers of the raw layout must not
    * depend on the column's exact integral width.
    *
    * VERSIONING (the retrain story — corpus drift ⇒ retrain ⇒ republish):
    * each call stages the full centroids+layout pair under
    * `<path>/versions/.staging` and publishes it with ONE atomic directory
    * rename to `<path>/versions/v<n+1>` — centroids and layout can never
    * be observed mixed across versions, because a version only becomes
    * listable when both are complete. Old versions stay on disk until
    * [[pruneIvfIndex]], so a reader that resolved the previous version
    * keeps scanning files that still exist — a retrain never breaks an
    * in-flight search. A crash before the rename leaves only the
    * dot-staging dir, which no resolver lists and the next write clears.
    * Single index-writer per `path` by contract (same as the ingestion
    * store). Returns the published version name. */
  def writeIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centroidIdCol: String,
      centroidVecCol: String,
      path: String,
      pqCodebooks: Option[DataFrame] = None,
      pqDim: Int = 0,
      pqM: Int = 0,
      pqResidual: Boolean = false,
      preTransform: Option[Seq[Seq[Float]]] = None): String = {
    // pre-transformed index (OPQ / structured rotation): the ENTIRE index
    // lives in the transformed space — cell assignment, stored vectors,
    // codes, and (at read time) the rotated queries. The matrix versions
    // WITH the layout as its own artifact, so a retrain that changes the
    // rotation can never serve un-rotated or foreign-rotation queries —
    // the same integrity contract as the pqResidual flag. Contract: the
    // caller trains `centroids`/`pqCodebooks` on the TRANSFORMED corpus
    // (applyRotation(vec, r)); this writer applies the same transform to
    // the raw corpus before assignment/encoding.
    val corpusSrc = preTransform match {
      case Some(r) =>
        corpus.select(col(idCol), applyRotation(col(vecCol), r).as(vecCol))
      case None => corpus
    }
    val cents = centroidArray(
      centroids.select(col(centroidIdCol).as("cell"), col(centroidVecCol).as("cvec")),
      "cell", "cvec")
    val assigned = corpusSrc.crossJoin(broadcast(cents))
      .select(col(idCol), col(vecCol), explode(topCellsLocal(col(vecCol), 1)).as("__best"))
      .select(col(idCol), col(vecCol), col("__best.cell").as("cell"))
    val spark = corpus.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(s"$path/versions/.staging")
    fs.delete(staging, true)
    graft.sources.MetaPersist.writeModel(
      centroids.select(col(centroidIdCol).as("cell"), col(centroidVecCol).as("cvec")),
      s"$staging/centroids", "ivf_centroids", Map.empty)
    preTransform.foreach { r =>
      import spark.implicits._
      graft.sources.MetaPersist.writeModel(
        r.zipWithIndex.map { case (row, i) => (i, row) }.toDF("i", "row"),
        s"$staging/pretransform", "pre_transform",
        Map("dim" -> r.length.toString))
    }
    // with PQ codebooks, the layout rows carry the m-code array NEXT TO the
    // float vector (codes for the compressed probe scan, vec for the exact
    // rerank — readers prune whichever column they don't touch) and the
    // codebook artifact versions WITH the layout: a retrain can never pair
    // codes with a foreign codebook
    val (layout, meta) = pqCodebooks match {
      case Some(cb) =>
        require(pqM >= 1 && pqDim % pqM == 0,
          s"pqM ($pqM) must be >= 1 and divide pqDim ($pqDim)")
        val ksub = cb.agg(max(col("code"))).head.getInt(0) + 1
        graft.sources.MetaPersist.writeModel(
          cb, s"$staging/codebooks", "pq_codebooks",
          Map("dim" -> pqDim.toString, "m" -> pqM.toString, "ksub" -> ksub.toString))
        // residual layouts quantize vec − cvec[cell] (pass codebooks trained
        // on [[ivfResiduals]]); the flag versions WITH the layout so a
        // reader can never mis-score residual codes as raw ones
        val layoutDf =
          if (!pqResidual)
            assigned.crossJoin(broadcast(pqCodebookArray(cb)))
              .select(col(idCol), col(vecCol),
                pqCodesLocal(col(vecCol), pqM, pqDim / pqM).as("codes"), col("cell"))
          else
            assigned.crossJoin(broadcast(pqCodebookArray(cb))).crossJoin(broadcast(cents))
              .select(col(idCol), col(vecCol),
                pqCodesLocal(residualLocal(col(vecCol), col("cell")),
                  pqM, pqDim / pqM).as("codes"), col("cell"))
        (layoutDf,
         Map("idCol" -> idCol, "vecCol" -> vecCol, "codesCol" -> "codes",
           "pqDim" -> pqDim.toString, "pqM" -> pqM.toString, "pqKsub" -> ksub.toString,
           "pqResidual" -> pqResidual.toString))
      case None =>
        (assigned, Map[String, Any]("idCol" -> idCol, "vecCol" -> vecCol))
    }
    val metaX = meta ++
      (if (preTransform.isDefined) Map("preTransform" -> "true") else Map.empty)
    // partitionBy writes one directory per cell — the pruning structure
    graft.sources.MetaPersist.writeModel(
      layout, s"$staging/corpus", "ivf_corpus", metaX,
      partitionBy = Seq("cell"))
    val next = f"v${ivfVersions(fs, path).lastOption.getOrElse(0L) + 1}%09d"
    val dst = new org.apache.hadoop.fs.Path(s"$path/versions/$next")
    require(fs.rename(staging, dst), s"could not publish index version $next at $path")
    next
  }

  /** Version names under `<path>/versions`, ascending (numeric order ==
    * lexicographic by the zero-padded naming). Empty for a flat
    * pre-versioning layout or a missing index. */
  private def ivfVersions(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Seq[Long] = {
    val vroot = new org.apache.hadoop.fs.Path(s"$path/versions")
    if (!fs.exists(vroot)) Seq.empty
    else fs.listStatus(vroot).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong).sorted
  }

  /** The directory holding the index version a reader should bind to:
    * the newest published version, or — for an index written before
    * versioning existed (flat `<path>/centroids` + `<path>/corpus`) —
    * `path` itself. Resolve ONCE and read both artifacts from the result:
    * that is what makes a concurrent republish invisible to this reader. */
  def resolveIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): String = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ivfVersions(fs, path).lastOption match {
      case Some(v) => f"$path/versions/v$v%09d"
      case None =>
        require(fs.exists(new org.apache.hadoop.fs.Path(s"$path/centroids")),
          s"no IVF index at $path (no versions/ and no flat layout)")
        path
    }
  }

  /** Deletes every published index version except the newest `keep` —
    * run when no reader still holds the pruned versions (reader lifetime
    * is one query; any retention policy longer than the longest-running
    * search is safe). Never touches the newest version or the staging
    * dir. Returns the deleted version directories. */
  def pruneIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String, keep: Int = 1): Seq[String] = {
    require(keep >= 1, "keep must be at least 1")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ivfVersions(fs, path).dropRight(keep).map { v =>
      val dir = f"$path/versions/v$v%09d"
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      dir
    }
  }

  /** IVF top-k against a [[writeIvfIndex]] layout. Identical semantics and
    * tiebreaks to [[ivfTopK]] (bit-equality pinned in SourcesSpec) with the
    * assignment pass replaced by a PRUNED scan: the probed cell set is
    * O(queries × nprobe) — small by the broadcast-queries contract — so
    * collecting it to the driver (the same bounded-metadata exception as
    * the centroid table) turns the probe into a static partition filter
    * Catalyst prunes at planning time.
    *
    * Binds to ONE index version ([[resolveIvfIndex]], resolved here once):
    * both the centroid table and the layout come from the same published
    * version dir, so a concurrent retrain+republish can neither mix
    * versions under this search nor delete its files (old versions live
    * until [[pruneIvfIndex]]). */
  def ivfTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int = 10,
      nprobe: Int = 1): DataFrame = {
    val vdir = resolveIvfIndex(spark, path)
    val centroids = graft.sources.MetaPersist.readModel(spark, s"$vdir/centroids", "ivf_centroids")
    val corpusMf = graft.sources.MetaPersist.readModel(spark, s"$vdir/corpus", "ivf_corpus")
    val idCol = corpusMf.metadata("idCol").asInstanceOf[String]
    val queriesX = preTransformQueries(spark, vdir, corpusMf.metadata,
      queries, queryIdCol, queryVecCol)
    val cents = centroidArray(centroids.df, "cell", "cvec")
    val probed = queriesX.crossJoin(broadcast(cents))
      .select(col(queryIdCol), col(queryVecCol),
        explode(topCellsLocal(col(queryVecCol), nprobe)).as("__probe"))
      .select(col(queryIdCol), col(queryVecCol), col("__probe.cell").as("cell"))
    val cells = probed.select("cell").distinct().collect().map(_.get(0))
    val vecCol = corpusMf.metadata("vecCol").asInstanceOf[String]
    val corpusCells = corpusMf.df.filter(col("cell").isin(cells: _*))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(desc("cos"), asc(idCol))
    corpusCells.join(broadcast(probed), Seq("cell"))
      .filter(col(idCol) =!= col(queryIdCol))
      .withColumn("cos", cosine(col(vecCol), col(queryVecCol)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(queryIdCol).as("query_id"), col("rank"),
              col(idCol).as("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** IVF×PQ top-k against a [[writeIvfIndex]] layout written WITH PQ
    * codebooks — the persisted FAISS-IVFPQ serving shape. Identical
    * semantics and tiebreaks to [[ivfPqTopK]] (bit-equality pinned in
    * SourcesSpec); what the layout buys over the inline form is that BOTH
    * prunings happen at the SCAN: the probed cell set becomes a static
    * partition filter (only nprobe/|cells| of the directories are read at
    * all), and the ADC pass selects only (id, codes, cell), so parquet
    * column pruning drops the float vector bytes from the compressed scan
    * entirely — at 100 TB the probe reads nprobe/|cells| of the
    * directories × the ~3% of their bytes that are codes. Float vectors
    * are read back ONLY for the per-query `shortlist` rerank rows, through
    * the same pruned partitions. Binds to ONE index version
    * ([[resolveIvfIndex]], resolved once — concurrent republish invisible,
    * codes can never pair with a foreign codebook). */
  def ivfPqTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int = 10,
      nprobe: Int = 1,
      shortlist: Int = 100): DataFrame = {
    val vdir = resolveIvfIndex(spark, path)
    val centroids = graft.sources.MetaPersist.readModel(spark, s"$vdir/centroids", "ivf_centroids")
    val codebooks = graft.sources.MetaPersist.readModel(spark, s"$vdir/codebooks", "pq_codebooks")
    val corpusMf = graft.sources.MetaPersist.readModel(spark, s"$vdir/corpus", "ivf_corpus")
    val idCol = corpusMf.metadata("idCol").asInstanceOf[String]
    val vecCol = corpusMf.metadata("vecCol").asInstanceOf[String]
    val codesCol = corpusMf.metadata("codesCol").asInstanceOf[String]
    val m = corpusMf.metadata("pqM").asInstanceOf[String].toInt
    val ksub = corpusMf.metadata("pqKsub").asInstanceOf[String].toInt
    // layouts written before residual support carry no flag — raw codes
    val residual = corpusMf.metadata.get("pqResidual")
      .exists(_.asInstanceOf[String].toBoolean)
    val queriesX = preTransformQueries(spark, vdir, corpusMf.metadata,
      queries, queryIdCol, queryVecCol)
    val cents = centroidArray(centroids.df, "cell", "cvec")
    val probed =
      if (!residual)
        queriesX.crossJoin(broadcast(cents))
          .select(col(queryIdCol), col(queryVecCol),
            explode(topCellsLocal(col(queryVecCol), nprobe)).as("__probe"))
          .select(col(queryIdCol), col("__probe.cell").as("cell"))
      else
        // residual scoring adds the q·cvec[cell] correction per probe row
        // (same decomposition as the inline composite, computed against the
        // SAME index version's centroids)
        queriesX.crossJoin(broadcast(cents))
          .select(col(queryIdCol), col(queryVecCol),
            explode(topCellsLocal(col(queryVecCol), nprobe)).as("__probe"), col("__cents"))
          .select(col(queryIdCol), col(queryVecCol),
            col("__probe.cell").as("cell"), col("__cents"))
          .select(col(queryIdCol), col("cell"),
            dot(col(queryVecCol), centVecOf(col("cell"))).as("__qc"))
    // O(queries × nprobe) cells — bounded metadata; collecting it turns the
    // probe into a static partition filter Catalyst prunes at planning time
    val cells = probed.select("cell").distinct().collect().map(_.get(0))
    // compressed-domain scan: (id, codes, cell) ONLY — the float vector
    // column prunes out of this read entirely
    val encoded = corpusMf.df.select(col(idCol), col(codesCol), col("cell"))
      .filter(col("cell").isin(cells: _*))
    val probedLut = probed
      .join(pqLuts(queriesX, queryIdCol, queryVecCol, codebooks.df), Seq(queryIdCol))
    val adc = encoded.join(broadcast(probedLut), Seq("cell"))
      .filter(col(idCol) =!= col(queryIdCol))
      .withColumn("score",
        if (residual) col("__qc") + adcScoreCol(codesCol, m, ksub)
        else adcScoreCol(codesCol, m, ksub))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(desc("score"), asc(idCol))
    val cand = adc
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= shortlist)
      .select(col(queryIdCol).as("query_id"), col(idCol).as("neighbor_id"))
    // rerank re-reads float vectors through the SAME pruned partitions —
    // only shortlisted ids survive the join
    val rerankCorpus = corpusMf.df.select(col(idCol), col(vecCol), col("cell"))
      .filter(col("cell").isin(cells: _*))
      .select(col(idCol), col(vecCol))
    rerankExact(cand, rerankCorpus, idCol, vecCol, queriesX, queryIdCol, queryVecCol, k)
  }

  /** When the layout's sidecar carries the `preTransform` flag, read the
    * versioned rotation artifact and rotate the queries into the index's
    * space (row-local [[applyRotation]] against the O(dim²) matrix — the
    * same bounded-metadata collect as the centroid array). Queries must
    * NEVER meet a pre-transformed layout un-rotated, which is why this
    * binds to the metadata rather than a caller flag. */
  private def preTransformQueries(
      spark: org.apache.spark.sql.SparkSession,
      vdir: String,
      metadata: Map[String, Any],
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String): DataFrame =
    if (!metadata.get("preTransform").exists(_.asInstanceOf[String].toBoolean)) queries
    else {
      val r = graft.sources.MetaPersist
        .readModel(spark, s"$vdir/pretransform", "pre_transform")
        .df.orderBy("i").collect()
        .map(_.getSeq[Float](1).toSeq).toSeq
      queries.select(col(queryIdCol),
        applyRotation(col(queryVecCol), r).as(queryVecCol))
    }

  /** Spherical k-means training for the IVF coarse quantizer — the step
    * that makes the ANN index self-contained (centroids come from the data,
    * not from an external tool). Lloyd iterations under cosine similarity:
    * assign every vector to its max-cosine centroid, recompute each
    * centroid as the element-wise mean of its cell (cosine is
    * scale-invariant, so the mean needs no re-normalization for the
    * assignment step).
    *
    * DETERMINISM: seeding is the k lowest-id vectors (cells numbered in id
    * order) — reproducible across runs and engines, unlike random init —
    * and every recomputed mean is computed DRIFT-FREE, not merely
    * drift-absorbing: each coordinate quantizes to integer micro-units
    * (round(v·1e6) as long) BEFORE the per-cell sum, so the sum is exact
    * integer arithmetic, order-independent by construction (the same
    * quantize-before-reduce defense as `Corpus.lmScore`); the mean is one
    * deterministic double division + half-up round back onto the 1e-6 grid.
    * A post-hoc rounded float avg() was boundary-unsafe: a mean landing
    * within an ulp of a .5 micro-grid boundary could round differently
    * across partition layouts or engines. Coordinates must be ≪ 9e12 in
    * magnitude for the micro-unit long to hold — every real embedding is.
    *
    * Scale design: one corpus pass per iteration; the mean reduce is keyed
    * by (cell, coordinate) — k·dim rows, fully map-side combinable — and
    * the corpus never shuffles (centroids broadcast, means reduce narrow
    * (cell, pos, v) triples). The driver holds O(k·dim) floats per round
    * (the same centroid collect every distributed k-means does; it is
    * metadata, not data). A cell that attracts no vectors keeps its
    * previous centroid. If the corpus has fewer than k rows, that many
    * cells are trained.
    *
    * Returns (cell, cvec): the trained centroid table, ready for
    * [[ivfAssign]] / [[ivfTopK]].
    */
  def trainCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 5): DataFrame = {
    require(k >= 1, "k must be at least 1")
    require(iters >= 0, "iters must be non-negative")
    val spark = corpus.sparkSession
    import spark.implicits._
    var cents: Seq[(Long, Seq[Float])] = corpus
      .select(col(idCol), col(vecCol))
      .orderBy(col(idCol))
      .limit(k)
      .collect()
      .toSeq
      .map(_.getSeq[Float](1))
      .zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    for (_ <- 0 until iters) {
      val cdf = cents.toDF("cell", "cvec")
      val assigned = corpus.select(col(vecCol))
        .crossJoin(broadcast(centroidArray(cdf, "cell", "cvec")))
        .select(col(vecCol), explode(topCellsLocal(col(vecCol), 1)).as("__best"))
        .select(col("__best.cell").as("cell"), col(vecCol))
      // exact integer mean: micro-quantize each coordinate BEFORE the sum
      // (order-independent), one double division per (cell, pos) after
      val means = assigned
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg((round(sum(round(col("v").cast("double") * lit(1e6)).cast("long")) /
            count(lit(1))) / lit(1e6))
          .cast("float").as("m"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cvec"))
        .as[(Long, Seq[Float])].collect().toMap
      cents = cents.map { case (c, v) => (c, means.getOrElse(c, v)) }
    }
    cents.toDF("cell", "cvec")
  }

  // ------------------------------------------------------------------ PQ

  /** Squared L2 distance in double precision (left-to-right fold —
    * deterministic, exactly re-derivable in SQL). PQ code assignment is
    * nearest-codeword under L2 within each subspace, the standard
    * product-quantization metric. */
  private def l2Sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  /** Total order (dist asc, code asc) — the deterministic argmin tiebreak
    * of the PQ assignment fold. */
  private def byDistAscCodeAsc(l: Column, r: Column): Column =
    when(l.getField("dist") < r.getField("dist"), -1)
      .when(l.getField("dist") > r.getField("dist"), 1)
      .when(l.getField("code") < r.getField("code"), -1)
      .when(l.getField("code") > r.getField("code"), 1)
      .otherwise(0)

  private def bySubAscCodeAsc(l: Column, r: Column): Column =
    when(l.getField("sub") < r.getField("sub"), -1)
      .when(l.getField("sub") > r.getField("sub"), 1)
      .when(l.getField("code") < r.getField("code"), -1)
      .when(l.getField("code") > r.getField("code"), 1)
      .otherwise(0)

  /** Codebook table collapsed to ONE row holding the (sub, code, cvec)
    * struct array SORTED by (sub, code) — index `sub·ksub + code` addresses
    * a codeword, which is what makes the ADC lookup table a flat array.
    * Broadcastable by construction: m·ksub·(dim/m) floats = dim·ksub. */
  private[graft] def pqCodebookArray(codebooks: DataFrame): DataFrame =
    codebooks.agg(array_sort(
      collect_list(struct(col("sub"), col("code"), col("cvec"))),
      bySubAscCodeAsc).as("__cb"))

  /** Row-local PQ encoding: for each of the `m` subspaces, the code of the
    * L2-nearest codeword of `vec`'s slice — an `array<int>` of length m, ONE
    * row in, one row out (no fan-out, no Window). Requires the sorted
    * `__cb` array from [[pqCodebookArray]] in scope via a broadcast
    * crossJoin of its single row. The m×ksub×dsub argmin is the native
    * codegen'd [[graft.expressions.PqEncode]] (the `__cb` struct array is
    * (sub, code)-sorted, so keeping just `cvec` yields exactly its flat
    * sub-major codeword layout); the HOF fold it replaced stays as
    * [[pqCodesLocalHof]], bit-equality pinned in ExtensionsSpec. */
  private[graft] def pqCodesLocal(vec: Column, m: Int, dsub: Int): Column =
    graft.expressions.PqExpressions.encode(
      vec, transform(col("__cb"), cb => cb.getField("cvec")), m)

  /** Higher-order-function reference implementation of [[pqCodesLocal]]. */
  private[graft] def pqCodesLocalHof(vec: Column, m: Int, dsub: Int): Column =
    transform(sequence(lit(0), lit(m - 1)), s => {
      val sv = slice(vec, s * dsub + 1, lit(dsub))
      element_at(
        array_sort(
          transform(filter(col("__cb"), cb => cb.getField("sub") === s),
            cb => struct(
              l2Sq(sv, cb.getField("cvec")).as("dist"),
              cb.getField("code").as("code"))),
          byDistAscCodeAsc),
        1).getField("code")
    })

  /** Product-quantization codebook training — k-means per subspace, all m
    * subspaces trained in the SAME corpus passes (the corpus is never
    * scanned per-subspace). Splits `dim` into m blocks of dim/m; each
    * block gets its own `ksub`-codeword codebook, so a vector stores as m
    * small integers: at dim=64 float32 and m=8/ksub≤256 that is 256 B →
    * 8 B, the 32× compression that turns a 100 TB embedding corpus into
    * ~3 TB of scannable codes.
    *
    * DETERMINISM (same contract as [[trainCentroids]], which see): seeds
    * are the ksub lowest-id vectors' slices (codes numbered in id order),
    * assignment is the row-local L2 argmin with (dist, code) tiebreak, and
    * every recomputed mean micro-quantizes each coordinate to integer
    * units BEFORE the per-(sub, code) sum — order-independent exact
    * integer arithmetic, one double division + half-up round after. An
    * empty (sub, code) cell keeps its previous codeword.
    *
    * Scale design: one corpus pass per iteration; the assignment is the
    * row-local [[pqCodesLocal]] fold against the broadcast codebook (no
    * corpus×codeword fan-out); the mean reduce keys on (sub, code, spos) —
    * dim·ksub rows, fully map-side combinable — and the corpus never
    * shuffles. The driver holds O(dim·ksub) floats per round (bounded
    * metadata, same exception as the IVF centroid collect).
    *
    * Returns (sub, code, cvec): sub ∈ [0, m), code ∈ [0, ksub), cvec of
    * length dim/m — ready for [[pqEncode]] / [[pqTopK]] and persistable
    * with `MetaPersist.writeModel(..., "pq_codebooks", ...)`. */
  def trainPqCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int = 8,
      ksub: Int = 256,
      iters: Int = 5): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m ($m) must divide dim ($dim)")
    require(ksub >= 1, "ksub must be at least 1")
    require(iters >= 0, "iters must be non-negative")
    val dsub = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    val seedRows: Seq[Seq[Float]] = corpus
      .select(col(idCol), col(vecCol))
      .orderBy(col(idCol))
      .limit(ksub)
      .collect()
      .toSeq
      .map(_.getSeq[Float](1))
    var cbs: Seq[(Int, Int, Seq[Float])] =
      for { s <- 0 until m; (v, c) <- seedRows.zipWithIndex }
        yield (s, c, v.slice(s * dsub, (s + 1) * dsub))
    for (_ <- 0 until iters) {
      val cbdf = cbs.toDF("sub", "code", "cvec")
      val assigned = corpus.select(col(vecCol))
        .crossJoin(broadcast(pqCodebookArray(cbdf)))
        .select(col(vecCol), pqCodesLocal(col(vecCol), m, dsub).as("__codes"))
      // exact integer mean per (sub, code, in-subspace position):
      // micro-quantize BEFORE the sum (order-independent), divide once after
      val means = assigned
        .select(posexplode(col(vecCol)).as(Seq("pos", "v")), col("__codes"))
        .select(
          (col("pos") / dsub).cast("int").as("sub"),
          element_at(col("__codes"), (col("pos") / dsub).cast("int") + 1).as("code"),
          (col("pos") % dsub).as("spos"),
          col("v"))
        .groupBy("sub", "code", "spos")
        .agg((round(sum(round(col("v").cast("double") * lit(1e6)).cast("long")) /
            count(lit(1))) / lit(1e6))
          .cast("float").as("mc"))
        .groupBy("sub", "code")
        .agg(transform(array_sort(collect_list(struct(col("spos"), col("mc")))),
          x => x.getField("mc")).as("cvec"))
        .as[(Int, Int, Seq[Float])].collect()
        .map { case (s, c, v) => (s, c) -> v }.toMap
      cbs = cbs.map { case (s, c, v) => (s, c, means.getOrElse((s, c), v)) }
    }
    cbs.toDF("sub", "code", "cvec")
  }

  /** Variance-balancing coordinate permutation for PQ — the OPQ paper's
    * parametric initialization in its round-robin form (Ge et al., CVPR
    * 2013, "Optimized Product Quantization": balance the variance the m
    * subspaces receive): rank coordinates by corpus variance descending
    * and deal them round-robin across subspaces, so each subspace gets an
    * even mix of high- and low-variance coordinates. Each subspace spends
    * the same ksub-codeword budget; when a few subspaces carry most of the
    * variance the others' codebooks idle — balancing lowers total
    * distortion at ZERO search-time cost (the permutation is a row-local
    * array gather, and inner products are permutation-invariant, so the
    * ADC scores approximate the same quantity).
    *
    * DETERMINISM: coordinates rank by the EXACT integer variance numerator
    * N·Σq² − (Σq)² over micro-quantized values (q = round(v·1e6) as long;
    * q² must fit a long ⇒ |v| ≪ 3e3 — every real embedding is), combined
    * on the driver in BigInt — no float compare anywhere, so the
    * permutation is engine-independent and oracle-derivable. Tiebreak
    * (numerator desc, pos asc).
    *
    * Scale: one narrow corpus pass reducing to `dim` rows (map-side
    * combinable), O(dim) driver metadata. Returns target-ordered source
    * positions: permuted[i] = vec[perm(i)], where i = sub·dsub + slot,
    * sub = rank % m, slot = rank / m. */
  def pqBalancedPermutation(
      corpus: DataFrame,
      vecCol: String,
      dim: Int,
      m: Int): Seq[Int] = {
    require(m >= 1 && dim % m == 0, s"m ($m) must divide dim ($dim)")
    val stats = corpus
      .select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("pos"),
        round(col("v").cast("double") * lit(1e6)).cast("long").as("q"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"),
        sum(col("q").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("sq"),
        sum((col("q") * col("q")).cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("sq2"))
      .collect()
    val ranked = stats.map { r =>
        val n = BigInt(r.getLong(1))
        val sq = BigInt(r.getDecimal(2).toBigInteger)
        val sq2 = BigInt(r.getDecimal(3).toBigInteger)
        (r.getInt(0), n * sq2 - sq * sq)
      }
      .sortBy { case (pos, num) => (num, pos) }(
        Ordering.Tuple2(Ordering[BigInt].reverse, Ordering.Int))
      .map(_._1)
    val dsub = dim / m
    val perm = new Array[Int](dim)
    for (r <- ranked.indices) perm((r % m) * dsub + r / m) = ranked(r)
    perm.toSeq
  }

  /** Row-local coordinate gather: permuted[i] = vec[perm(i)] — apply the
    * SAME permutation to corpus and queries before PQ training/search. */
  def permuteVec(vec: Column, perm: Seq[Int]): Column =
    array(perm.map(p => element_at(vec, p + 1)): _*)

  /** Deterministic structured rotation y = (1/√n)·H·D·x (sign-flipped
    * Walsh–Hadamard — see [[graft.expressions.HadamardRotate]] for the
    * exactness contract): the training-free decorrelator between the
    * variance-balancing PERMUTATION above (which can move energy between
    * subspaces but never off a hot coordinate) and a fully trained OPQ
    * rotation. Apply the SAME call to corpus and queries; orthogonality
    * makes the rotated inner products rank like the raw ones, while a
    * variance-hoarding coordinate's energy spreads across ALL outputs so
    * every PQ subspace earns its codebook budget. Row-local, O(dim²) per
    * row, no stored matrix, zero search-time overhead. */
  def rotateVec(vec: Column): Column =
    graft.expressions.HadamardRotate.rotate(vec)

  /** Higher-order-function reference implementation of [[rotateVec]] —
    * the pinned semantic twin (ExtensionsSpec), same left-to-right fold. */
  private[graft] def rotateVecHof(vec: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)), i =>
      (aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0), (acc, j) => {
        val par = (bit_count(i.bitwiseAND(j)) +
          bit_count((j.cast("long") * lit(2654435761L)) % lit(4294967296L))) % 2
        val x = element_at(vec, j + 1).cast("double")
        acc + when(par === 0, x).otherwise(-x)
      }) / lit(math.sqrt(dim.toDouble))).cast("float"))

  /** The sign-flipped Hadamard rotation as an explicit row-major matrix —
    * the SAME transform [[rotateVec]] applies natively, materialized for
    * callers that need a matrix: OPQ's initialization, or
    * [[writeIvfIndex]]'s `preTransform` when the index should live in the
    * structured-rotation space without training. R[i][j] =
    * (−1)^(popcount(i&j)+sign(j)) / √dim; entries are exact in float for
    * power-of-4 dims (1/√dim is a power of two there). */
  def hadamardMatrix(dim: Int): Seq[Seq[Float]] = {
    require(dim > 0 && (dim & (dim - 1)) == 0,
      s"Hadamard matrix needs a power-of-two dim, got $dim")
    val scale = math.sqrt(dim.toDouble)
    Seq.tabulate(dim, dim) { (i, j) =>
      val par = (Integer.bitCount(i & j) +
        java.lang.Long.bitCount((j * 2654435761L) % 4294967296L)) & 1
      ((if (par == 0) 1.0 else -1.0) / scale).toFloat
    }
  }

  /** Row-local application of a trained rotation matrix (row-major,
    * y_i = Σ_j R[i][j]·x_j = dot(x, row_i)): the matrix ships as ONE
    * literal `array<array<float>>` inside the plan — O(dim²) floats of
    * bounded metadata, no join, no stored artifact needed at search time —
    * and each output coordinate is a native codegen'd [[dot]] over the
    * packed float arrays. Apply the SAME matrix to corpus and queries. */
  def applyRotation(vec: Column, r: Seq[Seq[Float]]): Column =
    transform(typedLit(r), row => dot(vec, row).cast("float"))

  /** Trained OPQ rotation — Ge et al., CVPR 2013 ("Optimized Product
    * Quantization"), the NON-parametric alternating minimization (FAISS's
    * `OPQMatrix` pre-transform; the trained upgrade over the
    * variance-balanced permutation and the structured Hadamard rotation
    * above). Learns the orthogonal R minimizing the PQ reconstruction
    * error of the rotated corpus ‖R·x − ŷ‖², alternating:
    *
    *   1. train PQ codebooks in the current rotated space
    *      ([[trainPqCodebooks]], the deterministic micro-quantized Lloyd);
    *   2. reconstruct every rotated vector from its codes (row-local
    *      codeword gather against the broadcast codebook);
    *   3. re-fit R by orthogonal Procrustes: maximize tr(Rᵀ·M) over
    *      orthogonal R, where M = Σ_rows ŷ·xᵀ — solved as R = U·Vᵀ from
    *      the SVD of M (driver-side cyclic-Jacobi on the dim×dim matrix).
    *
    * Scale design: each iteration is ONE corpus pass — rotation, encode,
    * and reconstruction are row-local against broadcast arrays, and the
    * dim² correlation matrix reduces through
    * [[graft.expressions.LongVectorSumAgg]] (micro-quantized integer
    * sums — order-independent, so the training is deterministic at any
    * partitioning — with map-side partials: each partition forwards one
    * dim² long array). The driver holds O(dim²) doubles; the corpus never
    * shuffles and is never collected. The SVD is dim×dim — microseconds
    * next to the corpus pass, independent of corpus size.
    *
    * Returns the row-major R for [[applyRotation]]; train final serving
    * codebooks on the rotated corpus afterwards. Not SQL-re-derivable (no
    * SVD in the oracle) — semantics pinned in scalatest (orthogonality,
    * determinism, reconstruction-error descent) and recall measured by
    * `MeasureProps --pq-permute` on three corpora (r12, 2000 vectors,
    * m=8 ksub=64, recall@10): near-isotropic real (spread 1.2×) raw
    * 0.309 / opq 0.300; axis-skewed (76.5×) raw 0.281 / Hadamard 0.597 /
    * opq 0.547; and the ANISOTROPIC fixture (`Amplify.anisotropize` —
    * the same spectrum mixed off-axis through a generic rotation, spread
    * 10.6×) raw 0.497 / Hadamard 0.503 / opq 0.441, degrading further
    * with more alternations (0.394 at opqIters=8). The honest measured
    * conclusion: minimizing reconstruction MSE does NOT transfer to
    * recall@10 at this corpus size (64-centroid subquantizers on 2000
    * vectors memorize; each Procrustes step descends the objective —
    * pinned — yet walks away from the recall-optimal Hadamard init), and
    * on the generic-rotation fixture raw PQ is already balanced so no
    * pre-transform helps. Prefer [[rotateVec]] (training-free Hadamard)
    * as the default pre-transform; reach for OPQ only with corpus/ksub
    * ratios large enough that reconstruction error tracks retrieval. */
  def trainOpqRotation(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      ksub: Int,
      opqIters: Int = 3,
      pqIters: Int = 2,
      initHadamard: Boolean = true): Seq[Seq[Float]] = {
    require(m >= 1 && dim % m == 0, s"m ($m) must divide dim ($dim)")
    require(opqIters >= 1, "opqIters must be at least 1")
    require(!initHadamard || (dim & (dim - 1)) == 0,
      s"Hadamard init needs a power-of-two dim, got $dim")
    val dsub = dim / m
    // Identity is a LOCAL minimum trap on anisotropic corpora (measured:
    // ADC recall 0.319 from identity vs 0.597 from the structured rotation
    // on the variance-skewed corpus) — the OPQ paper and FAISS both seed
    // with a non-trivial rotation; we seed with the same deterministic
    // sign-flipped Hadamard matrix [[rotateVec]] applies, so the trained
    // result starts from the energy-spread space and only improves on it.
    var r: Seq[Seq[Float]] =
      if (initHadamard) hadamardMatrix(dim)
      else Seq.tabulate(dim, dim)((i, j) => if (i == j) 1f else 0f)
    for (_ <- 0 until opqIters) {
      val rotated = corpus.select(col(idCol), col(vecCol),
        applyRotation(col(vecCol), r).as("__rvec"))
      val cb = trainPqCodebooks(rotated.select(col(idCol), col("__rvec")),
        idCol, "__rvec", dim, m, ksub, pqIters)
      val sums = rotated
        .crossJoin(broadcast(pqCodebookArray(cb)))
        .select(col(vecCol),
          pqCodesLocal(col("__rvec"), m, dsub).as("__codes"), col("__cb"))
        .select(col(vecCol),
          flatten(transform(sequence(lit(0), lit(m - 1)), s =>
            element_at(col("__cb"),
              s * ksub + element_at(col("__codes"), s + 1) + 1)
              .getField("cvec"))).as("__recon"))
        .select(graft.expressions.OpqSupport.outerProductQuant(
          col("__recon"), col(vecCol)).as("__op"))
        .agg(graft.expressions.OpqSupport.longVectorSum(col("__op"), dim * dim)
          .as("__sum"))
        .head().getSeq[Long](0)
      val mMat = Array.tabulate(dim, dim)((i, j) =>
        sums(i * dim + j).toDouble / 1e6)
      r = procrustesRotation(mMat).map(_.map(_.toFloat).toSeq).toSeq
    }
    r
  }

  /** Orthogonal-Procrustes solution R = U·Vᵀ of max tr(Rᵀ·M): SVD of the
    * dim×dim M via cyclic-Jacobi eigendecomposition of MᵀM (V), left
    * vectors recovered as u_k = M·v_k/σ_k; near-zero singular directions
    * (rank-deficient M — never data-derived in practice) are completed by
    * Gram–Schmidt so R stays orthogonal. Pure driver-side doubles,
    * deterministic (fixed sweep order, no data-dependent pivoting). */
  private[graft] def procrustesRotation(
      mMat: Array[Array[Double]]): Array[Array[Double]] = {
    val n = mMat.length
    val ata = Array.tabulate(n, n) { (p, q) =>
      var s = 0.0; var i = 0
      while (i < n) { s += mMat(i)(p) * mMat(i)(q); i += 1 }
      s
    }
    val (lam, v) = jacobiEigSym(ata)
    val sig = lam.map(l => math.sqrt(math.max(l, 0.0)))
    val smax = math.max(sig.max, java.lang.Double.MIN_NORMAL)
    val u = Array.ofDim[Double](n, n)
    val filled = Array.fill(n)(false)
    for (k <- 0 until n if sig(k) > 1e-12 * smax) {
      var i = 0
      while (i < n) {
        var s = 0.0; var j = 0
        while (j < n) { s += mMat(i)(j) * v(j)(k); j += 1 }
        u(i)(k) = s / sig(k)
        i += 1
      }
      filled(k) = true
    }
    for (k <- 0 until n if !filled(k)) {
      // complete U with the first basis vector with a non-negligible
      // residual after projecting out every filled column
      var b = 0
      var done = false
      while (b < n && !done) {
        val cand = Array.tabulate(n)(i => if (i == b) 1.0 else 0.0)
        for (k2 <- 0 until n if filled(k2)) {
          var p = 0.0; var i = 0
          while (i < n) { p += cand(i) * u(i)(k2); i += 1 }
          i = 0
          while (i < n) { cand(i) -= p * u(i)(k2); i += 1 }
        }
        val nrm = math.sqrt(cand.map(x => x * x).sum)
        if (nrm > 1e-6) {
          for (i <- 0 until n) u(i)(k) = cand(i) / nrm
          filled(k) = true
          done = true
        }
        b += 1
      }
      require(filled(k), "procrustes: could not complete an orthonormal basis")
    }
    var rr = Array.tabulate(n, n) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < n) { s += u(i)(k) * v(j)(k); k += 1 }
      s
    }
    // Newton–Schulz polish R ← R·(3I − RᵀR)/2: U·Vᵀ as computed can drift
    // from orthogonality by ~1e-4 when singular values cluster (u_k =
    // M·v_k/σ_k inherits the eigenvector ill-conditioning); two
    // quadratically-convergent steps push RᵀR − I below 1e-12
    for (_ <- 0 until 2) {
      val g = Array.tabulate(n, n) { (p, q) =>
        var s = 0.0; var k = 0
        while (k < n) { s += rr(k)(p) * rr(k)(q); k += 1 }
        s
      }
      rr = Array.tabulate(n, n) { (i, j) =>
        var s = 0.0; var k = 0
        while (k < n) { s += rr(i)(k) * (if (k == j) 3.0 - g(k)(j) else -g(k)(j)); k += 1 }
        s / 2.0
      }
    }
    rr
  }

  /** Cyclic-Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, V with eigenvectors as COLUMNS), A = V·Λ·Vᵀ. Fixed
    * (p, q) sweep order ⇒ deterministic. */
  private def jacobiEigSym(
      a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = Array.tabulate(n, n)((i, j) => a0(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var done = false
    while (sweep < 64 && !done) {
      var off = 0.0
      for (p <- 0 until n; q <- p + 1 until n) off += a(p)(q) * a(p)(q)
      if (off <= 1e-22) done = true
      else {
        for (p <- 0 until n; q <- p + 1 until n) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            val tau = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (tau >= 0) 1.0 / (tau + math.sqrt(1.0 + tau * tau))
              else 1.0 / (tau - math.sqrt(1.0 + tau * tau))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < n) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
        }
        sweep += 1
      }
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Encodes the corpus against trained codebooks: (id, codes) with `codes`
    * an m-element int array — the persistent compressed layout a 100 TB
    * corpus stores INSTEAD of float vectors. Row-local ([[pqCodesLocal]]),
    * zero shuffle, one broadcast of the codebook array. */
  def pqEncode(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      dim: Int,
      m: Int): DataFrame =
    corpus.crossJoin(broadcast(pqCodebookArray(codebooks)))
      .select(col(idCol), pqCodesLocal(col(vecCol), m, dim / m).as("codes"))

  /** Per-query ADC lookup tables: one row per query carrying `__lut`, the
    * flat m·ksub array of (query slice · codeword) inner products indexed
    * `sub·ksub + code` — the broadcastable half of every ADC scan. */
  private[graft] def pqLuts(
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      codebooks: DataFrame): DataFrame =
    queries.crossJoin(broadcast(pqCodebookArray(codebooks)))
      .select(col(queryIdCol),
        transform(col("__cb"), cb =>
          dot(slice(col(queryVecCol),
              cb.getField("sub") * size(cb.getField("cvec")) + 1,
              size(cb.getField("cvec"))),
            cb.getField("cvec"))).as("__lut"))

  /** Row-local ADC score Σ_sub lut[sub·ksub + codes[sub]] — m array
    * lookups + adds against the in-scope `__lut` column. The native
    * codegen'd [[graft.expressions.PqAdcScore]]: this runs once per
    * encoded corpus row per query, the hottest loop of the compressed
    * scan, where the HOF fold ([[adcScoreColHof]], kept as the pinned
    * reference) was interpreted `CodegenFallback`. */
  private def adcScoreCol(codesCol: String, m: Int, ksub: Int): Column =
    graft.expressions.PqExpressions.adcScore(col("__lut"), col(codesCol), ksub)

  /** Higher-order-function reference implementation of [[adcScoreCol]]. */
  private[graft] def adcScoreColHof(codesCol: String, m: Int, ksub: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, s) =>
      acc + element_at(col("__lut"), s * ksub + element_at(col(codesCol), s + 1) + 1))

  /** Shared exact-cosine rerank tail: the ids-only candidate list
    * (query_id, neighbor_id) re-attaches float vectors — corpus side one
    * equi-join on id (AQE broadcasts the narrow list), query side an
    * explicit broadcast — scores exact cosine, and keeps rank ≤ k under
    * the engine-wide (cos desc, id asc) tiebreak. */
  private def rerankExact(
      cand: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int): DataFrame = {
    val scored = cand
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol)), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(queryIdCol).as("query_id"), col(queryVecCol))),
        Seq("query_id"))
      .withColumn("cos", cosine(col(vecCol), col(queryVecCol)))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), asc("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** Asymmetric-distance top-k over a PRE-ENCODED corpus — the
    * compressed-domain scan. Per query, ONE lookup table of m·ksub inner
    * products (query slice · codeword, the standard ADC table) rides the
    * broadcast; each corpus row then scores with m array lookups + adds —
    * no float vectors move, the scan is over m-byte-scale codes. Score is
    * the approximate inner product Σ_sub lut[sub·ksub + codes[sub]];
    * ranking tiebreak on candidate id as everywhere else. The corpus side
    * never shuffles (broadcast LUTs, WindowGroupLimit rank). */
  def pqTopKEncoded(
      encoded: DataFrame,
      idCol: String,
      codesCol: String,
      codebooks: DataFrame,
      m: Int,
      ksub: Int,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int = 10): DataFrame = {
    val luts = pqLuts(queries, queryIdCol, queryVecCol, codebooks)
    val scored = encoded
      .join(broadcast(luts), col(idCol) =!= col(queryIdCol))
      .withColumn("score", adcScoreCol(codesCol, m, ksub))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(desc("score"), asc(idCol))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(queryIdCol).as("query_id"), col("rank"),
        col(idCol).as("neighbor_id"), round(col("score"), 6).as("score"))
  }

  /** PQ top-k from raw vectors: encode inline ([[pqEncode]]) and score via
    * [[pqTopKEncoded]] — the one-shot form; at scale, encode once with
    * [[pqEncode]], persist the codes, and search the encoded table. */
  def pqTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      dim: Int,
      m: Int,
      ksub: Int,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int = 10): DataFrame =
    pqTopKEncoded(pqEncode(corpus, idCol, vecCol, codebooks, dim, m), idCol, "codes",
      codebooks, m, ksub, queries, queryIdCol, queryVecCol, k)

  /** PQ shortlist + exact rerank — the production ANN serving shape. The
    * compressed-domain ADC scan ([[pqTopKEncoded]] at k=`shortlist`)
    * nominates candidates per query from the m-byte codes alone; ONLY
    * those queries×shortlist rows re-attach float vectors for an exact
    * cosine rerank. At 100 TB the full scan touches the ~3% of bytes that
    * are codes, the float reads are a per-query constant, and recall is
    * governed by `shortlist` (measured ≥0.9 of the exact cosine top-10 at
    * shortlist=50 on the test embeddings, pinned in SourcesSpec) — the
    * standard recall/IO dial, fully deterministic end to end. */
  def pqTopKReranked(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      dim: Int,
      m: Int,
      ksub: Int,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int = 10,
      shortlist: Int = 100): DataFrame = {
    // ids-only shortlist; vectors re-attach after (the lshTopK pattern —
    // no float payload rides the candidate exchanges)
    val cand = pqTopK(corpus, idCol, vecCol, codebooks, dim, m, ksub,
        queries, queryIdCol, queryVecCol, k = shortlist)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(cand, corpus, idCol, vecCol, queries, queryIdCol, queryVecCol, k)
  }

  /** IVF×PQ composite search — the FAISS IVFPQ shape, inline form: the
    * coarse quantizer bounds WHICH rows are scanned (each query probes its
    * `nprobe` cells only), PQ bounds WHAT the scan reads (m-byte codes,
    * not float vectors), and the exact-cosine rerank restores precision
    * over the `shortlist` nominees alone. Both assignment and encoding are
    * ONE row-local corpus pass (cell argmax + PQ codes against two
    * broadcast arrays, no fan-out); ADC candidates are an equi-join on the
    * cell key against the broadcast probe×LUT table — at 100 TB with
    * k=1024 cells and nprobe=8 the compressed scan itself shrinks ~128×
    * before the 32× byte compression even counts. Deterministic end to end
    * (L2 argmin / ADC / cosine folds with integer tiebreaks), so the whole
    * composite is oracle-checkable. For the write-once/probe-many form
    * over a persisted layout see [[writeIvfIndex]] + [[ivfPqTopKIndexed]]
    * (bit-equality pinned in SourcesSpec).
    *
    * `residual = true` selects RESIDUAL encoding — the exact FAISS IVFPQ
    * shape: codes quantize vec − cvec[cell] (pass [[ivfResiduals]]-trained
    * codebooks!), and the ADC score adds the per-(query, probed-cell)
    * correction q·cvec[cell], restoring the inner-product decomposition
    * q·x ≈ q·c + q·r̂ exactly — one extra broadcast-side dot per probe
    * row, nothing new on the corpus side. Default false keeps the raw-code
    * path bit-identical to its pinned oracles. */
  def ivfPqTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centroidIdCol: String,
      centroidVecCol: String,
      codebooks: DataFrame,
      dim: Int,
      m: Int,
      ksub: Int,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int = 10,
      nprobe: Int = 1,
      shortlist: Int = 100,
      residual: Boolean = false): DataFrame = {
    val cand = ivfPqAdcRanked(corpus, idCol, vecCol, centroids, centroidIdCol,
        centroidVecCol, codebooks, dim, m, ksub, queries, queryIdCol, queryVecCol,
        limit = shortlist, nprobe = nprobe, residual = residual)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(cand, corpus, idCol, vecCol, queries, queryIdCol, queryVecCol, k)
  }

  /** The probed ADC ranking stage of [[ivfPqTopK]] — (query_id, rank,
    * neighbor_id, score) with rank ≤ `limit` under the (score desc, id
    * asc) tiebreak. Exposed package-private as the batch twin the
    * streaming compressed-domain server pins against
    * (`Streams.annPqTopKStream` must rank-for-rank reproduce this). */
  private[graft] def ivfPqAdcRanked(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centroidIdCol: String,
      centroidVecCol: String,
      codebooks: DataFrame,
      dim: Int,
      m: Int,
      ksub: Int,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      limit: Int,
      nprobe: Int,
      residual: Boolean = false): DataFrame = {
    val cents = centroidArray(centroids, centroidIdCol, centroidVecCol)
    // one row-local pass computes BOTH the cell assignment and the codes.
    // element_at (not explode) for the 1-cell argmax: a generator in this
    // select makes the analyzer re-resolve the PQ lambda AFTER alias
    // cleanup, losing the struct field names the assignment comparator
    // binds to
    val encoded =
      if (!residual)
        corpus.crossJoin(broadcast(cents))
          .crossJoin(broadcast(pqCodebookArray(codebooks)))
          .select(col(idCol),
            element_at(topCellsLocal(col(vecCol), 1), 1).getField("cell").as("cell"),
            pqCodesLocal(col(vecCol), m, dim / m).as("codes"))
      else
        // residual mode quantizes vec − cvec[cell]: the argmax struct
        // carries the winning cvec ([[bestCentLocal]]) so projection
        // collapse re-evaluates the argmax at most twice per row — the
        // previous named-cell + per-element-lookup shape collapsed into an
        // argmax-inside-filter evaluated once per centroid (the 12×
        // audit-row regression); still one row-local pass, no fan-out
        corpus.crossJoin(broadcast(cents))
          .crossJoin(broadcast(pqCodebookArray(codebooks)))
          .select(col(idCol), col(vecCol), bestCentLocal(col(vecCol)).as("__bc"), col("__cb"))
          .select(col(idCol), col("__bc").getField("cell").as("cell"),
            pqCodesLocal(
              zip_with(col(vecCol), col("__bc").getField("cvec"),
                (x, y) => (x.cast("double") - y.cast("double")).cast("float")),
              m, dim / m).as("codes"))
    val probed =
      if (!residual)
        queries.crossJoin(broadcast(cents))
          .select(col(queryIdCol), col(queryVecCol),
            explode(topCellsLocal(col(queryVecCol), nprobe)).as("__probe"))
          .select(col(queryIdCol), col("__probe.cell").as("cell"))
      else
        // the q·cvec[cell] correction term of the residual decomposition —
        // computed on the probe side (O(queries × nprobe) rows), where it
        // rides the broadcast for free
        queries.crossJoin(broadcast(cents))
          .select(col(queryIdCol), col(queryVecCol),
            explode(topCellsLocal(col(queryVecCol), nprobe)).as("__probe"), col("__cents"))
          .select(col(queryIdCol), col(queryVecCol),
            col("__probe.cell").as("cell"), col("__cents"))
          .select(col(queryIdCol), col("cell"),
            dot(col(queryVecCol), centVecOf(col("cell"))).as("__qc"))
    val probedLut = probed
      .join(pqLuts(queries, queryIdCol, queryVecCol, codebooks), Seq(queryIdCol))
    val adc = encoded.join(broadcast(probedLut), Seq("cell"))
      .filter(col(idCol) =!= col(queryIdCol))
      .withColumn("score",
        if (residual) col("__qc") + adcScoreCol("codes", m, ksub)
        else adcScoreCol("codes", m, ksub))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(desc("score"), asc(idCol))
    adc
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= limit)
      .select(col(queryIdCol).as("query_id"), col("rank"),
        col(idCol).as("neighbor_id"), col("score"))
  }

  /** IVF-style coarse quantization: assigns every vector to its nearest of
    * `centroids` (a small broadcast table of (centroid_id, vec)), giving the
    * partition-pruning layout an ANN index needs at scale: store
    * partitioned by cell, search only the query's top cells. The argmax is
    * the row-local [[topCellsLocal]] fold — one row in, one row out, no
    * corpus×k intermediate and no Window sort in the plan. */
  def ivfAssign(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centroidIdCol: String,
      centroidVecCol: String): DataFrame =
    corpus.crossJoin(broadcast(centroidArray(centroids, centroidIdCol, centroidVecCol)))
      .select(col(idCol), explode(topCellsLocal(col(vecCol), 1)).as("__best"))
      .select(col(idCol), col("__best.cell").as("cell"),
        round(col("__best.cos"), 6).as("cell_cos"))

  /** Prototype-based data pruning (Sorscher et al., NeurIPS 2022 — "Beyond
    * neural scaling laws"): cluster the embedding corpus, score each
    * example's PROTOTYPICALITY as cosine-to-its-centroid, and drop the
    * `dropPct`% most prototypical examples per cluster — when data is
    * abundant, pruning the easiest (most redundant) examples beats random
    * pruning, and per-cluster quotas keep the pruning from gutting small
    * modes. The dual of [[graft.operators.Dedup.semanticDedup]]: that
    * removes near-identical pairs; this thins dense cluster CORES.
    *
    * Determinism: ranks order by the ROUNDED (6 dp) cosine with id
    * tiebreak — round-then-rank, so the kept set is exactly
    * oracle-derivable; the per-cell drop count is integer arithmetic
    * (size × dropPct div 100).
    *
    * Scale: assignment is the row-local broadcast-centroid pass
    * ([[ivfAssign]] — embeddings never shuffle); the only exchange is the
    * (id, cell, cos) METADATA table hash-partitioned by cell for the
    * per-cell window, cells being the parallel unit exactly as in the IVF
    * index. Returns one row per corpus row:
    * (id, cell, cell_cos, proto_rank, cell_size, keep). */
  def prototypePrune(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centroidIdCol: String,
      centroidVecCol: String,
      dropPct: Int): DataFrame = {
    require(dropPct >= 0 && dropPct <= 100, "dropPct must be in [0, 100]")
    val w = Window.partitionBy("cell").orderBy(col("cell_cos").desc, col(idCol).asc)
    ivfAssign(corpus, idCol, vecCol, centroids, centroidIdCol, centroidVecCol)
      .withColumn("proto_rank", row_number().over(w).cast("long"))
      .withColumn("cell_size", count(lit(1)).over(Window.partitionBy("cell")))
      .withColumn("keep", expr(s"proto_rank > (cell_size * $dropPct) div 100"))
      .select(col(idCol).as("id"), col("cell"), col("cell_cos"),
        col("proto_rank"), col("cell_size"), col("keep"))
  }

  /** IVF-blocked k-nearest-neighbor GRAPH: every document's exact-cosine
    * top-`k` neighbors among the members of its own coarse cell — the
    * blocked construction every corpus-scale kNN-graph consumer (diversity
    * metrics, graph-based dedup, kNN-LM retrieval indices) uses, because
    * the exact graph is a corpus² join and the cell block bounds it at
    * Σ|cell|·min(|cell|, cap).
    *
    * Scale shape: assignment is the row-local broadcast-centroid pass (no
    * corpus×k fan-out); the single shuffle is the self-join on the cell
    * key; ranking is the bounded [[graft.expressions.TopKAgg]] — O(k)
    * state per document with map-side partials, so each map task forwards
    * at most k candidates per doc instead of sorting the full per-cell
    * candidate set through a window. `maxCellNeighbors` (default
    * [[graft.operators.Dedup.DefaultMaxCellSize]]) is the skew guard on
    * the NEIGHBOR side of the join — an oversized cell contributes only
    * its cap most CENTRAL members as neighbor candidates (cent_cos
    * descending, id tiebreak; count-gated, so under-cap cells bypass the
    * ranking window and reproduce the uncapped plan). One-sided like every
    * cap in this family: a neighbor may be missed against a dropped
    * low-centrality member, every reported neighbor is exact-cosine
    * against a true cell member. Pass [[graft.operators.Dedup.Exact]] for
    * unconditional within-cell semantics. A document alone in its cell has
    * no candidates and emits no rows.
    *
    * Determinism: candidates rank on the raw double cosine (the
    * bit-identical left-to-right fold the ANN oracles re-derive) with id
    * tiebreak; the emitted cosine is rounded to 6 dp.
    *
    * Id typing: the id column keeps its ORIGINAL type end-to-end (the
    * [[Dedup.semanticDedup]] family contract). Integral ids (byte/short/
    * int/long) ride the O(k)-state [[graft.expressions.TopKAgg]] path —
    * the long slot in its buffer is lossless for them; any other id type
    * (string, decimal, fractional) ranks through the equivalent
    * per-(doc, cell) window formulation instead, same (cos desc,
    * neighbor_id asc) total order, because squeezing those through a long
    * cast would collide or silently NULL the ids.
    *
    * Returns one row per (document, neighbor): (id, cell, rank,
    * neighbor_id, cos), rank 1..k by (cos desc, neighbor_id asc). */
  def knnGraph(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centroidIdCol: String,
      centroidVecCol: String,
      k: Int,
      maxCellNeighbors: Long = Dedup.DefaultMaxCellSize): DataFrame = {
    import graft.expressions.TopKAgg.topKByScore
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    require(k >= 1, "k must be at least 1")
    require(maxCellNeighbors >= 1, "maxCellNeighbors must be at least 1")
    val idType = corpus.schema(idCol).dataType
    val integralId = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val cents = centroidArray(centroids, centroidIdCol, centroidVecCol)
    val assigned = corpus.crossJoin(broadcast(cents))
      .select(col(idCol), col(vecCol),
        explode(topCellsLocal(col(vecCol), 1)).as("__best"))
      .select(col(idCol).as("id"), col(vecCol).as("__vec"),
        col("__best.cell").as("cell"), round(col("__best.cos"), 6).as("cent_cos"))
    val neigh =
      if (maxCellNeighbors == Dedup.Exact)
        assigned.select(col("cell"), col("id").as("__nid"), col("__vec").as("__nv"))
      else {
        val counts = assigned.groupBy("cell").agg(count(lit(1)).as("__n"))
        val withN = assigned.join(broadcast(counts), Seq("cell"))
        val small = withN.filter(col("__n") <= maxCellNeighbors)
          .select(col("cell"), col("id").as("__nid"), col("__vec").as("__nv"))
        val w = Window.partitionBy(col("cell")).orderBy(desc("cent_cos"), asc("id"))
        val capped = withN.filter(col("__n") > maxCellNeighbors)
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= maxCellNeighbors)
          .select(col("cell"), col("id").as("__nid"), col("__vec").as("__nv"))
        small.union(capped)
      }
    val cand = assigned.select(col("id"), col("cell"), col("__vec"))
      .join(neigh, Seq("cell"))
      .filter(col("id") =!= col("__nid"))
    if (integralId)
      cand
        .select(col("id"), col("cell"),
          struct(cosine(col("__vec"), col("__nv")).as("score"),
            col("__nid").cast("long").as("id")).as("__c"))
        .groupBy(col("id"), col("cell"))
        .agg(topKByScore(col("__c"), k).as("__topk"))
        .select(col("id"), col("cell"), posexplode(col("__topk")))
        .select(col("id"), col("cell"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").cast(idType).as("neighbor_id"), round(col("col.score"), 6).as("cos"))
    else {
      // non-integral id: same total order through the window formulation
      val scored = cand.withColumn("__cos", cosine(col("__vec"), col("__nv")))
      val w = Window.partitionBy(col("id"), col("cell"))
        .orderBy(col("__cos").desc, col("__nid").asc)
      scored.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= k)
        .select(col("id"), col("cell"), col("__rk").cast("long").as("rank"),
          col("__nid").as("neighbor_id"), round(col("__cos"), 6).as("cos"))
    }
  }
}
