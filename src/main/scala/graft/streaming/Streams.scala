package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.MetaFrame

/** Structured-Streaming layer (SURVEY.md §2.2j).
  *
  * The reference is source-agnostic — a wrapped `readStream` DataFrame
  * delegates identically to a batch one (router at metaframe.py:77-89) — so
  * batch transforms here are the SAME functions used by the batch queries;
  * only sources/sinks differ. `writeStream` in the reference always drops
  * metadata (`DataStreamWriter` is not in `RETURNED_CLASSES`,
  * metaframe.py:46); [[MetaStreamWriter]] is our documented divergence that
  * keeps it (SURVEY.md §7.3).
  */
object Streams {

  /** Event row shape of the driver `events` table (FIXTURES.md §2). */
  case class Event(
      event_id: Long,
      ts: java.sql.Timestamp,
      user_id: Long,
      event_type: String,
      value: Double)

  /** Running per-user session snapshot emitted by [[sessionize]]. */
  case class UserSession(
      user_id: Long,
      n_events: Long,
      total_value: Double,
      first_event: Long,
      last_event: Long)

  /** Per-user funnel progression state: the times of each completed step
    * (a prefix — O(steps) no matter how many events flow in). */
  case class FunnelState(times: Seq[Long])

  /** One user's current funnel snapshot, upsert-ready. */
  case class FunnelProgress(
      user_id: Long,
      steps_completed: Long,
      t_first_us: Option[Long],
      t_last_us: Option[Long])

  /** Stateful streaming funnel — the `mapGroupsWithState` twin of
    * [[graft.operators.Events.funnel]]: each micro-batch folds a user's
    * new events (sorted in-batch by (ts, id)) into the greedy
    * earliest-completion prefix — an event advances the funnel only when
    * it is the NEXT step and strictly after the previous step's time —
    * and emits the user's updated snapshot in update mode. Per-user state
    * is O(steps) times, never an event buffer.
    *
    * EQUIVALENCE CONTRACT (pinned in StreamingSpec): as long as each
    * user's events arrive in non-decreasing time order ACROSS batches
    * (the append-only assumption of the incremental family; in-batch
    * order is sorted here), the final snapshot per user is identical to
    * the batch [[graft.operators.Events.funnel]] over all events — the
    * greedy fold processes qualifying events in the same order either
    * way. */
  def funnelStream(
      events: Dataset[Event],
      steps: Seq[String]): Dataset[FunnelProgress] = {
    require(steps.nonEmpty, "steps must be non-empty")
    require(steps.distinct.length == steps.length, "steps must be distinct")
    import events.sparkSession.implicits._
    def us(e: Event): Long = {
      val i = e.ts.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[FunnelState]) =>
          val sorted = batch.toSeq.sortBy(e => (us(e), e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            var times = state.getOption.map(_.times).getOrElse(Seq.empty)
            for (e <- sorted) {
              val depth = times.length
              if (depth < steps.length && e.event_type == steps(depth) &&
                  (times.isEmpty || us(e) > times.last)) times = times :+ us(e)
            }
            state.update(FunnelState(times))
            Iterator.single(FunnelProgress(userId, times.length.toLong,
              times.headOption, times.lastOption))
          }
      }
  }

  /** File-based streaming source over the same parquet layout the batch
    * loaders use (schema must be supplied — streaming reads can't infer). */
  def readParquetStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Watermarked tumbling-window aggregation — identical plan shape to the
    * batch `stream_tumbling_window` declared query; on a streaming source
    * the watermark bounds state size and admits `append` output. */
  def tumblingAgg(df: DataFrame, tsCol: String, windowDur: String, watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n_events"), col("sum_value"))

  /** Session-window aggregation: gap-based sessions per user (Spark's
    * `session_window`); watermark bounds session state. */
  def sessionWindowAgg(df: DataFrame, tsCol: String, gap: String, watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("sstart"),
              col("session_window.end").as("send"), col("user_id"), col("n_events"))

  /** Sliding-window variant (windowDur every slideDur). */
  def slidingAgg(df: DataFrame, tsCol: String, windowDur: String, slideDur: String, watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur, slideDur))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("wstart"), col("window.end").as("wend"), col("n_events"))

  /** Watermarked STREAM-STREAM interval join — the click↔impression
    * attribution shape (r15 verdict #8: the one Structured Streaming
    * capability class the engine never touched): each right-side event
    * joins left-side events with the same key whose event time it follows
    * within `maxDelaySeconds`. Both sides carry watermarks and the join
    * condition bounds BOTH event-time columns, so Spark's symmetric
    * state-store join provably evicts: a left row's state lives until the
    * global watermark passes `leftTs + maxDelay + lateness`, a right
    * row's until its own lateness — without the time bound the state
    * would grow with the stream, the classic unbounded-join mistake.
    *
    * Output mode: APPEND only (Spark's supported mode for stream-stream
    * inner joins — matches emit as they form; update/complete are
    * rejected by the engine). The same call on two BATCH frames is the
    * plain interval join, which is exactly what StreamingSpec pins the
    * streamed result against.
    *
    * Rename join keys apart before calling (the condition references both
    * by name). Inner joins only here; outer stream-stream joins need a
    * null-emission delay policy the caller must own. */
  def streamIntervalJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      maxDelaySeconds: Long,
      lateness: String = "0 seconds"): DataFrame = {
    require(maxDelaySeconds > 0, "maxDelaySeconds must be positive")
    left.withWatermark(leftTs, lateness)
      .join(right.withWatermark(rightTs, lateness),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) &&
          col(rightTs) <= col(leftTs) + expr(s"INTERVAL $maxDelaySeconds SECONDS"))
  }

  /** Streaming dedup bounded by watermark (maps to the reference-visible
    * `dropDuplicatesWithinWatermark`; no pk metadata — SURVEY §2.2j). */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, watermark: String, keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keys)

  /** Custom stateful sessionization via `flatMapGroupsWithState`: keeps one
    * running (count, sum, first, last) per user and emits the updated
    * snapshot each time the group sees new data. State is O(users), not
    * O(events) — the shape that survives unbounded streams. */
  def sessionize(events: Dataset[Event]): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserSession, UserSession](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserSession]) =>
          val events = batch.toSeq
          if (events.isEmpty) Iterator.empty
          else {
            val prev = state.getOption.getOrElse(UserSession(userId, 0L, 0.0, Long.MaxValue, Long.MinValue))
            val next = UserSession(
              userId,
              prev.n_events + events.length,
              prev.total_value + events.map(_.value).sum,
              math.min(prev.first_event, events.map(_.event_id).min),
              math.max(prev.last_event, events.map(_.event_id).max))
            state.update(next)
            Iterator.single(next)
          }
      }
  }

  /** Streaming ANN top-k: a STREAM of query vectors searched against a
    * STATIC pre-assigned IVF corpus (e.g. the cell-partitioned table
    * `Similarity.writeIvfIndex` materializes) — the query-serving shape:
    * index built once, queries arrive continuously. Each query assigns
    * itself to its `nprobe` cells ROW-LOCALLY (the centroid table collapses
    * to one static broadcast row, same fold as the batch search), candidates
    * are one stream-static equi-join on the cell key, and ranking is an
    * UPDATE-mode aggregate whose state is **O(k) per query** — the bounded
    * [[graft.expressions.TopKAgg]] buffer, not a `collect_list` growing
    * with every candidate ever seen. Output: one row per query carrying its
    * current `topk` array of (score, id) structs, upsert-ready; ranks and
    * ties follow the batch search's (cos desc, id asc) order exactly
    * (pinned against `Similarity.ivfTopK` in StreamingSpec). */
  def annTopKStream(
      queries: DataFrame,
      corpusCells: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int = 10,
      nprobe: Int = 1): DataFrame = {
    import graft.expressions.TopKAgg.topKByScore
    import graft.functions.VectorFunctions.cosine
    import graft.operators.Similarity
    val cents = Similarity.centroidArray(centroids, "cell", "cvec")
    // explicit broadcast of the 1-row centroid array — same pinned plan as
    // the batch twin (Similarity.ivfTopK); don't rely on the planner
    // noticing the single static row on its own.
    val probed = queries.crossJoin(broadcast(cents))
      .select(col(queryIdCol), col(queryVecCol),
        explode(Similarity.topCellsLocal(col(queryVecCol), nprobe)).as("__probe"))
      .select(col(queryIdCol), col(queryVecCol), col("__probe.cell").as("cell"))
    probed
      .join(corpusCells.select(col(idCol), col(vecCol), col("cell")), Seq("cell"))
      .filter(col(idCol) =!= col(queryIdCol))
      .withColumn("__cos", cosine(col(vecCol), col(queryVecCol)))
      .groupBy(col(queryIdCol).as("query_id"))
      .agg(topKByScore(struct(col("__cos"), col(idCol)), k).as("topk"))
  }

  /** Streaming COMPRESSED-DOMAIN ANN: a stream of query vectors ADC-served
    * against the codes-only projection of an IVF×PQ layout
    * (`Similarity.writeIvfIndex(pqCodebooks = …)`) — the 100 TB serving
    * shape where each micro-batch reads m-byte codes from the probed cells
    * only and no float corpus vector ever enters the stream. Per query:
    * row-local nprobe assignment against the broadcast centroid array, a
    * row-local ADC lookup table (m·ksub inner products) against the
    * broadcast codebook array, ONE stream-static equi-join on the cell
    * key, the native codegen'd ADC score per candidate, and update-mode
    * [[graft.expressions.TopKAgg]] ranking with O(k) state per query.
    *
    * Scores are the ADC approximate inner products — rank-for-rank equal
    * to the batch composite's shortlist stage
    * (`Similarity.ivfPqAdcRanked`, pinned in StreamingSpec). The
    * exact-cosine rerank is a second stateful stage a single streaming
    * DAG cannot express (an update-mode aggregate feeding a join); rerank
    * the emitted shortlist in the consumer, or batch-side via
    * [[graft.operators.Similarity.ivfPqTopKIndexed]].
    *
    * For a pre-transformed layout (`writeIvfIndex(preTransform = …)`) the
    * caller — who already reads the layout's artifacts to pass
    * `encodedCells`/`centroids`/`codebooks` — must rotate the query
    * stream the same way (row-local `Similarity.applyRotation(queryVec,
    * r)` with the version's stored matrix); [[annPqServeStream]] inherits
    * the automatic rotation from `ivfPqTopKIndexed`. */
  def annPqTopKStream(
      queries: DataFrame,
      encodedCells: DataFrame,
      idCol: String,
      codesCol: String,
      centroids: DataFrame,
      codebooks: DataFrame,
      ksub: Int,
      queryIdCol: String,
      queryVecCol: String,
      k: Int = 10,
      nprobe: Int = 1): DataFrame = {
    import graft.expressions.{PqExpressions, TopKAgg}
    import graft.functions.VectorFunctions.dot
    import graft.operators.Similarity
    val cents = Similarity.centroidArray(centroids, "cell", "cvec")
    val probed = queries.crossJoin(broadcast(cents))
      .select(col(queryIdCol), col(queryVecCol),
        explode(Similarity.topCellsLocal(col(queryVecCol), nprobe)).as("__probe"))
      .select(col(queryIdCol), col(queryVecCol), col("__probe.cell").as("cell"))
    // the per-query LUT rides each probed row (recomputed nprobe× per
    // query, row-locally — joining a separate LUT frame back onto the
    // probe would be a stream-stream join)
    val withLut = probed.crossJoin(broadcast(Similarity.pqCodebookArray(codebooks)))
      .select(col(queryIdCol), col("cell"),
        transform(col("__cb"), cb =>
          dot(slice(col(queryVecCol),
              cb.getField("sub") * size(cb.getField("cvec")) + 1,
              size(cb.getField("cvec"))),
            cb.getField("cvec"))).as("__lut"))
    withLut
      .join(encodedCells.select(col(idCol), col(codesCol), col("cell")), Seq("cell"))
      .filter(col(idCol) =!= col(queryIdCol))
      .withColumn("__score", PqExpressions.adcScore(col("__lut"), col(codesCol), ksub))
      .groupBy(col(queryIdCol).as("query_id"))
      .agg(TopKAgg.topKByScore(struct(col("__score"), col(idCol)), k).as("topk"))
  }

  /** IVF×PQ serving as a `foreachBatch` query — the production
    * counterpart of [[annPqTopKStream]] for deployments where the index
    * RETRAINS while queries flow. Each micro-batch runs the full batch
    * composite ([[graft.operators.Similarity.ivfPqTopKIndexed]]):
    * partition-pruned codes-only ADC scan PLUS the exact-cosine rerank
    * the single-DAG streaming form cannot express (an update-mode
    * aggregate feeding a join is a second stateful operator), and —
    * because the index version resolves INSIDE the per-batch call — a
    * `writeIvfIndex` republish is picked up at the next micro-batch
    * boundary with no restart. Version-boundary semantics, pinned in
    * StreamingSpec: every batch binds exactly one published version
    * (resolve-once inside the call), a republish can land only BETWEEN
    * batches, and pre-republish batches keep their version's files
    * (prune only after the retention window, as in batch serving).
    *
    * `sink` receives the reranked (query_id, rank, neighbor_id, cos)
    * frame and the micro-batch id — write it to the serving store,
    * upsert a cache, or publish downstream. */
  def annPqServeStream(
      queries: DataFrame,
      indexPath: String,
      queryIdCol: String,
      queryVecCol: String,
      checkpointDir: String,
      k: Int = 10,
      nprobe: Int = 1,
      shortlist: Int = 100,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    queries.writeStream
      .queryName("graft_annpq_serve")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(graft.operators.Similarity.ivfPqTopKIndexed(
          batch.sparkSession, indexPath, batch, queryIdCol, queryVecCol,
          k = k, nprobe = nprobe, shortlist = shortlist), batchId)
      }
      .start()

  /** Streaming embedding near-dedup: a STREAM of new vectors matched
    * against a STATIC corpus — the embedding-modality twin of
    * [[incrementalNearDupStream]], and completely STATELESS (append mode):
    * both sides bucket by the row-local random-hyperplane sign pattern
    * (`VectorFunctions.lshBucket`, the batch `Dedup.embeddingNearDup`
    * representation), candidates are stream-bucket × corpus-bucket
    * collisions ONLY (one stream-static equi-join on an integer key — the
    * corpus never self-joins, no cross join), and each candidate confirms
    * with a row-local exact cosine, so emitted matches are structurally
    * exact. One row per confirmed (stream, corpus) pair — a pair-grained
    * append needs no aggregate state, where a best-match-per-doc contract
    * would force an UPDATE-mode aggregate.
    *
    * Recall model is the batch operator's, verbatim: a true near-dup is
    * missed iff the pair splits buckets (probability (1−θ/π)^nbits-ish per
    * hyperplane miss) — raise recall with fewer bits, with
    * [[embeddingNearDupMultiProbeStream]] (the T-probe dial over the same
    * O(n) index — the recall fix for this path), or run the batch sweep
    * periodically. `nbits` defaults to the batch operator's
    * occupancy-aware auto-sizing (`Dedup.recommendedNbits`) over the
    * STATIC corpus count — the corpus is the side whose growth fills the
    * buckets, and one `count()` of a batch frame at query build is legal
    * where counting the stream would not be. Emitted pairs are pinned
    * bit-equal to the batch operator's straddling pairs in StreamingSpec.
    * At scale, persist the bucketed corpus projection so each micro-batch
    * reuses it instead of re-bucketing the corpus. */
  def embeddingNearDupStream(
      stream: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      nbits: Int = graft.operators.Dedup.AutoNbits): DataFrame = {
    import graft.functions.VectorFunctions.{cosine, lshBucket}
    import graft.operators.Dedup
    val bits =
      if (nbits == Dedup.AutoNbits) Dedup.recommendedNbits(corpus.count()) else nbits
    val s = stream.select(col(idCol).as("stream_id"), col(vecCol).as("__s_vec"),
      lshBucket(col(vecCol), bits, dim).as("__bucket"))
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__c_vec"),
      lshBucket(col(vecCol), bits, dim).as("__bucket"))
    s.join(c, Seq("__bucket"))
      .withColumn("cos", cosine(col("__s_vec"), col("__c_vec")))
      .filter(col("cos") >= threshold)
      .select(col("stream_id"), col("corpus_id"), round(col("cos"), 6).as("cos"))
  }

  /** Multi-probe twin of [[embeddingNearDupStream]] — the recall fix for
    * the serving path, which otherwise buckets both sides with
    * single-table `lshBucket` at the measured-low single-shot recall
    * (0.35/0.22/0.12 at nbits 2/3/4). Delegates VERBATIM to the batch
    * [[graft.operators.Dedup.embeddingNearDupMultiProbeIncremental]] —
    * the plan is already streaming-legal in append mode: the corpus index
    * stays ONE O(n) base-bucket projection (never rebuilt, at any probe
    * count), only the STREAM side explodes to T margin-ranked probe
    * buckets, the single stream-static equi-join is stateless, and no
    * dedup state is needed because each (stream, corpus) pair can join at
    * most once (probe codes per vector are pairwise distinct; one index
    * row per corpus vector). `probes` is therefore a pure per-query dial:
    * raising recall between restarts re-reads more buckets of the SAME
    * index. At T = 1 this is exactly the single-table path; at
    * T = `Dedup.maxProbes(nbits)` the output is the exact straddling
    * cosine pairs. Emitted columns (stream_id, corpus_id, cos, nbits,
    * n_probes); pinned against the batch twin in StreamingSpec. */
  def embeddingNearDupMultiProbeStream(
      stream: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      nbits: Int = graft.operators.Dedup.AutoNbits,
      probes: Int = graft.operators.Dedup.AutoProbes,
      targetRecall: Double = 0.8): DataFrame =
    graft.operators.Dedup.embeddingNearDupMultiProbeIncremental(
        corpus, stream, idCol, vecCol, dim, threshold, nbits, probes, targetRecall)
      .select(col("id").as("stream_id"), col("matched_id").as("corpus_id"),
        col("cos"), col("nbits"), col("n_probes"))

  /** Streaming SemDeDup: a STREAM of new embeddings matched against a
    * STATIC deduplicated corpus under a FROZEN coarse quantizer — the
    * ingestion-time twin of `Dedup.semanticDedupIncremental`, same shape
    * as [[incrementalNearDupStream]]: the stream side stays stateless
    * through the row-local cell assignment (broadcast 1-row centroid
    * array, the [[annTopKStream]] fold), candidates are ONE stream-static
    * equi-join on the cell key (the corpus never self-joins), every
    * candidate passes the exact cosine confirm, and confirmed matches
    * aggregate per stream doc in UPDATE mode — state is O(matched docs).
    * The static side carries the same count-gated `maxCellStore` cap as
    * the batch twin (oversized store cells keep their most central
    * members; computed once on the static subplan, no per-batch cost).
    * Emits only matched docs — the "semantically new" NULL row of the
    * batch operator has no anchor in update mode. Matches are pinned
    * bit-equal to the batch operator's non-NULL verdicts in
    * StreamingSpec. */
  def semanticDedupStream(
      stream: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centroidIdCol: String,
      centroidVecCol: String,
      threshold: Double,
      maxCellStore: Long = graft.operators.Dedup.DefaultMaxCellSize): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    import graft.operators.{Dedup, Similarity}
    import org.apache.spark.sql.expressions.Window
    require(maxCellStore >= 1, "maxCellStore must be at least 1")
    val cents = Similarity.centroidArray(centroids, centroidIdCol, centroidVecCol)
    def assign(df: DataFrame, idOut: String, vecOut: String): DataFrame =
      df.crossJoin(broadcast(cents))
        .select(col(idCol), col(vecCol),
          explode(Similarity.topCellsLocal(col(vecCol), 1)).as("__best"))
        .select(col(idCol).as(idOut), col(vecCol).as(vecOut),
          col("__best.cell").as("cell"))
    val s = assign(stream, "stream_id", "__sv")
    val store0 = corpus.crossJoin(broadcast(cents))
      .select(col(idCol), col(vecCol),
        explode(Similarity.topCellsLocal(col(vecCol), 1)).as("__best"))
      .select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"),
        col("__best.cell").as("cell"), round(col("__best.cos"), 6).as("cent_cos"))
    val store =
      if (maxCellStore == Dedup.Exact) store0.select("cell", "corpus_id", "__cv")
      else {
        val counts = store0.groupBy("cell").agg(count(lit(1)).as("__n"))
        val withN = store0.join(broadcast(counts), Seq("cell"))
        val w = Window.partitionBy(col("cell")).orderBy(desc("cent_cos"), asc("corpus_id"))
        withN.filter(col("__n") <= maxCellStore)
          .select("cell", "corpus_id", "__cv")
          .union(withN.filter(col("__n") > maxCellStore)
            .withColumn("__rk", row_number().over(w))
            .filter(col("__rk") <= maxCellStore)
            .select("cell", "corpus_id", "__cv"))
      }
    s.join(store, Seq("cell"))
      .withColumn("__cos", cosine(col("__sv"), col("__cv")))
      .filter(col("__cos") >= threshold)
      .groupBy(col("stream_id").as("id"))
      .agg(min(col("corpus_id")).as("matched_id"),
        round(max(col("__cos")), 6).as("best_cos"))
  }

  /** Streaming incremental near-dedup: a STREAM of new documents matched
    * against a STATIC corpus — the stream-static equi-join enrichment
    * pattern. The stream side stays stateless through banding
    * (`Dedup.bandKeys` is a row-local projection + explode), candidates are
    * stream-band × corpus-band collisions only (the corpus never
    * self-joins, same as the batch `Dedup.incrementalNearDup`), and
    * confirmed matches aggregate per stream doc in UPDATE mode — state is
    * O(matched docs), not O(stream). Band collisions can surface the same
    * pair in several micro-batches; the min/max aggregate makes re-emission
    * idempotent for an upsert sink. */
  def incrementalNearDupStream(
      stream: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      bands: Int = 8,
      shingleWidth: Int = 3,
      minJaccard: Double = 0.8): DataFrame = {
    import graft.expressions.MinHashSignature.{minhashSignature, shingleHashes}
    import graft.functions.TextFunctions.tokens
    import graft.operators.Dedup
    require(numHashes % bands == 0, "numHashes must divide into equal bands")
    val r = numHashes / bands
    // the stream doc's shingle set rides along through the band explode —
    // re-deriving it later would need a stream-stream self-join, which is
    // exactly the state bomb this operator exists to avoid
    val sBands = stream.select(
        col(idCol).as("batch_id"),
        array_distinct(shingleHashes(
          transform(tokens(col(textCol)), t => xxhash64(t)), shingleWidth)).as("b_sh"),
        minhashSignature(
          transform(tokens(col(textCol)), t => xxhash64(t)), numHashes, shingleWidth).as("sig"))
      // the same Exchange barrier Dedup.bandKeys carries: without it
      // CollapseProject inlines the signature loop into every band lambda
      // and recomputes it `bands` times per row (repartition is legal on
      // streaming frames)
      .repartition(col("batch_id"))
      .select(col("batch_id"), col("b_sh"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          j => xxhash64(j, slice(col("sig"), j * lit(r) + lit(1), lit(r))))))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_hash")
    val cBands = Dedup.bandKeys(corpus, idCol, textCol, numHashes, bands, shingleWidth)
      .select(col(idCol).as("corpus_id"), col("band_id"), col("band_hash"))
    val cSets = Dedup.shingleSets(corpus, idCol, textCol, shingleWidth, "c_id")
    // both joins are stream-static; no distinct on candidates — that would
    // be a second streaming aggregate, and duplicate band collisions
    // confirm to identical (pair, jaccard) rows that collapse in the final
    // min/max aggregate anyway
    sBands.join(cBands, Seq("band_id", "band_hash"))
      .join(cSets, col("corpus_id") === col("c_id"))
      .withColumn("jaccard", Dedup.setJaccard(col("b_sh"), col("c_id_sh")))
      .filter(col("jaccard") >= minJaccard)
      .groupBy(col("batch_id").as("id"))
      .agg(min(col("corpus_id")).as("matched_id"),
        round(max(col("jaccard")), 6).as("best_jaccard"))
  }

  /** Streaming WINNOWING near-dedup: a STREAM of new documents matched
    * against a STATIC corpus via winnow fingerprints — the ingestion-time
    * twin of `Dedup.winnowIncremental`, and the deterministic-recall
    * counterpart of [[incrementalNearDupStream]]: where banding misses a
    * true pair with probability (1−J^r)^b, the winnowing guarantee makes
    * every ≥ w+k−1-token shared run a CANDIDATE by construction, so the
    * emitted matches are exactly the batch operator's (no probabilistic
    * recall caveat on the ingestion path).
    *
    * The stream side stays STATELESS through the row-local fingerprint
    * explode (the doc's own shingle set rides along — re-deriving it later
    * would need a stream-stream self-join); candidates are stream-fp ×
    * corpus-fp collisions only, the corpus never self-joins, and confirmed
    * matches aggregate per stream doc in UPDATE mode — state is O(matched
    * docs). Duplicate fp collisions for one pair confirm to identical
    * (pair, jaccard) rows that collapse in the final min/max aggregate, so
    * no candidate `distinct` (a second streaming aggregate) is needed.
    *
    * DIVERGENCE from the batch twin, stated: the boilerplate `maxFpDf` cut
    * here counts CORPUS-side document frequency only — the combined
    * batch+corpus count the batch operator uses would itself be a streaming
    * aggregate. A fingerprint boilerplate in the static corpus is dropped
    * identically; one only ever seen streaming cannot be (its join fan-out
    * is bounded by the corpus posting list it hits, which the cap bounds).
    * Emits only matched docs — the "genuinely new" NULL row of the batch
    * operator has no anchor in update mode. */
  def winnowIncrementalStream(
      stream: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      minJaccard: Double = 0.8,
      maxFpDf: Long = graft.operators.Dedup.DefaultMaxFpDf,
      shingleWidth: Int = 3): DataFrame = {
    import graft.expressions.MinHashSignature.shingleHashes
    import graft.functions.TextFunctions
    import graft.functions.TextFunctions.tokens
    import graft.operators.Dedup
    require(maxFpDf >= 1, "maxFpDf must be at least 1")
    val sFps = stream.select(
        col(idCol).as("batch_id"),
        array_distinct(shingleHashes(
          transform(tokens(col(textCol)), t => xxhash64(t)), shingleWidth)).as("b_sh"),
        explode(TextFunctions.winnowFingerprints(col(textCol), k, w)).as("fp"))
    val cFpsAll = corpus.select(
      col(idCol).as("corpus_id"),
      explode(TextFunctions.winnowFingerprints(col(textCol), k, w)).as("fp"))
    val cFps =
      if (maxFpDf == Long.MaxValue) cFpsAll
      else cFpsAll.join(
        cFpsAll.groupBy("fp").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxFpDf).select("fp"),
        Seq("fp"), "left_semi")
    val cSets = Dedup.shingleSets(corpus, idCol, textCol, shingleWidth, "c_id")
    sFps.join(cFps, Seq("fp"))
      .join(cSets, col("corpus_id") === col("c_id"))
      .withColumn("jaccard", Dedup.setJaccard(col("b_sh"), col("c_id_sh")))
      .filter(col("jaccard") >= minJaccard)
      .groupBy(col("batch_id").as("id"))
      .agg(min(col("corpus_id")).as("matched_id"),
        round(max(col("jaccard")), 6).as("best_jaccard"))
  }

  /** Streaming benchmark decontamination: a STREAM of new documents flagged
    * against a STATIC eval suite — the ingestion-time twin of
    * `Corpus.decontaminate`. Completely STATELESS (append mode, no
    * watermark, zero streaming state): the benchmark's distinct shingle
    * hashes collapse to ONE static row (eval suites are tiny by
    * construction), the stream crossJoins that single broadcast row, and
    * the overlap count is a row-local `array_intersect`. The batch variant's
    * broadcast-join-then-regroup shape would need an UPDATE-mode aggregate
    * with O(stream ids) state here — this layout trades it for a per-row
    * set intersection against the in-memory benchmark array. */
  def decontaminateStream(
      stream: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3,
      minShared: Long = 1L): DataFrame = {
    import graft.expressions.MinHashSignature.shingleHashes
    import graft.functions.TextFunctions.tokens
    require(minShared >= 1, "minShared must be at least 1")
    def shingleSet(c: Column): Column =
      array_distinct(shingleHashes(transform(tokens(c), t => xxhash64(t)), shingleWidth))
    // 1-row static side: the union of the benchmark's distinct shingles
    val benchRow = benchmark.select(explode(shingleSet(col(textCol))).as("s"))
      .distinct()
      .agg(collect_set(col("s")).as("bench_sh"))
    // crossJoin is a 1-row static broadcast against the stream. NULL text
    // null-propagates through the shingle expressions; coalesce restores
    // the batch twin's (0, false) for such rows — the two paths are pinned
    // equal in StreamingSpec.
    val nShared =
      coalesce(size(array_intersect(col("sh"), col("bench_sh"))).cast("long"), lit(0L))
    stream.select(col(idCol).as("id"), shingleSet(col(textCol)).as("sh"))
      .crossJoin(benchRow)
      .select(
        col("id"),
        nShared.as("n_shared_shingles"),
        (nShared >= minShared).as("contaminated"))
  }

  /** Ingestion-time LM quality scoring: the streaming twin of
    * [[graft.operators.Corpus.lmScoreAgainst]], completely STATELESS (append
    * mode) — the trained count table collapses to ONE static row (term→count
    * map + totals; a frozen quality LM's vocabulary is model METADATA,
    * bounded like the benchmark in [[decontaminateStream]], not corpus
    * data), and each stream row scores itself with a row-local fold over
    * its own tokens. The batch shape's join-then-regroup would need an
    * update-mode aggregate with O(stream ids) state here.
    *
    * Arithmetic is the batch twin's, token for token: micro-nat-quantized
    * add-k log-probs summed as exact integers — the two paths are pinned
    * bit-equal (including OOV tokens and NULL/empty text) in StreamingSpec.
    * One shape divergence: the batch scorer groups duplicate ids into one
    * pseudo-doc (a groupBy key, like every id-keyed operator here); this
    * row-local scorer emits one row per stream ROW — identical exactly when
    * ids are unique, which a keyed ingestion stream guarantees.
    */
  def lmScoreStream(
      stream: DataFrame,
      counts: DataFrame,
      idCol: String,
      textCol: String,
      addK: Double = 1.0): DataFrame = {
    require(addK > 0, "addK must be positive (unsmoothed counts divide by zero on OOV)")
    import graft.functions.TextFunctions.tokens
    val lmRow = counts.agg(
      map_from_entries(collect_list(struct(col("term"), col("c")))).as("lm"),
      sum(col("c")).as("t"), count(lit(1)).as("v"))
    val toks = filter(tokens(col(textCol)), t => t =!= "")
    stream.select(col(idCol).as("id"), toks.as("__toks"))
      .crossJoin(lmRow)
      .select(col("id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        aggregate(
          transform(col("__toks"), tk =>
            round(log((coalesce(element_at(col("lm"), tk), lit(0L)) + lit(addK)) /
              (col("t") + lit(addK) * col("v"))) * lit(1e6)).cast("long")),
          lit(0L), (acc, x) => acc + x).as("__sum"))
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        when(coalesce(col("n_tokens"), lit(0L)) > 0,
          -col("__sum") / (lit(1e6) * col("n_tokens"))).as("avg_nll"))
      .withColumn("ppl", exp(col("avg_nll")))
  }

  /** Runs a batch operator on every micro-batch: `score` gets each
    * micro-batch of `stream` through `foreachBatch`, its result is tagged
    * with the micro-batch id as `batch_id` and handed to `sink`, and the
    * query is started. This is the streaming form of any operator that
    * aggregates, which one streaming DAG cannot run in append mode: a
    * constraint suite (`Checks.check`), a drift scorer against a frozen
    * baseline (`Checks.scorePsiAgainst`, `Checks.scoreChi2Against`,
    * `Similarity.scoreCentroidDriftAgainst`,
    * `Events.scoreAgainstBaseline`), `Checks.fdCheck`, BM25 serving
    * (`Retrieval.bm25TopKIndexed`) or `Graph.coOccurrenceStore`.
    *
    * Verdicts are batch-scoped with zero cross-batch streaming state:
    * each result describes its micro-batch alone, and cumulative
    * monitoring is the consumer's fold over `batch_id`. A frozen baseline
    * or index is a broadcast table rebuilt on its own cadence, never
    * mutated here. Because `score` is the batch operator itself, a batch
    * backfill over the same rows is bit-identical (pinned in
    * StreamingSpec). An operator keyed on groups sees only the part of a
    * group inside one micro-batch: `Graph.coOccurrenceStore` needs
    * complete baskets per micro-batch (a session-window or basket-keyed
    * upstream guarantees it), and its per-batch stores re-merge through
    * `Graph.coOccurrenceFromStore` to exactly the one-shot operator, with
    * the `minPairCount` floor applied at serve time. Independent rows
    * (BM25 queries) lose nothing to batch scope.
    *
    * Row-local operators need no wrapper: the batch call runs unchanged
    * on a streaming frame, in append mode with zero state (`Corpus`'s
    * scorers against a frozen model, `bpeSegment`, `unigramSegment`,
    * `c4LineFilter`, `gopherRules`, `charStats`, `redactPiiAudited`,
    * `lineVerdicts`, `Dedup.spanVerdicts`, `canaryScan`, …). */
  def eachBatch(stream: DataFrame)(score: DataFrame => DataFrame)(
      sink: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(score(batch).withColumn("batch_id", lit(batchId)))
      }
      .start()

  /** Version ids of all `v<id>` children of a foreachBatch-versioned
    * store, via the Hadoop FileSystem of the path itself — so the store
    * works on HDFS/S3/local alike (the Ingest.compactStore pattern), not
    * just driver-listable disk. */
  private[graft] def storeVersionIds(
      spark: SparkSession, storeDir: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val p = new org.apache.hadoop.fs.Path(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
      .map(s => (s.getPath.getName.drop(1).toLong, s.getPath))
      .sortBy(_._1)
  }

  /** Latest COMMITTED version dir strictly BELOW `beforeBatchId` under a
    * foreachBatch-versioned store (`v<id>` children, id = batch id).
    * Replay-safe on BOTH failure modes of a batch N: the strict
    * `id < beforeBatchId` bound means a retried batch never merges
    * against its own possibly partially-written v<N> (it would otherwise
    * be the highest version and the partial merge would silently drop
    * rows lost in the partial write), and the `_SUCCESS` gate skips
    * versions whose parquet commit never finished (the committer writes
    * `_SUCCESS` last) — so a retry always merges against the last FULLY
    * committed predecessor, making overwrite-by-batch genuinely
    * exactly-once. Requires durable batch ids: the monitors take a
    * `checkpointDir`, so ids keep rising across restarts instead of
    * resetting to 0 below the stored versions. */
  private[graft] def latestStoreVersion(
      spark: SparkSession, storeDir: String, beforeBatchId: Long): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    storeVersionIds(spark, storeDir)
      .filter { case (v, path) =>
        v < beforeBatchId && fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS")) }
      .lastOption.map(_._2.toString)
  }

  /** Prune superseded store versions, keeping the `keep` highest
    * COMMITTED versions (and any dirs above the lowest kept id). Called
    * AFTER the current batch's version commits, so the crash-state
    * argument is: any future batch M > N resolves its predecessor to the
    * highest committed version ≤ the just-written v<N>; a retry of N
    * itself (sink failure after the write) resolves to the highest
    * committed version < N — both survive because the top `keep ≥ 2`
    * committed versions are kept by id, never by wall-clock. Partial
    * (uncommitted) dirs below the lowest kept committed id are dead —
    * no lookup can ever select them — and are deleted too, so a
    * long-running monitor holds ≤ `keep` full store copies instead of
    * one per micro-batch forever. */
  private[graft] def pruneStoreVersions(
      spark: SparkSession, storeDir: String, keep: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = storeVersionIds(spark, storeDir)
    val committed = all.filter { case (_, path) =>
      fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS")) }
    if (committed.size > keep) {
      val minKept = committed.takeRight(keep).head._1
      all.filter(_._1 < minKept).foreach { case (_, path) =>
        fs.delete(path, true) }
    }
  }

  /** Streaming funnel-latency monitor — the stream twin of
    * [[graft.operators.Events.funnelLatency]], completing the funnel
    * family's batch/stream symmetry: [[funnelStream]]'s per-user
    * snapshots (O(steps) state per user) upsert into a VERSIONED parquet
    * snapshot store each micro-batch (anti-join out the updated users,
    * union the new snapshots, write `v<batchId>` — replay overwrites its
    * own version, the ingestion layer's exactly-once contract), and the
    * latency rollup runs over the whole store through the LITERALLY
    * SHARED [[graft.operators.Events.funnelLatency]], tagged batch_id.
    *
    * EQUIVALENCE (pinned in StreamingSpec): under [[funnelStream]]'s
    * append-only arrival contract the store after batch N holds exactly
    * the batch [[graft.operators.Events.funnel]] snapshot of all events
    * so far, so the monitor's verdict equals batch
    * `funnelLatency(funnel(all events))` — not an approximation.
    *
    * Scale shape: the store is O(users) rows of 4 scalars; each batch
    * touches it once (one anti join keyed on user_id + one union), the
    * rollup is one O(steps)-row reduce. */
  def funnelLatencyMonitorStream(
      events: Dataset[Event],
      steps: Seq[String],
      storeDir: String,
      checkpointDir: Option[String] = None,
      keepVersions: Int = 2)(
      sink: DataFrame => Unit): StreamingQuery = {
    require(keepVersions >= 2,
      "keepVersions must be >= 2: a retried batch merges against its committed predecessor")
    val w = funnelStream(events, steps).toDF().writeStream
      .outputMode(OutputMode.Update())
    checkpointDir.foreach(w.option("checkpointLocation", _))
    w.foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val upserted = latestStoreVersion(spark, storeDir, batchId) match {
          case Some(prev) =>
            spark.read.parquet(prev)
              .join(batch.select("user_id"), Seq("user_id"), "left_anti")
              .unionByName(batch)
          case None => batch
        }
        val vdir = s"$storeDir/v$batchId"
        upserted.write.mode("overwrite").parquet(vdir)
        pruneStoreVersions(spark, storeDir, keepVersions)
        sink(graft.operators.Events.funnelLatency(spark.read.parquet(vdir))
          .withColumn("batch_id", lit(batchId)))
      }
      .start()
  }

  /** Streaming retention monitor — the stream twin of
    * [[graft.operators.Events.retentionCohorts]]: each micro-batch's
    * distinct (user, week) activity pairs merge into a versioned
    * activity store (distinct union — pairs are idempotent, so replay
    * and duplicate arrivals are harmless), and the cohort grid rebuilds
    * from the store through the LITERALLY SHARED
    * [[graft.operators.Events.retentionFromActivity]], tagged batch_id.
    * The store is the O(users·weeks) reduction of the event log — the
    * monitor never rescans events, and its verdict after batch N equals
    * the batch operator over all events so far (pinned in
    * StreamingSpec), regardless of arrival order: distinct union is
    * commutative, unlike the funnel's order-dependent fold. */
  def retentionMonitorStream(
      stream: DataFrame,
      userCol: String,
      tsCol: String,
      storeDir: String,
      checkpointDir: Option[String] = None,
      keepVersions: Int = 2)(
      sink: DataFrame => Unit): StreamingQuery = {
    require(keepVersions >= 2,
      "keepVersions must be >= 2: a retried batch merges against its committed predecessor")
    val w = stream.writeStream
    checkpointDir.foreach(w.option("checkpointLocation", _))
    w.foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val act = graft.operators.Events.retentionActivity(batch, userCol, tsCol)
        val merged = latestStoreVersion(spark, storeDir, batchId) match {
          case Some(prev) => spark.read.parquet(prev).unionByName(act).distinct()
          case None => act
        }
        val vdir = s"$storeDir/v$batchId"
        merged.write.mode("overwrite").parquet(vdir)
        pruneStoreVersions(spark, storeDir, keepVersions)
        sink(graft.operators.Events.retentionFromActivity(spark.read.parquet(vdir))
          .withColumn("batch_id", lit(batchId)))
      }
      .start()
  }

  /** Streaming CDC apply — the foreachBatch twin of
    * [[graft.operators.Corpus.applyChanges]]: each micro-batch of change
    * rows compacts into the snapshot the caller's `readBase`/`write`
    * provide (a versioned parquet dir, a Delta-style table, an in-memory
    * frame in tests). CONTRACT: the feed must deliver each id's changes
    * in non-decreasing `tsCol` order across batches (the standard CDC
    * per-key ordering guarantee — Debezium/Kafka keyed topics give it);
    * under it, sequential per-batch application is EXACTLY the one-shot
    * latest-wins merge over the whole feed (pinned in StreamingSpec).
    * An out-of-order straggler in a later batch would win over a newer
    * row already applied — the snapshot keeps no per-id version to
    * arbitrate — so feeds without the ordering guarantee belong in the
    * batch operator over the accumulated feed instead. */
  def applyChangesStream(
      stream: DataFrame,
      idCol: String,
      opCol: String,
      tsCol: String)(
      readBase: () => DataFrame)(
      write: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        write(graft.operators.Corpus.applyChanges(
          readBase(), batch, idCol, opCol, tsCol), batchId)
      }
      .start()

  /** Convenience: run any streaming frame into an in-memory table and block
    * until every available input is processed (local smoke pattern). */
  def runToMemory(df: DataFrame, queryName: String, mode: OutputMode): StreamingQuery = {
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(mode)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    q.processAllAvailable()
    q
  }
}

/** Metadata-carrying `writeStream` facade (divergence per SURVEY.md §7.3:
  * the reference's metadata layer always dies at the streaming sink). */
final class MetaStreamWriter(val w: DataStreamWriter[Row], val metadata: Map[String, Any]) {
  @inline private def wrap(nw: DataStreamWriter[Row]): MetaStreamWriter =
    new MetaStreamWriter(nw, metadata)
  def format(source: String): MetaStreamWriter = wrap(w.format(source))
  def outputMode(mode: String): MetaStreamWriter = wrap(w.outputMode(mode))
  def outputMode(mode: OutputMode): MetaStreamWriter = wrap(w.outputMode(mode))
  def option(key: String, value: String): MetaStreamWriter = wrap(w.option(key, value))
  def options(opts: Map[String, String]): MetaStreamWriter = wrap(w.options(opts))
  def queryName(name: String): MetaStreamWriter = wrap(w.queryName(name))
  def trigger(t: Trigger): MetaStreamWriter = wrap(w.trigger(t))
  def partitionBy(colNames: String*): MetaStreamWriter = wrap(w.partitionBy(colNames: _*))
  def start(): StreamingQuery = w.start()
  def start(path: String): StreamingQuery = w.start(path)

  /** Micro-batch escape hatch (the standard custom-sink path): each batch
    * arrives re-wrapped as a MetaFrame carrying the stream's metadata — the
    * raw writer's `foreachBatch` hands over a bare DataFrame and the
    * provenance dies at the sink. */
  def foreachBatch(f: (MetaFrame, Long) => Unit): MetaStreamWriter =
    wrap(w.foreachBatch((batch: Dataset[Row], id: Long) => f(MetaFrame(batch, metadata), id)))

  /** File-sink start that also persists the metadata sidecar next to the
    * output (the streaming analogue of `MetaPersist.writeParquet`): the
    * stream's provenance survives the job even though the reference's
    * metadata layer always dies at `writeStream`. */
  def startParquetWithSidecar(path: String): StreamingQuery = {
    val q = w.format("parquet").start(path)
    graft.sources.MetaPersist.writeSidecar(path, metadata)
    q
  }
}

object MetaStreamWriter {
  /** Lift a MetaFrame into a metadata-carrying streaming writer. */
  def apply(mf: MetaFrame): MetaStreamWriter =
    new MetaStreamWriter(mf.df.writeStream, mf.metadata)
}
