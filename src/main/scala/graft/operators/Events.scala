package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Event-log analytics over an append-only event table (SURVEY.md §2.3
  * extensions): gap-based sessionization, per-session rollups, and ordered
  * funnel matching. The batch twins of [[graft.streaming.Streams.sessionize]]
  * (the `flatMapGroupsWithState` stateful form) — same session semantics,
  * expressed as per-user windows so a backfill over years of history runs
  * as one shuffle instead of a stateful stream replay.
  *
  * Scale shape: every operator here shuffles ONCE on the user key and then
  * stays user-local (windows partitioned by user, session rollups grouped by
  * (user, session) — a subset-satisfied clustering, so Catalyst plans no
  * second exchange). Nothing orders globally; nothing collects to the
  * driver. Timestamps compare as exact integer microseconds
  * (`unix_micros`), so session boundaries are reproducible bit-for-bit at
  * any partitioning and re-derivable in ANSI SQL (`epoch_us`).
  */
object Events {

  /** Exact integer microseconds for a timestamp column of either flavor.
    * Parquet TIMESTAMP(isAdjustedToUTC=false) loads as TIMESTAMP_NTZ in
    * Spark 4; `unix_micros` only accepts TIMESTAMP, so NTZ casts through
    * it first — an identity on the stored micros under the session-UTC
    * convention every main in this repo sets (and the value DuckDB's
    * `epoch_us` reads from the same parquet). */
  private def micros(df: DataFrame, tsCol: String): Column =
    df.schema(tsCol).dataType match {
      case TimestampNTZType => unix_micros(col(tsCol).cast(TimestampType))
      case _ => unix_micros(col(tsCol))
    }

  /** Gap-based sessionization: within each `userCol`, events ordered by
    * (`tsCol`, `idCol`) start a NEW session whenever the gap from the
    * previous event exceeds `gapSeconds` (strictly greater — an event
    * landing exactly at the gap bound continues the session, the common
    * web-analytics convention). The first event of a user always opens
    * session 1. `idCol` breaks timestamp ties so the running session
    * counter is deterministic under any physical row order.
    *
    * Returns one row per input event:
    * (event_id, user_id, ts_us, gap_us, session_idx) — `gap_us` NULL on
    * each user's first event, `session_idx` 1-based per user. */
  def sessionize(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      gapSeconds: Long): DataFrame =
    sessionized(events, userCol, tsCol, idCol, gapSeconds)
      .select(col(idCol).as("event_id"), col(userCol).as("user_id"),
        micros(events, tsCol).as("ts_us"), col("gap_us"), col("session_idx"))

  /** [[sessionize]] keeping every input column (plus gap_us/session_idx) —
    * the shared core, so [[sessionStats]] reaches the event-type column
    * without a second shuffle back onto the event id. */
  private def sessionized(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      gapSeconds: Long): DataFrame = {
    require(gapSeconds >= 0, "gapSeconds must be non-negative")
    val order = Window.partitionBy(col(userCol)).orderBy(col(tsCol).asc, col(idCol).asc)
    val running = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val us = micros(events, tsCol)
    val gapUs = us - lag(us, 1).over(order)
    val isNew = when(gapUs.isNull || gapUs > lit(gapSeconds * 1000000L), 1L).otherwise(0L)
    events
      .withColumn("gap_us", gapUs)
      .withColumn("session_idx", sum(isNew).over(running))
  }

  /** Per-session rollup over [[sessionize]]'s assignment: one row per
    * (user, session) with exact integer bounds and counts. `duration_us`
    * is last-event minus first-event time (0 for single-event sessions).
    *
    * Returns (user_id, session_idx, n_events, start_us, end_us,
    * duration_us, n_event_types). */
  def sessionStats(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String,
      gapSeconds: Long): DataFrame =
    sessionized(events, userCol, tsCol, idCol, gapSeconds)
      .groupBy(col(userCol).as("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(micros(events, tsCol)).as("start_us"),
        max(micros(events, tsCol)).as("end_us"),
        (max(micros(events, tsCol)) - min(micros(events, tsCol))).as("duration_us"),
        countDistinct(col(typeCol)).as("n_event_types"))

  /** Ordered funnel matching: for each user, how far through the ordered
    * `steps` sequence did they progress — where step i+1 counts only if it
    * happens STRICTLY AFTER the first completion of step i (the classic
    * product-analytics funnel, not mere set membership). Duplicate step
    * events are fine; only each step's earliest qualifying occurrence
    * matters. Events with types outside `steps` are ignored.
    *
    * Implementation: ONE aggregate pass collects, per user and per step,
    * the sorted array of that step's EARLIEST `maxStepEventsPerUser`
    * event times through the bounded [[graft.expressions.TopKAgg]]
    * (score = −t ranks earliest-first; micros fit a double exactly below
    * 2⁵³, ~year 2255) — so the skew guard for a bot user emitting
    * millions of identical events bounds the AGGREGATION BUFFER itself
    * (O(steps · cap) state per user, map-side partials forward at most
    * ~2·cap entries per step), not just the output array; one-sided:
    * capping can only under-report progression for users beyond the cap,
    * never invent it. The strict-increase fold then runs as a row-local
    * expression chain over those arrays — t₁ = first time of step 1,
    * tᵢ = first step-i time strictly after tᵢ₋₁ — the greedy
    * earliest-completion semantics (ClickHouse `windowFunnel` with
    * `strict_increase`, no window bound). One shuffle on the user key;
    * integer microsecond arithmetic end-to-end.
    *
    * Returns (user_id, steps_completed, t_first_us, t_last_us) with
    * steps_completed 0..steps.length (always a prefix: tᵢ is NULL whenever
    * tᵢ₋₁ is), times NULL when no step matched. */
  def funnel(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String],
      maxStepEventsPerUser: Int = 1000): DataFrame = {
    require(steps.nonEmpty, "steps must be non-empty")
    require(steps.distinct.length == steps.length, "steps must be distinct")
    require(maxStepEventsPerUser >= 1, "maxStepEventsPerUser must be at least 1")
    val us = micros(events, tsCol)
    // bounded per-(user, step) earliest-times collect: TopKAgg over
    // (score = −t, id = t) orders (−t desc, t asc) = t ascending, keeps at
    // most `cap` entries in the buffer — a collect_list would materialize
    // every matching event BEFORE any cap could apply. `.id` strips the
    // ranking struct back to the sorted long array the fold reads.
    val lists = steps.zipWithIndex.map { case (step, i) =>
      transform(
        graft.expressions.TopKAgg.topKByScore(
          when(col(typeCol) === lit(step),
            struct((-us).cast("double").as("score"), us.as("id"))),
          maxStepEventsPerUser),
        x => x.getField("id")).as(s"__ts$i")
    }
    val agged = events.groupBy(col(userCol).as("user_id")).agg(lists.head, lists.tail: _*)
    // fold: t0 = first element of __ts0; tᵢ = first element of __tsᵢ > tᵢ₋₁
    // (get() is 0-based and NULL-safe out of range, unlike ANSI element_at)
    val folded = steps.indices.foldLeft(agged) { case (df, i) =>
      val tPrev = if (i == 0) lit(Long.MinValue) else col(s"__t${i - 1}")
      df.withColumn(s"__t$i",
        when(tPrev.isNotNull, get(filter(col(s"__ts$i"), t => t > tPrev), lit(0)))
          .otherwise(lit(null).cast("long")))
    }
    val ts = steps.indices.map(i => col(s"__t$i"))
    val completed = ts.foldLeft(lit(0L)) { (acc, t) => acc + when(t.isNotNull, 1L).otherwise(0L) }
    folded.select(col("user_id"),
      completed.as("steps_completed"),
      ts.head.as("t_first_us"),
      coalesce(ts.reverse: _*).as("t_last_us"))
  }

  /** Conversion-latency rollup over [[funnel]] output: per funnel depth
    * ≥ 1, the user count and exact interpolated p50/p90 of
    * (t_last − t_first) — "how long does a view→click→purchase journey
    * take", the funnel's companion report. Percentiles round to 4dp (the
    * cross-engine parity convention); depth-1 users have latency 0 by
    * definition (one event is its own first and last). One reduce over
    * the already-one-row-per-user funnel table; O(steps) output. */
  def funnelLatency(funnelOut: DataFrame): DataFrame =
    funnelOut.filter(col("steps_completed") >= 1)
      .withColumn("__lat", col("t_last_us") - col("t_first_us"))
      .groupBy("steps_completed")
      .agg(count(lit(1)).as("n_users"),
        round(expr("percentile(__lat, 0.5)"), 4).as("p50_us"),
        round(expr("percentile(__lat, 0.9)"), 4).as("p90_us"))

  /** Per-user session state after a [[sessionize]] run — the O(users)
    * store the incremental twin resumes from: (user_id, last_ts_us,
    * last_session_idx). `last_session_idx` is the OPEN session (session
    * counters are monotone in time per user, so max is current). */
  def sessionStore(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      gapSeconds: Long): DataFrame =
    sessionize(events, userCol, tsCol, idCol, gapSeconds)
      .groupBy("user_id")
      .agg(max(col("ts_us")).as("last_ts_us"),
        max(col("session_idx")).as("last_session_idx"))

  /** Incremental [[sessionize]]: assign sessions to a NEW batch against a
    * [[sessionStore]] without reprocessing history (the daily-ingestion
    * shape of the incremental family — banding / winnowing / semantic /
    * line / span / sessions). Each user's first batch event measures its
    * gap against the store's last event time and continues or advances
    * that user's stored session counter; users absent from the store
    * start at session 1. EQUIVALENCE CONTRACT (pinned in OpsSpec, and
    * what makes the declared oracle the plain full-history window): as
    * long as every batch event is later than that user's stored
    * last_ts_us — the append-only ingestion assumption; late events would
    * need a history rewrite in ANY sessionizer — the output is
    * bit-identical to running [[sessionize]] over history ∪ batch and
    * keeping the batch rows.
    *
    * Scale shape: one co-partitioned left join on the user key (store is
    * O(users), typically broadcastable) feeding the same single user-key
    * window — history is never read. */
  def sessionizeIncremental(
      batch: DataFrame,
      store: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      gapSeconds: Long): DataFrame = {
    require(gapSeconds >= 0, "gapSeconds must be non-negative")
    val order = Window.partitionBy(col(userCol)).orderBy(col(tsCol).asc, col(idCol).asc)
    val running = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val us = micros(batch, tsCol)
    val joined = batch.join(store.select(col("user_id").as(s"__su"),
        col("last_ts_us"), col("last_session_idx")),
      col(userCol) === col("__su"), "left")
    val gapUs = when(row_number().over(order) === 1, us - col("last_ts_us"))
      .otherwise(us - lag(us, 1).over(order))
    val isNew = when(gapUs.isNull || gapUs > lit(gapSeconds * 1000000L), 1L).otherwise(0L)
    joined
      .withColumn("gap_us", gapUs)
      .withColumn("session_idx",
        coalesce(col("last_session_idx"), lit(0L)) + sum(isNew).over(running))
      .select(col(idCol).as("event_id"), col(userCol).as("user_id"),
        us.as("ts_us"), col("gap_us"), col("session_idx"))
  }

  /** Top-k user-journey paths: each user's first `depth` events (ordered
    * by `tsCol`, `idCol` — the id breaks timestamp ties so the path is
    * deterministic under any physical row order) join into a
    * `>`-separated event-type path; paths rank by user count, ties by
    * path ascending. The "where do users go first" report of product
    * analytics (the path-analysis complement of [[funnel]], which needs a
    * hypothesis — this discovers one).
    *
    * Scale shape: ONE user-key exchange — the row_number window bounds
    * per-user state to `depth` rows BEFORE any collect (a bot user with
    * millions of events contributes exactly `depth`), the per-user path
    * build groups on the same user clustering (subset-satisfied, no
    * second exchange), and the path count reduces on ≤ |types|^depth
    * keys with map-side partials. The global top-k is orderBy+limit —
    * Catalyst plans TakeOrderedAndProject (per-partition heaps, no
    * single-partition sort exchange) — and only the k survivors meet the
    * rank window.
    *
    * Returns (rank, path, n_users), rank 1..k by (n_users desc, path
    * asc). */
  def topPaths(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String,
      depth: Int = 4,
      k: Int = 20): DataFrame = {
    require(depth >= 1, "depth must be at least 1")
    require(k >= 1, "k must be at least 1")
    val order = Window.partitionBy(col(userCol)).orderBy(col(tsCol).asc, col(idCol).asc)
    val counts = events
      .withColumn("__rn", row_number().over(order))
      .filter(col("__rn") <= depth)
      .groupBy(col(userCol).as("user_id"))
      .agg(concat_ws(">",
        transform(
          array_sort(collect_list(struct(col("__rn").as("rn"), col(typeCol).as("t")))),
          x => x("t"))).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_users"))
    val top = counts.orderBy(col("n_users").desc, col("path").asc).limit(k)
    top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n_users").desc, col("path").asc)).cast("long"))
      .select(col("rank"), col("path"), col("n_users"))
  }

  /** Session-scoped [[topPaths]]: paths restart at every strict-gap
    * session boundary ([[sessionize]] semantics), so the report reads
    * "how do VISITS start", not "how did a user's lifetime start" — the
    * per-visit complement over the same machinery. The sessionizing
    * window and the per-(user, session) depth window share ONE user-key
    * exchange (the (user, session) partition is subset-satisfied by the
    * user clustering); everything else is [[topPaths]]'s bounded shape.
    *
    * Returns (rank, path, n_sessions), rank 1..k by (n_sessions desc,
    * path asc). */
  def topPathsBySession(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String,
      gapSeconds: Long,
      depth: Int = 3,
      k: Int = 20): DataFrame = {
    require(depth >= 1, "depth must be at least 1")
    require(k >= 1, "k must be at least 1")
    val sess = sessionized(events, userCol, tsCol, idCol, gapSeconds)
    val order = Window.partitionBy(col(userCol), col("session_idx"))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    val counts = sess
      .withColumn("__rn", row_number().over(order))
      .filter(col("__rn") <= depth)
      .groupBy(col(userCol), col("session_idx"))
      .agg(concat_ws(">",
        transform(
          array_sort(collect_list(struct(col("__rn").as("rn"), col(typeCol).as("t")))),
          x => x("t"))).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
    val top = counts.orderBy(col("n_sessions").desc, col("path").asc).limit(k)
    top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n_sessions").desc, col("path").asc))
          .cast("long"))
      .select(col("rank"), col("path"), col("n_sessions"))
  }

  /** Markov next-event transition matrix: per user (ordered by `tsCol`,
    * `idCol`), count each adjacent (event_type → next event_type) pair,
    * with the per-source transition probability in exact micro units
    * (`round((n · 1e6) / out_degree)` — one IEEE multiply and divide over
    * integers, engine-stable). The one-step behavioral model behind
    * next-action prediction and anomalous-sequence flagging.
    *
    * Scale shape: one user-key exchange for the lead window, then a
    * key-bounded reduce on ≤ |types|² pair keys with map-side partials;
    * the out-degree denominator windows over the ALREADY-AGGREGATED pair
    * table (|types|² rows, not events).
    *
    * Returns (src_type, dst_type, n, p_micro), Σ n over dst per src =
    * that src's out-degree. */
  def transitions(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String): DataFrame = {
    val order = Window.partitionBy(col(userCol)).orderBy(col(tsCol).asc, col(idCol).asc)
    val pairs = events
      .withColumn("__next", lead(col(typeCol), 1).over(order))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("src_type"), col("__next").as("dst_type"))
      .agg(count(lit(1)).as("n"))
    val wSrc = Window.partitionBy(col("src_type"))
    pairs.withColumn("p_micro",
      round((col("n") * lit(1e6)) / sum(col("n")).over(wSrc)).cast("long"))
  }

  /** First/last-touch conversion attribution over JOURNEYS: a user's
    * events split into journeys at each conversion (journey k = events
    * after the (k−1)-th conversion up to and including the k-th — the
    * standard positional-attribution reset), and each conversion credits
    * the first and last touch of its own journey. Conversions with no
    * preceding touch in their journey are "direct" (NULL attributions) —
    * they still appear, because dropping them silently overstates channel
    * credit.
    *
    * Scale shape: ONE user-key exchange — the journey counter is a
    * running window over (ts, id) (id breaks timestamp ties), and the
    * per-(user, journey) rollup rides the same clustering
    * (subset-satisfied, no second exchange — the [[sessionStats]] shape).
    * First/last touches are min/max over (ts, id, type) STRUCTS (ordered
    * lexicographically; unique because ids are), so the rollup state is
    * O(1) per journey — no touch lists, no conversion×touch join fanout.
    *
    * Returns one row per conversion: (user_id, conversion_id, conv_ts_us,
    * first_touch_id, first_touch_type, last_touch_id, last_touch_type,
    * n_touches). */
  def attribution(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String,
      conversionType: String,
      touchTypes: Seq[String]): DataFrame = {
    val journeyed = journeyedEvents(events, userCol, tsCol, idCol, typeCol,
      conversionType, touchTypes)
    journeyed
      .groupBy("user_id", "journey")
      .agg(
        max(when(col("is_conv"), col("event_id"))).as("conversion_id"),
        max(when(col("is_conv"), col("us"))).as("conv_ts_us"),
        min(when(!col("is_conv"), touch)).as("__ft"),
        max(when(!col("is_conv"), touch)).as("__lt"),
        sum(when(!col("is_conv"), 1L).otherwise(0L)).as("n_touches"))
      .filter(col("conversion_id").isNotNull)
      .select(col("user_id"), col("conversion_id"), col("conv_ts_us"),
        col("__ft.id").as("first_touch_id"), col("__ft.t").as("first_touch_type"),
        col("__lt.id").as("last_touch_id"), col("__lt.t").as("last_touch_type"),
        col("n_touches"))
  }

  /** The (ts, id, type) struct whose lexicographic min/max IS
    * first/last-touch selection (unique because ids are). */
  private def touch: Column =
    struct(col("us"), col("event_id").as("id"), col("event_type").as("t"))

  /** Shared front of the attribution family: tracked events tagged
    * `is_conv`, with the running journey counter (= conversions strictly
    * before the row in (ts, id) order). */
  private def journeyedEvents(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String,
      conversionType: String,
      touchTypes: Seq[String]): DataFrame = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    require(!touchTypes.contains(conversionType),
      "the conversion type cannot also be a touch type")
    val us = micros(events, tsCol)
    val typed = events
      .filter(col(typeCol) === conversionType || col(typeCol).isInCollection(touchTypes))
      .select(col(idCol).as("event_id"), col(userCol).as("user_id"),
        us.as("us"), col(typeCol).as("event_type"),
        (col(typeCol) === conversionType).as("is_conv"))
    val run = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    typed.withColumn("journey",
      coalesce(sum(when(col("is_conv"), 1L).otherwise(0L)).over(run), lit(0L)))
  }

  /** Per-user attribution state after an [[attribution]] run — the
    * O(users) store the incremental twin resumes from: total conversions
    * so far (= the next event's journey index) plus the OPEN journey's
    * first/last touch and touch count (the only journey a future
    * conversion can still credit; closed journeys are immutable history).
    * `last_us` records the newest tracked event for the append-only
    * contract. */
  def attributionStore(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String,
      conversionType: String,
      touchTypes: Seq[String]): DataFrame = {
    val journeyed = journeyedEvents(events, userCol, tsCol, idCol, typeCol,
      conversionType, touchTypes)
    val openTouch = !col("is_conv") && col("journey") === col("__nc")
    journeyed
      .withColumn("__nc",
        sum(when(col("is_conv"), 1L).otherwise(0L))
          .over(Window.partitionBy(col("user_id"))))
      .groupBy("user_id")
      .agg(
        max(col("__nc")).as("n_conv"),
        min(when(openTouch, touch)).as("open_ft"),
        max(when(openTouch, touch)).as("open_lt"),
        sum(when(openTouch, 1L).otherwise(0L)).as("open_n_touches"),
        max(col("us")).as("last_us"))
  }

  /** Incremental [[attribution]]: credit a NEW batch's conversions against
    * an [[attributionStore]] without reprocessing history (the
    * daily-ingestion shape of the incremental family). The batch's journey
    * counters continue from the store's `n_conv`; a batch conversion whose
    * journey is the user's OPEN one merges the store's first/last-touch
    * state with the batch's (struct least/greatest — NULL-skipping), later
    * journeys are batch-only by construction. EQUIVALENCE CONTRACT (pinned
    * in OpsSpec, and what makes the declared oracle the plain full-history
    * attribution): as long as every batch event is later than that user's
    * stored `last_us` — the append-only assumption of the whole
    * incremental family — the output is bit-identical to
    * [[attribution]](history ∪ batch) restricted to batch conversions.
    *
    * Scale shape: one co-partitioned left join on the user key (store is
    * O(users), typically broadcastable) feeding the same single user-key
    * window + rollup — history is never read. */
  def attributionIncremental(
      batch: DataFrame,
      store: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String,
      conversionType: String,
      touchTypes: Seq[String]): DataFrame = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    require(!touchTypes.contains(conversionType),
      "the conversion type cannot also be a touch type")
    val us = micros(batch, tsCol)
    val typed = batch
      .filter(col(typeCol) === conversionType || col(typeCol).isInCollection(touchTypes))
      .select(col(idCol).as("event_id"), col(userCol).as("user_id"),
        us.as("us"), col(typeCol).as("event_type"),
        (col(typeCol) === conversionType).as("is_conv"))
    val joined = typed.join(
      store.select(col("user_id").as("__su"), col("n_conv").as("__snc"),
        col("open_ft").as("__sft"), col("open_lt").as("__slt"),
        col("open_n_touches").as("__snt")),
      col("user_id") === col("__su"), "left")
    val run = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val journeyed = joined.withColumn("journey",
      coalesce(col("__snc"), lit(0L)) +
        coalesce(sum(when(col("is_conv"), 1L).otherwise(0L)).over(run), lit(0L)))
    val rolled = journeyed
      .groupBy("user_id", "journey")
      .agg(
        max(when(col("is_conv"), col("event_id"))).as("conversion_id"),
        max(when(col("is_conv"), col("us"))).as("conv_ts_us"),
        min(when(!col("is_conv"), touch)).as("__bft"),
        max(when(!col("is_conv"), touch)).as("__blt"),
        sum(when(!col("is_conv"), 1L).otherwise(0L)).as("__bnt"),
        min(col("__snc")).as("__nc"), min(col("__sft")).as("__ft0"),
        min(col("__slt")).as("__lt0"), min(col("__snt")).as("__nt0"))
      .filter(col("conversion_id").isNotNull)
    // the store's open-journey state merges ONLY into the continuing
    // journey (index == stored n_conv; 0 for brand-new users, whose store
    // state is all-NULL and merges as a no-op)
    val continuing = col("journey") === coalesce(col("__nc"), lit(0L))
    val ft = when(continuing, least(col("__ft0"), col("__bft"))).otherwise(col("__bft"))
    val lt = when(continuing, greatest(col("__lt0"), col("__blt"))).otherwise(col("__blt"))
    val nt = when(continuing, coalesce(col("__nt0"), lit(0L)) + col("__bnt"))
      .otherwise(col("__bnt"))
    rolled.select(col("user_id"), col("conversion_id"), col("conv_ts_us"),
      ft.getField("id").as("first_touch_id"), ft.getField("t").as("first_touch_type"),
      lt.getField("id").as("last_touch_id"), lt.getField("t").as("last_touch_type"),
      nt.as("n_touches"))
  }

  /** Daily volume anomaly detection: per (event_type, day) counts scored
    * against a trailing window of the previous `window` OBSERVED days
    * (rows-based frame: for an active type the daily grid is dense, and a
    * sparse type's long gaps shouldn't dilute its own baseline) — the
    * volume-drift monitor that catches a broken producer or an ingestion
    * gap before it poisons a training mix.
    *
    * DETERMINISM: the baseline works on exact integer window sums — count,
    * Σn (long), Σn² (decimal(38,0), so a 100 TB day of ~10⁹+ events per
    * type can't overflow the square) — and derives mean/std/z through ONE
    * fixed parenthesization of IEEE ops mirrored verbatim in the oracle:
    * `var = (Σn² − (Σn·Σn)/cnt)/cnt`, `z = round(((n − Σn/cnt) · 1e6) /
    * sqrt(var))`. `z_micro` is NULL until `minPrior` observed days exist
    * and whenever the baseline is constant (std = 0).
    *
    * Scale shape: one (type, day) reduce with map-side partials (the only
    * event-sized pass), then windows over the AGGREGATED grid — types ×
    * days rows, not events. No driver state.
    *
    * Returns (event_type, day, n, n_prior, z_micro, is_anomaly), where
    * `is_anomaly` = |z_micro| ≥ `thresholdMicro` (never NULL). */
  def dailyAnomalies(
      events: DataFrame,
      tsCol: String,
      typeCol: String,
      window: Int = 7,
      minPrior: Int = 3,
      thresholdMicro: Long = 3000000L): DataFrame =
    scoredDaily(events, tsCol, typeCol, None, window, minPrior, thresholdMicro)

  /** Dense daily resampling with gap fill — the step between raw events
    * and anything windowed over days (anomaly baselines, retention
    * grids, rate charts): per (key, day) counts plus EXPLICIT zero rows
    * for every day the key was silent between its own first and last
    * observed day. A missing day is a statement ("this producer emitted
    * nothing"), not an absent row — trailing-window baselines computed
    * over sparse grids silently skip gaps, which is exactly how a dead
    * producer hides ([[dailyAnomalies]] documents the same trade-off from
    * the other side with its rows-frame choice).
    *
    * Scale shape: one (key, day) count reduce with map-side partials
    * (the only event-sized pass), then a per-key 1-row min/max aggregate
    * whose day range EXPLODES row-locally (`sequence` over DATES — the
    * grid is keys × days rows, never events) and left-joins the observed
    * counts back on the (key, day) grid key. `filled` marks synthesized
    * rows. */
  def resampleDaily(
      events: DataFrame,
      keyCol: String,
      tsCol: String): DataFrame = {
    val daily = events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("key"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val grid = daily.groupBy(col("key"))
      .agg(min(col("day")).as("__d0"), max(col("day")).as("__d1"))
      .select(col("key"),
        explode(sequence(col("__d0"), col("__d1"))).as("day"))
    grid.join(daily, Seq("key", "day"), "left")
      .select(col("key"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        col("n").isNull.as("filled"))
  }

  /** SEASONAL twin of [[dailyAnomalies]]: the baseline window holds the
    * previous `window` observed SAME-WEEKDAY days — a Sunday compares to
    * Sundays, so weekly seasonality (weekend dips, Monday spikes) stops
    * reading as anomaly, which is the flat trailing window's documented
    * false-positive mode. Same exact-integer window sums, same shared
    * [[zMicro]] parenthesization, same scale shape (windows over the
    * aggregated types × days grid only). The weekday is computed as
    * `pmod(datediff(day, 2024-01-05), 7)` — pure date-integer arithmetic
    * identical in any engine, no locale/week-start conventions (DuckDB's
    * dayofweek is 0-based Sunday, Spark's 1-based Sunday; this is
    * neither). Returns (event_type, day, dow, n, n_prior, z_micro,
    * is_anomaly). */
  def dailyAnomaliesSeasonal(
      events: DataFrame,
      tsCol: String,
      typeCol: String,
      window: Int = 4,
      minPrior: Int = 3,
      thresholdMicro: Long = 3000000L): DataFrame =
    scoredDaily(events, tsCol, typeCol,
      Some(pmod(datediff(col("day"), lit("2024-01-05").cast("date")), lit(7)).cast("long")),
      window, minPrior, thresholdMicro)

  /** The body of both daily monitors: per (type, day) counts, scored over
    * the previous `window` observed days of the same type — and of the same
    * `dow` when given, which then also becomes an output column after
    * `day`. */
  private def scoredDaily(events: DataFrame, tsCol: String, typeCol: String,
      dow: Option[Column], window: Int, minPrior: Int, thresholdMicro: Long): DataFrame = {
    require(window >= 1, "window must be at least 1")
    require(minPrior >= 1, "minPrior must be at least 1")
    require(thresholdMicro >= 0, "thresholdMicro must be non-negative")
    val daily = events
      .groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val dowCol = dow.map(_ => "dow").toSeq
    val win = Window.partitionBy(("event_type" +: dowCol).map(col): _*)
      .orderBy(col("day").asc)
      .rowsBetween(-window, -1)
    dow.fold(daily)(daily.withColumn("dow", _))
      .withColumn("n_prior", count(col("n")).over(win))
      .withColumn("__s", sum(col("n")).over(win).cast("double"))
      .withColumn("__ss",
        sum((col("n").cast("decimal(19,0)") * col("n").cast("decimal(19,0)")))
          .over(win).cast("double"))
      .withColumn("z_micro",
        zMicro(col("n"), col("n_prior"), col("__s"), col("__ss"), minPrior))
      .withColumn("is_anomaly",
        col("z_micro").isNotNull && abs(col("z_micro")) >= thresholdMicro)
      .select((Seq("event_type", "day") ++ dowCol ++
        Seq("n", "n_prior", "z_micro", "is_anomaly")).map(col): _*)
  }

  /** The ONE z-score parenthesization shared by [[dailyAnomalies]] and the
    * streaming monitor (`Streams.eachBatch` over [[scoreAgainstBaseline]]) —
    * batch and stream verdicts over the same numbers are bit-identical
    * because the IEEE op order is literally this expression in both. */
  private[graft] def zMicro(
      n: Column, cnt: Column, s: Column, ss: Column, minPrior: Int): Column = {
    val mean = s / cnt
    val std = sqrt((ss - (s * s) / cnt) / cnt)
    when(cnt >= minPrior && std > 0.0,
      round(((n - mean) * lit(1e6)) / std).cast("long"))
  }

  /** Frozen baseline for the streaming volume monitor: exact per-type
    * aggregates over history's daily counts — (event_type, n_prior, s,
    * ss) with Σn² in decimal(38,0), the same integer inputs
    * [[dailyAnomalies]] windows over, as a TABLE a stream can broadcast.
    * Persist it (e.g. via MetaPersist) and rebuild on whatever cadence the
    * baseline should follow; the monitor never mutates it. */
  def anomalyBaseline(
      events: DataFrame,
      tsCol: String,
      typeCol: String): DataFrame =
    events
      .groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(count(col("n")).as("n_prior"),
        sum(col("n")).cast("double").as("s"),
        sum(col("n").cast("decimal(19,0)") * col("n").cast("decimal(19,0)"))
          .cast("double").as("ss"))

  /** Score a batch's per-(type, day) counts against a frozen
    * [[anomalyBaseline]] — the per-micro-batch body of the streaming
    * monitor, exposed for batch backfills too. Types absent from the
    * baseline score NULL (warm-up semantics, same as [[dailyAnomalies]]'s
    * first days). */
  def scoreAgainstBaseline(
      batch: DataFrame,
      baseline: DataFrame,
      tsCol: String,
      typeCol: String,
      minPrior: Int = 3,
      thresholdMicro: Long = 3000000L): DataFrame =
    batch
      .groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(baseline), Seq("event_type"), "left")
      .withColumn("n_prior", coalesce(col("n_prior"), lit(0L)))
      .withColumn("z_micro",
        zMicro(col("n"), col("n_prior"), col("s"), col("ss"), minPrior))
      .withColumn("is_anomaly",
        col("z_micro").isNotNull && abs(col("z_micro")) >= thresholdMicro)
      .select("event_type", "day", "n", "n_prior", "z_micro", "is_anomaly")

  /** Weekly retention cohort matrix (the classic product-analytics grid):
    * each user's cohort is the Monday-truncated week of their FIRST event;
    * a (cohort, offset) cell counts users from that cohort active
    * `offset` weeks later, with the retained fraction against the
    * cohort's own week-0 size. Every derivation is exact calendar
    * arithmetic on dates (week truncation, day difference, integer
    * division by 7) — re-derivable in ANSI SQL, bit-stable anywhere.
    *
    * Scale shape: three key-bounded shuffles — the (user, week) distinct,
    * the per-user first-week window, the (cohort, offset) count — and the
    * cohort-size denominator rides a window over the ALREADY-AGGREGATED
    * grid (cohorts × offsets rows, not events). No driver state.
    *
    * Returns (cohort_week: date, week_offset, n_users, retained_frac),
    * week 0 always present per cohort with retained_frac 1.0. */
  def retentionCohorts(
      events: DataFrame,
      userCol: String,
      tsCol: String): DataFrame =
    retentionFromActivity(retentionActivity(events, userCol, tsCol))

  /** The O(users·weeks) distinct activity table [[retentionCohorts]]
    * reduces events to — and the STORE its streaming twin
    * ([[graft.streaming.Streams.retentionMonitorStream]]) accumulates:
    * (user, week) pairs compose by distinct UNION, so history never
    * rescans. */
  def retentionActivity(
      events: DataFrame,
      userCol: String,
      tsCol: String): DataFrame =
    events.select(col(userCol).as("user"),
      to_date(date_trunc("week", col(tsCol))).as("week")).distinct()

  /** The cohort rollup over a [[retentionActivity]] table — shared
    * LITERALLY by the batch operator and the streaming monitor, so the
    * two cannot drift. */
  def retentionFromActivity(activity: DataFrame): DataFrame = {
    val wUser = Window.partitionBy(col("user"))
    val grid = activity
      .withColumn("cohort_week", min(col("week")).over(wUser))
      // exact integer weeks: datediff is a day count, `div` floors (the
      // double `/` would make the offset fractional)
      .select(col("cohort_week"), expr("datediff(week, cohort_week) div 7").as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
    val wCohort = Window.partitionBy(col("cohort_week"))
    grid.withColumn("retained_frac",
      round(col("n_users").cast("double") /
        max(when(col("week_offset") === 0L, col("n_users"))).over(wCohort), 6))
  }

  /** RFM (recency / frequency / monetary) user segmentation — the classic
    * CRM triptych over a transaction log: per user, days since last
    * transaction (relative to the log's own max timestamp, so the report
    * is a pure function of the data — no wall clock), transaction count,
    * and exact monetary total, each scored 1..`buckets` against the
    * population's own quantile edges. Callers pre-filter to the
    * transaction event type — the operator scores whatever rows arrive.
    *
    * Scoring: edges at i/buckets quantiles (rounded to 4 decimals, the
    * [[Checks.psiBaseline]] convention); score = 1 + #(edges strictly
    * below the metric), so ties bucket identically in ANSI SQL. Recency
    * is reverse-scored (most RECENT = highest r_score). Monetary sums
    * through DECIMAL(18,6), never a double sum — exact at any
    * partitioning.
    *
    * Scale shape: one user-key reduce builds the per-user metric table;
    * the three edge arrays come from ONE 1-row aggregate over it and ride
    * a broadcast crossJoin back on (the LM-scorer shape). No global
    * window, no ntile.
    *
    * Returns one row per user: (user_id, recency_days, frequency,
    * monetary_micro, r_score, f_score, m_score, segment). */
  def rfm(
      transactions: DataFrame,
      userCol: String,
      tsCol: String,
      valueCol: String,
      buckets: Int = 5): DataFrame = {
    require(buckets >= 2, "need at least 2 score buckets")
    val qs = (1 until buckets).map(i => i.toDouble / buckets)
    val ts = micros(transactions, tsCol)
    val perUser = transactions
      .groupBy(col(userCol).as("user_id"))
      .agg(max(ts).as("last_us"),
        count(lit(1)).as("frequency"),
        (sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 6))) *
          org.apache.spark.sql.functions.lit(1000000))
          .cast("long").as("monetary_micro"))
    val asOf = perUser.agg(max(col("last_us")).as("as_of_us"))
    val metrics = perUser.crossJoin(broadcast(asOf))
      // exact integer day count: `div` floors in long arithmetic — the
      // double `/` could truncate across an integer boundary
      .withColumn("recency_days", expr("(as_of_us - last_us) div 86400000000"))
      .select("user_id", "recency_days", "frequency", "monetary_micro")
    def edgesOf(c: String) =
      expr(s"percentile($c, array(${qs.mkString(", ")}))")
    val edges = metrics.agg(
        transform(edgesOf("recency_days"), e => round(e, 4)).as("r_edges"),
        transform(edgesOf("frequency"), e => round(e, 4)).as("f_edges"),
        transform(edgesOf("monetary_micro"), e => round(e, 4)).as("m_edges"))
    def score(c: String, e: String) =
      (lit(1) + size(filter(col(e), x => col(c) > x))).cast("long")
    metrics.crossJoin(broadcast(edges))
      .withColumn("r_score", lit(buckets + 1).cast("long") - score("recency_days", "r_edges"))
      .withColumn("f_score", score("frequency", "f_edges"))
      .withColumn("m_score", score("monetary_micro", "m_edges"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary_micro"), col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score"), col("f_score"), col("m_score")).as("segment"))
  }

  /** Per-group daily-volume trend: the exact OLS slope of daily event
    * counts over time for each group — the "is this event type growing
    * or decaying" readout behind capacity planning and silent-breakage
    * alerts (a feed whose volume slope turns negative broke upstream).
    * Days with no events count as ZERO, not as missing (the
    * [[resampleDaily]] semantics) — a dying feed's slope must see the
    * zeros, so each group's day axis densifies over the LOG's global
    * [min, max] day span.
    *
    * DETERMINISM: days are exact integer epoch-day indexes re-based to
    * the global min day (keeps every OLS sum comfortably inside long
    * range: x ≤ days, Σx² ≤ days³), counts are exact longs, and the
    * slope computes from the four integer sums with ONE final division:
    * `slope_micro = round((n·Σxy − Σx·Σy) · 1e6 / (n·Σx² − (Σx)²))`.
    * A single-day log (zero variance) reports NULL, never a
    * divide-by-zero.
    *
    * Scale shape: one (group, day) reduce over the raw events, a
    * row-local day grid explode (O(groups × days)), one group-key
    * reduce for the sums; the 2-row global day bounds ride a broadcast
    * crossJoin.
    *
    * Returns one row per group: (group, n_days, total, slope_micro). */
  def trendSlope(
      events: DataFrame,
      groupCol: String,
      tsCol: String): DataFrame = {
    val daily = events
      .select(col(groupCol).as("group"), micros(events, tsCol).as("__us"))
      // exact integer epoch day (`div` floors in long arithmetic)
      .withColumn("__day", expr("__us div 86400000000"))
      .groupBy(col("group"), col("__day"))
      .agg(count(lit(1)).as("__y"))
    val bounds = daily.agg(min(col("__day")).as("__lo"), max(col("__day")).as("__hi"))
    val dense = daily.groupBy("group")
      .agg(map_from_entries(collect_list(struct(col("__day"), col("__y"))))
        .as("__m"))
      .crossJoin(broadcast(bounds))
      .select(col("group"),
        explode(sequence(lit(0L), col("__hi") - col("__lo"))).as("x"),
        (col("__hi") - col("__lo") + 1L).as("n_days"),
        col("__m"), col("__lo"))
      .select(col("group"), col("x"), col("n_days"),
        coalesce(element_at(col("__m"), col("x") + col("__lo")), lit(0L)).as("y"))
    val sums = dense.groupBy(col("group"))
      .agg(max(col("n_days")).as("n_days"),
        sum(col("y")).as("total"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    val denom = col("n_days") * col("sxx") - col("sx") * col("sx")
    sums.select(col("group"), col("n_days"), col("total"),
      when(denom =!= 0L,
        round(((col("n_days") * col("sxy") - col("sx") * col("sy")) * lit(1e6)) /
          denom).cast("long")).as("slope_micro"))
  }

  /** Rolling active users (DAU/WAU/MAU family): for every day in the
    * log's span, the EXACT count of distinct users active in the trailing
    * `windowDays` window — the engagement curve every ops dashboard
    * leads with, computed without a quadratic day×user join.
    *
    * Scale shape: one distinct over (user, day) collapses the raw log,
    * then each user-day CONTRIBUTES itself to the ≤ `windowDays` target
    * days whose trailing window contains it (a row-local
    * `explode(sequence(...))` — O(activity · window) rows, never
    * O(users · days²)), one more distinct folds multi-active users
    * within a window, one day-key count. The 1-row day bounds ride a
    * broadcast crossJoin. Exact integers throughout; early days report
    * their genuine partial windows.
    *
    * Returns one row per day in [min_day, max_day]: (day, active_users)
    * — `day` an epoch-day long, days with an empty window absent (no
    * user contributed; join a calendar to densify if needed). */
  def rollingActiveUsers(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    val activity = events
      .select(col(userCol).as("user"), micros(events, tsCol).as("__us"))
      .withColumn("day", expr("__us div 86400000000"))
      .select("user", "day").distinct()
    val bounds = activity.agg(max(col("day")).as("__hi"))
    activity.crossJoin(broadcast(bounds))
      .select(col("user"),
        explode(sequence(col("day"),
          least(col("day") + lit(windowDays.toLong - 1), col("__hi")))).as("day"))
      .distinct()
      .groupBy("day")
      .agg(count(lit(1)).as("active_users"))
  }

  /** CUSUM change-point detection over per-group daily volumes — the
    * "WHEN did this feed change" companion to [[trendSlope]]'s "is it
    * changing": the classic cumulative-sum statistic
    * `S_x = Σ_{x'≤x}(y − ȳ)` peaks at the day the level shifted. Days
    * with no events count as ZERO over the log's global span (the
    * [[trendSlope]] densification).
    *
    * DETERMINISM: the mean is never materialized — the statistic scales
    * by n to stay integer: `S'_x = n·cum_x − (x+1)·total` (exact longs;
    * |S'| ≤ n·total, so safe while n_days·total_events < 2^63), the
    * peak day is argmax |S'| with ties to the SMALLEST day, and the
    * normalized peak quantizes once:
    * `round(peak·1e6 / (n·total))` ∈ [0, 250000] (the ¼ bound of the
    * centered CUSUM). An empty group (total 0) reports NULL change day.
    *
    * Scale shape: one (group, day) reduce, the row-local dense grid, a
    * group-partitioned cumulative window (same key — no extra
    * exchange), one group-key argmax aggregate via struct-max (never a
    * global window).
    *
    * Returns one row per group: (group, n_days, total, change_day,
    * cusum_peak, peak_micro). */
  def cusumChangepoint(
      events: DataFrame,
      groupCol: String,
      tsCol: String): DataFrame = {
    val daily = events
      .select(col(groupCol).as("group"), micros(events, tsCol).as("__us"))
      .withColumn("__day", expr("__us div 86400000000"))
      .groupBy(col("group"), col("__day"))
      .agg(count(lit(1)).as("__y"))
    val bounds = daily.agg(min(col("__day")).as("__lo"), max(col("__day")).as("__hi"))
    val dense = daily.groupBy("group")
      .agg(map_from_entries(collect_list(struct(col("__day"), col("__y"))))
        .as("__m"))
      .crossJoin(broadcast(bounds))
      .select(col("group"),
        explode(sequence(lit(0L), col("__hi") - col("__lo"))).as("x"),
        (col("__hi") - col("__lo") + 1L).as("n_days"),
        col("__m"), col("__lo"))
      .select(col("group"), col("x"), col("n_days"), col("__lo"),
        coalesce(element_at(col("__m"), col("x") + col("__lo")), lit(0L)).as("y"))
    val w = Window.partitionBy(col("group")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wTot = Window.partitionBy(col("group"))
    val scored = dense
      .withColumn("__cum", sum(col("y")).over(w))
      .withColumn("total", sum(col("y")).over(wTot))
      .withColumn("__s",
        abs(col("n_days") * col("__cum") - (col("x") + 1L) * col("total")))
    scored.groupBy(col("group"))
      .agg(max(col("n_days")).as("n_days"),
        max(col("total")).as("total"),
        max(col("__lo")).as("__lo"),
        max(struct(col("__s").as("a"), (-col("x")).as("nx"))).as("__m"))
      .select(col("group"), col("n_days"), col("total"),
        when(col("total") > 0L, col("__lo") - col("__m.nx")).as("change_day"),
        col("__m.a").as("cusum_peak"),
        when(col("total") > 0L,
          round((col("__m.a") * lit(1000000.0)) / (col("n_days") * col("total")))
            .cast("long")).as("peak_micro"))
  }

  /** Two-proportion z-test over experiment variants — the A/B readout:
    * each unit (user) carries a variant label and a 0/1 conversion flag;
    * every variant compares against the CONTROL (the lexicographically
    * smallest variant label, deterministic), reporting exact counts, the
    * conversion rates, the lift, and the pooled two-proportion
    * z-statistic `(p_v − p_c) / sqrt(p̂(1−p̂)(1/n_c + 1/n_v))`.
    *
    * DETERMINISM: counts are exact longs; the z doubles derive from those
    * longs through a fixed operation order (each IEEE op is correctly
    * rounded, so the same order re-derives bit-identically in ANSI SQL)
    * and quantize once to micro units. A degenerate pool (p̂ = 0 or 1 —
    * zero standard error) reports z_micro NULL rather than ±inf.
    *
    * NULL-variant contract: rows with a NULL variant label are EXCLUDED
    * before the reduce. Without the filter, Spark's ascending sort puts
    * NULLs FIRST, so one unlabeled unit would silently elect NULL as the
    * control and `variant =!= control` would then evaluate NULL for every
    * row — an empty report with no error (r15 ADVICE). The election also
    * sorts nulls-last as a second fence, matching the oracle convention.
    *
    * Scale shape: one variant-key reduce (map-side combined) to
    * O(variants) rows; the control row broadcasts back on. The unit
    * table itself is the caller's (one user-key reduce upstream, e.g.
    * max(converted) per user) — this operator never re-scans raw events.
    *
    * Returns one row per non-control variant: (variant, control, n_ctrl,
    * conv_ctrl, n_var, conv_var, rate_ctrl_micro, rate_var_micro,
    * lift_micro, z_micro). */
  def abTest(
      units: DataFrame,
      variantCol: String,
      convCol: String): DataFrame = {
    val per = units
      .filter(col(variantCol).isNotNull)
      .groupBy(col(variantCol).cast("string").as("variant"))
      .agg(count(lit(1)).as("n"),
        sum(col(convCol).cast("long")).as("conv"))
    val ctrl = per.orderBy(col("variant").asc_nulls_last).limit(1)
      .select(col("variant").as("control"), col("n").as("n_ctrl"),
        col("conv").as("conv_ctrl"))
    val joined = per.crossJoin(broadcast(ctrl))
      .filter(col("variant") =!= col("control"))
    val pc = col("conv_ctrl").cast("double") / col("n_ctrl")
    val pv = col("conv").cast("double") / col("n")
    val pool = (col("conv_ctrl") + col("conv")).cast("double") /
      (col("n_ctrl") + col("n"))
    val se = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / col("n_ctrl") + lit(1.0) / col("n")))
    joined.select(col("variant"), col("control"),
        col("n_ctrl"), col("conv_ctrl"),
        col("n").as("n_var"), col("conv").as("conv_var"),
        round(pc * lit(1e6)).cast("long").as("rate_ctrl_micro"),
        round(pv * lit(1e6)).cast("long").as("rate_var_micro"),
        round((pv - pc) * lit(1e6)).cast("long").as("lift_micro"),
        when(se > lit(0.0), round(((pv - pc) / se) * lit(1e6)).cast("long"))
          .as("z_micro"))
  }
}
