package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality constraint checking (the Deequ/"unit tests for
  * data" model, Schelter et al., VLDB 2018) — a user states constraints
  * over a table and gets back one verdict row per constraint with exact
  * violation counts, instead of hand-writing N audit queries.
  *
  * Semantics (documented per constraint below): value constraints are
  * NULL-IGNORING — a NULL never violates `InRange`/`InSet`/`MatchesRegex`;
  * completeness is its own constraint (`NotNull`), so a check suite
  * composes the two explicitly instead of conflating "missing" with
  * "wrong" (the Deequ completeness/compliance split).
  *
  * Scale shape: every row-local constraint in the suite evaluates in ONE
  * shared scan — a single partial-aggregate pass (map-side combined, no
  * shuffle beyond the 1-row final merge) no matter how many constraints —
  * and each `Unique` constraint adds exactly one groupBy on its own key.
  * Verdicts are exact integer counts, so the whole suite re-derives in
  * ANSI SQL and is reproducible at any partitioning.
  */
object Checks {

  sealed trait Constraint

  /** Violated by NULL values of `column`. */
  final case class NotNull(column: String) extends Constraint

  /** Violated by non-NULL values outside [lo, hi] (inclusive). */
  final case class InRange(column: String, lo: Double, hi: Double) extends Constraint

  /** Violated by non-NULL values not in `values`. */
  final case class InSet(column: String, values: Seq[Any]) extends Constraint

  /** Violated by non-NULL values not containing a match of `pattern`
    * (unanchored, `rlike` semantics — anchor with ^...$ for full-match). */
  final case class MatchesRegex(column: String, pattern: String) extends Constraint

  /** Violated by every row whose `columns` key occurs more than once
    * (the violation count is the number of rows in duplicated key groups,
    * not the number of duplicated keys). NULL key components group like
    * values. */
  final case class Unique(columns: Seq[String]) extends Constraint

  /** Table-level row-count bound: violations is 0 or 1. */
  final case class RowCountBetween(lo: Long, hi: Long) extends Constraint

  private[operators] def meta(c: Constraint): (String, String, String) = c match {
    case NotNull(col)          => (s"not_null($col)", "not_null", col)
    case InRange(col, lo, hi)  => (s"in_range($col)", "in_range", s"$col in [$lo, $hi]")
    case InSet(col, vs)        => (s"in_set($col)", "in_set", s"$col in {${vs.mkString(",")}}")
    case MatchesRegex(col, p)  => (s"regex($col)", "regex", s"$col ~ $p")
    case Unique(cols)          => (s"unique(${cols.mkString(",")})", "unique", cols.mkString(","))
    case RowCountBetween(l, h) => ("row_count", "row_count", s"rows in [$l, $h]")
  }

  private def violation(c: Constraint): Option[Column] = c match {
    case NotNull(cl)         => Some(when(col(cl).isNull, 1L).otherwise(0L))
    case InRange(cl, lo, hi) =>
      Some(when(col(cl).isNotNull && (col(cl) < lit(lo) || col(cl) > lit(hi)), 1L).otherwise(0L))
    case InSet(cl, vs)       =>
      Some(when(col(cl).isNotNull && !col(cl).isin(vs: _*), 1L).otherwise(0L))
    case MatchesRegex(cl, p) =>
      Some(when(col(cl).isNotNull && !col(cl).rlike(p), 1L).otherwise(0L))
    case _                   => None
  }

  /** Evaluate `constraints` over `df`. Returns one row per constraint:
    * (check_name, kind, target, violations, n_rows, pass) — `violations`
    * the exact count per the constraint's semantics above, `n_rows` the
    * table row count, `pass` = violations == 0 (row-count: within bounds).
    * Row order is the declaration order of `constraints` (stable ids make
    * the output joinable across runs for drift tracking). */
  def check(df: DataFrame, constraints: Seq[Constraint]): DataFrame = {
    require(constraints.nonEmpty, "constraints must be non-empty")
    val rowLocal = constraints.zipWithIndex
      .flatMap { case (c, i) => violation(c).map(v => (c, i, v)) }
    val rowCounts = constraints.zipWithIndex.collect { case (c: RowCountBetween, i) => (c, i) }
    val uniques = constraints.zipWithIndex.collect { case (c: Unique, i) => (c, i) }

    val aggPart: Option[DataFrame] =
      if (rowLocal.isEmpty && rowCounts.isEmpty) None
      else {
        val sums = rowLocal.map { case (_, i, v) => sum(v).as(s"__v$i") }
        val base = df.agg(count(lit(1)).as("__n"), sums: _*)
        val entries: Seq[Column] =
          rowLocal.map { case (c, i, _) =>
            val (id, kind, target) = meta(c)
            val viol = coalesce(col(s"__v$i"), lit(0L))
            struct(lit(id).as("check_name"), lit(kind).as("kind"),
              lit(target).as("target"), lit(i).as("ord"),
              viol.as("violations"), (viol === 0L).as("pass"))
          } ++ rowCounts.map { case (c @ RowCountBetween(lo, hi), i) =>
            val (id, kind, target) = meta(c)
            val ok = col("__n") >= lit(lo) && col("__n") <= lit(hi)
            struct(lit(id).as("check_name"), lit(kind).as("kind"),
              lit(target).as("target"), lit(i).as("ord"),
              when(ok, 0L).otherwise(1L).as("violations"), ok.as("pass"))
          }
        Some(base
          .select(col("__n"), explode(array(entries: _*)).as("c"))
          .select(col("c.check_name"), col("c.kind"), col("c.target"), col("c.ord"),
            col("c.violations"), col("__n").as("n_rows"), col("c.pass")))
      }

    val uniqueParts: Seq[DataFrame] = uniques.map { case (u, i) =>
      val (id, kind, target) = meta(u)
      df.groupBy(u.columns.map(col): _*).agg(count(lit(1)).as("__c"))
        .agg(
          coalesce(sum(when(col("__c") > 1L, col("__c"))), lit(0L)).as("__viol"),
          coalesce(sum(col("__c")), lit(0L)).as("__nr"))
        .select(lit(id).as("check_name"), lit(kind).as("kind"),
          lit(target).as("target"), lit(i).as("ord"),
          col("__viol").as("violations"), col("__nr").as("n_rows"),
          (col("__viol") === 0L).as("pass"))
    }

    (aggPart.toSeq ++ uniqueParts)
      .reduce(_ unionByName _)
      .orderBy("ord")
      .drop("ord")
  }

  /** r18 scale-adaptive parallelism guard: when a frame's scan has FAR
    * fewer partitions than the cluster's default parallelism (the
    * single-row-group-parquet case — row groups floor the split count, so
    * an 11 MB file scans as ONE task on any cluster), spread it before
    * heavy per-row/aggregate work; on production multi-split inputs the
    * guard is false and no exchange is paid. The deficit threshold is 4×
    * (not merely <): the round-robin repartition pays a full-width shuffle
    * PLUS its sort-before-repartition pass, and the 10× audit measured a
    * mild-deficit fire (11 scan tasks vs 32 cores on the amplified dir)
    * costing more than the extra parallelism bought — only a large
    * deficit amortizes the exchange. Only legal around exact,
    * partitioning-invariant computations — callers own that property.
    *
    * r19 (ADVICE): the partition-count probe (`df.rdd`) finalizes the
    * adaptive plan, which on a DERIVED frame (joins/aggs below) can
    * materialize upstream shuffle stages once for the probe and again for
    * the separately-planned consumer. The probe therefore only runs on
    * SCAN-ROOTED frames — projections/filters over a leaf relation, the
    * shape whose partition count is a pure file-split property; any other
    * frame is returned unspread. */
  private def spreadNarrowScan(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical
    def scanRooted(p: logical.LogicalPlan): Boolean = p match {
      case pr: logical.Project => scanRooted(pr.child)
      case f: logical.Filter => scanRooted(f.child)
      case s: logical.SubqueryAlias => scanRooted(s.child)
      case _: logical.LeafNode => true
      case _ => false
    }
    if (!scanRooted(df.queryExecution.analyzed)) df
    else {
      val defaultPar = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions * 4 <= defaultPar) df.repartition(defaultPar)
      else df
    }
  }

  /** Robust outlier detection by median absolute deviation (the
    * Hampel-style filter): per group, med = exact median of the value,
    * MAD = exact median of |v − med|, and a row is an outlier when
    * |v − med| > k·MAD — the robust alternative to z-scores (mean/std are
    * themselves dragged by the outliers they're meant to find; the
    * breakdown point of the median is 50%).
    *
    * DETERMINISM: med and MAD are exact interpolated percentiles ROUNDED
    * to 4 decimals (the `agg_percentile_exact` cross-engine parity
    * convention — the two engines interpolate with differently-ordered
    * float ops), and the flag compares doubles derived identically on
    * both sides. Groups whose MAD is 0 (≥ 50% identical values) flag
    * nothing — an explicit contract, not an accident: deviation has no
    * robust scale there.
    *
    * Scale shape: two group aggregates (med, then MAD over the re-joined
    * deviations) with the O(groups) med/MAD tables BROADCAST back onto
    * the row scan — rows never shuffle; exact percentiles hold one
    * group's values per reducer, the same cost class the stats facade
    * already exposes.
    *
    * Returns every input row + (med, mad, is_outlier), is_outlier never
    * NULL (NULL values are not outliers). Row preservation includes
    * NULL-group rows: the med/MAD joins are NULL-SAFE (`<=>`), so a
    * nullable group column forms its own group instead of silently
    * dropping its rows from the output. */
  def outliersMad(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Double = 3.0): DataFrame = {
    require(k > 0, "k must be positive")
    val v = col(valueCol).cast("double")
    // r18 note: spreading the percentile inputs via [[spreadNarrowScan]]
    // was tried and MEASURED SLOWER (median 3.3 s → 4.3 s at sf0.1,
    // local[32]): the keyless repartition's sort-before-repartition pass
    // cost more than the extra map-side parallelism bought.
    // r19 (VERDICT #7): the same parallelism, exchange-free — pre-reduce
    // to per-(group, value) counts (a CODEGEN hash aggregate with full
    // map-side partials, distributed across reducers by the (group, value)
    // hash) and feed the exact percentile its FREQUENCY argument.
    // `percentile(v, p, cnt)` is bit-identical to `percentile(v, p)` over
    // the expanded rows — Spark's Percentile buffers (value → count)
    // internally either way, and the sorted interpolation walks identical
    // state. The MAD pass then derives |v − med| per DISTINCT value from
    // the same counts table (equal values have equal deviations), so it
    // costs O(distinct values) and no second scan of the raw rows: the
    // full input is scanned twice total (counts + the output re-attach)
    // instead of three times — only because exchange reuse serves the
    // second `counts` consumer from the first one's shuffle (pinned in
    // PlanQualitySpec; with spark.sql.exchangeReuseEnabled off it is three).
    val counts = df.groupBy(col(groupCol).as("__g1"), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val med = counts.groupBy(col("__g1"))
      .agg(round(expr("percentile(__v, 0.5, __cnt)"), 4).as("med"))
    val mad = counts
      .join(broadcast(med.withColumnRenamed("__g1", "__gm")),
        col("__g1") <=> col("__gm"))
      .withColumn("__dev", abs(col("__v").cast("double") - col("med")))
      .groupBy(col("__g1").as("__g2"))
      .agg(round(expr("percentile(__dev, 0.5, __cnt)"), 4).as("mad"))
    val deviations = df
      .join(broadcast(med), col(groupCol) <=> col("__g1")).drop("__g1")
    deviations.join(broadcast(mad), col(groupCol) <=> col("__g2")).drop("__g2")
      .withColumn("is_outlier",
        coalesce(col("mad") > 0.0 && abs(v - col("med")) > lit(k) * col("mad"),
          lit(false)))
  }

  /** Population-stability-index drift detection (the standard model-ops
    * "did the feature distribution move" monitor): bucket BOTH frames by
    * the REFERENCE frame's own quantile edges, then per bucket
    * `psi = (q − p) · ln(q / p)` over add-one-smoothed shares — smoothing
    * makes empty buckets finite instead of infinite, and the smoothed
    * shares are pure functions of integer counts. PSI ≈ 0 = stable;
    * > 0.1 / > 0.25 are the conventional watch/act thresholds (summed
    * over buckets).
    *
    * DETERMINISM: edges are exact reference percentiles rounded to 4dp
    * (the cross-engine parity convention); bucket assignment is a
    * row-local count of edges strictly below the value; shares derive
    * from exact long counts through ONE fixed parenthesization, and each
    * bucket's term quantizes once to micro-nats. NULL values are excluded
    * from both sides (a NULL carries no position in a distribution).
    *
    * Scale shape: one reference percentile aggregate; the edge array
    * (buckets−1 doubles) rides a broadcast 1-row crossJoin onto both row
    * scans; two bucket-key reduces with map-side partials; everything
    * after is O(buckets) rows. Rows never shuffle.
    *
    * Returns one row per bucket 0..buckets−1: (bucket, lo, hi, ref_cnt,
    * cur_cnt, psi_micro); lo is NULL for the first bucket, hi for the
    * last. Total PSI = Σ psi_micro.
    *
    * EAGER (r18 pin): the O(buckets) baseline is materialized with a
    * Spark job at CONSTRUCTION time — errors in the reference side
    * surface here, not at the caller's action. Pin storage is O(buckets)
    * executor-local blocks, ContextCleaner-reclaimed. */
  def driftPsi(
      reference: DataFrame,
      current: DataFrame,
      valueCol: String,
      buckets: Int = 10): DataFrame =
    // r18: pin the O(buckets) baseline — [[scorePsiAgainst]] reads it
    // twice (the edges broadcast and the join side), and unpinned each
    // read re-ran the whole reference percentile + bucket-count pipeline;
    // measured, the composite made ~8 full scans of the two inputs where
    // 3 suffice (2 reference passes + 1 current pass)
    scorePsiAgainst(current,
      Materialize.pin(psiBaseline(reference, valueCol, buckets)),
      valueCol)

  /** Frozen PSI baseline: one row per bucket carrying the reference
    * quantile edges, the reference bucket counts, and the reference total
    * — the O(buckets) table a streaming monitor
    * (`Streams.eachBatch(s)(scorePsiAgainst(_, baseline, col))(sink)`)
    * broadcasts against each micro-batch. Persist it and rebuild on the
    * reference's own cadence; scorers never mutate it. */
  def psiBaseline(
      reference: DataFrame,
      valueCol: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2, "need at least 2 buckets")
    val qs = (1 until buckets).map(i => i.toDouble / buckets)
    val ref = reference.filter(col(valueCol).isNotNull)
    val edgesDf = ref
      .agg(expr(s"percentile($valueCol, array(${qs.mkString(", ")}))").as("__raw"))
      .select(transform(col("__raw"), e => round(e, 4)).as("edges"))
    val refCounts = ref.crossJoin(broadcast(edgesDf))
      .select(size(filter(col("edges"),
        e => col(valueCol).cast("double") > e)).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("ref_cnt"))
    edgesDf
      .select(explode(sequence(lit(0L), lit((buckets - 1).toLong))).as("bucket"),
        col("edges"))
      .join(refCounts, Seq("bucket"), "left")
      .withColumn("ref_cnt", coalesce(col("ref_cnt"), lit(0L)))
      // r18: every non-null reference row lands in exactly one bucket, so
      // the total is the exact sum of the bucket counts — a whole-frame
      // window over the O(buckets) rows replaces what was a third full
      // reference scan (single-partition window is fine at 10 rows)
      .withColumn("ref_n",
        sum(col("ref_cnt")).over(org.apache.spark.sql.expressions.Window
          .partitionBy()))
      .withColumn("n_buckets", lit(buckets.toLong))
  }

  /** Score a current frame's distribution against a frozen
    * [[psiBaseline]] — the per-micro-batch body of the streaming drift
    * monitor, exposed for batch backfills too (and what [[driftPsi]]
    * itself runs). Same output shape and determinism as [[driftPsi]]. */
  def scorePsiAgainst(
      current: DataFrame,
      baseline: DataFrame,
      valueCol: String): DataFrame = {
    val edges1 = baseline.select(col("edges"), col("n_buckets")).limit(1)
    val curCounts = current.filter(col(valueCol).isNotNull)
      .crossJoin(broadcast(edges1))
      .select(size(filter(col("edges"),
        e => col(valueCol).cast("double") > e)).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cur_cnt"))
    val joined = baseline
      .join(curCounts, Seq("bucket"), "left")
      .withColumn("cur_cnt", coalesce(col("cur_cnt"), lit(0L)))
      // r18: the current total is the exact sum of the bucket counts —
      // replaces a second full current scan (the psiBaseline trick)
      .withColumn("__cn",
        sum(col("cur_cnt")).over(org.apache.spark.sql.expressions.Window
          .partitionBy()))
    val p = (col("ref_cnt") + 1).cast("double") / (col("ref_n") + col("n_buckets"))
    val q = (col("cur_cnt") + 1).cast("double") / (col("__cn") + col("n_buckets"))
    joined.select(col("bucket"),
      when(col("bucket") > 0, element_at(col("edges"), col("bucket").cast("int"))).as("lo"),
      when(col("bucket") < col("n_buckets") - 1,
        element_at(col("edges"), (col("bucket") + 1).cast("int"))).as("hi"),
      col("ref_cnt"), col("cur_cnt"),
      round(((q - p) * log(q / p)) * lit(1e6)).cast("long").as("psi_micro"))
  }

  /** Categorical PSI drift — the [[driftPsi]] twin for discrete columns
    * (source, language, label): the category domain is the REFERENCE
    * frame's top `maxCategories` values (count desc, value asc — a
    * bounded domain even over an unbounded column) plus two explicit
    * sentinels, `__other__` (reference tail AND categories never seen in
    * the reference — a new crawl source shows up HERE, which is exactly
    * the drift worth alarming on) and `__null__` (nullness drift is
    * drift). Same add-one-smoothed shares and micro-quantized
    * `(q − p)·ln(q/p)` terms as the numeric monitor.
    *
    * Scale shape: the [[driftChi2Categorical]] one — one reference
    * category reduce; the top-category table is
    * TakeOrderedAndProject-bounded and broadcasts onto both row scans
    * as a label join; two label-key reduces; O(labels) everything after.
    * Values named like the sentinels would collide with them — documented
    * limitation, not guarded.
    *
    * Returns one row per domain label: (category, ref_cnt, cur_cnt,
    * psi_micro), ordered by caller.
    *
    * EAGER (r18 pins): the O(labels) [[chi2Baseline]] is materialized
    * with Spark jobs at CONSTRUCTION time (executor-local blocks,
    * ContextCleaner-reclaimed). */
  def driftPsiCategorical(
      reference: DataFrame,
      current: DataFrame,
      catCol: String,
      maxCategories: Int = 20): DataFrame = {
    // every row of either side lands on exactly one domain label, so the
    // label count is the joined frame's own row count
    val joined = labelAgainst(current,
        Materialize.pin(chi2Baseline(reference, catCol, maxCategories)), catCol)
      .withColumn("__nl",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy()))
    val p = (col("ref_cnt") + 1).cast("double") / (col("ref_n") + col("__nl"))
    val q = (col("cur_cnt") + 1).cast("double") / (col("__cn") + col("__nl"))
    joined.select(col("category"), col("ref_cnt"), col("cur_cnt"),
      round(((q - p) * log(q / p)) * lit(1e6)).cast("long").as("psi_micro"))
  }

  /** Chi-square homogeneity drift over a categorical column — the
    * frequentist companion to [[driftPsiCategorical]] (PSI is a
    * divergence with rule-of-thumb bands; the chi-square statistic feeds
    * an actual test). Domain = the reference's top `maxCategories` plus
    * the `__other__`/`__null__` sentinels, exactly the PSI-cat contract.
    * Per category: expected counts under homogeneity
    * (`E = row_total · side_total / N`) and the per-side Pearson terms
    * `(O − E)²/E`.
    *
    * DETERMINISM: counts are exact longs; each category's term quantizes
    * ONCE to micro units through a fixed operation order, so the overall
    * statistic is the exact LONG SUM of the published per-category terms
    * (the LM-scorer quantize-then-sum trick — never a float sum). A
    * category with zero combined count contributes 0.
    *
    * Scale shape: identical to PSI-cat — one reference reduce, a
    * TakeOrderedAndProject-bounded domain broadcast onto both scans, two
    * label-key reduces, O(labels) everything after, 1-row totals on a
    * broadcast crossJoin.
    *
    * Returns one row per domain label: (category, ref_cnt, cur_cnt,
    * chi2_term_micro), ordered by caller; the statistic is the sum of
    * `chi2_term_micro` with dof = labels_with_mass − 1.
    *
    * EAGER (r18 pin): the O(labels) baseline is materialized with a
    * Spark job at CONSTRUCTION time (executor-local blocks,
    * ContextCleaner-reclaimed). */
  def driftChi2Categorical(
      reference: DataFrame,
      current: DataFrame,
      catCol: String,
      maxCategories: Int = 20): DataFrame =
    // r18: pin the O(labels) baseline — the scorer reads it twice (domain
    // + join side); the driftPsi composite fix
    scoreChi2Against(current,
      Materialize.pin(chi2Baseline(reference, catCol, maxCategories)),
      catCol)

  /** Map a frame onto a frozen top-category domain (the PSI-cat
    * sentinel contract) and count per label. */
  private def labelOntoDomain(
      df: DataFrame, catCol: String, top: DataFrame, as: String): DataFrame = df
    .select(when(col(catCol).isNull, lit("__null__"))
      .otherwise(col(catCol).cast("string")).as("raw"))
    .join(broadcast(top.select(col("category").as("raw"),
      lit(1).as("__t"))), Seq("raw"), "left")
    .select(when(col("raw") === "__null__", lit("__null__"))
      .when(col("__t").isNotNull, col("raw"))
      .otherwise(lit("__other__")).as("category"))
    .groupBy("category").agg(count(lit(1)).as(as))

  /** Frozen chi-square baseline: one row per domain label — (category,
    * ref_cnt, ref_n). The O(labels) table a streaming monitor
    * (`Streams.eachBatch` over [[scoreChi2Against]]) broadcasts against
    * each micro-batch; persist and rebuild on the reference's cadence.
    * Lazy: building it runs no Spark job (the categorical drift pair pins
    * the whole baseline once). */
  def chi2Baseline(
      reference: DataFrame,
      catCol: String,
      maxCategories: Int = 20): DataFrame = {
    require(maxCategories >= 1, "maxCategories must be at least 1")
    val s = reference.sparkSession
    import s.implicits._
    // window-sum total: ref_n is the exact sum of the label counts since
    // every row maps onto exactly one grid label
    val top = reference.filter(col(catCol).isNotNull)
      .groupBy(col(catCol).cast("string").as("category"))
      .agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("category").asc)
      .limit(maxCategories)
      .select("category")
    val grid = top.union(Seq("__other__", "__null__").toDF("category"))
    grid
      .join(labelOntoDomain(reference, catCol, top, "ref_cnt"), Seq("category"), "left")
      .withColumn("ref_cnt", coalesce(col("ref_cnt"), lit(0L)))
      .withColumn("ref_n",
        sum(col("ref_cnt")).over(org.apache.spark.sql.expressions.Window
          .partitionBy()))
  }

  /** A frozen [[chi2Baseline]] joined with the current frame's per-label
    * counts (`cur_cnt`, 0 for an absent label) and their total (`__cn`) —
    * the scoring side of [[scoreChi2Against]] and [[driftPsiCategorical]]. */
  private def labelAgainst(
      current: DataFrame, baseline: DataFrame, catCol: String): DataFrame = {
    val top = baseline.select("category")
      .filter(col("category") =!= "__other__" && col("category") =!= "__null__")
    baseline
      .join(labelOntoDomain(current, catCol, top, "cur_cnt"), Seq("category"), "left")
      .withColumn("cur_cnt", coalesce(col("cur_cnt"), lit(0L)))
      // r18: exact current total from the label counts — one current scan
      // instead of two (the scorePsiAgainst trick)
      .withColumn("__cn",
        sum(col("cur_cnt")).over(org.apache.spark.sql.expressions.Window
          .partitionBy()))
  }

  /** Score a current frame against a frozen [[chi2Baseline]] — the
    * per-micro-batch body of the streaming monitor, exposed for batch
    * backfills too (and what [[driftChi2Categorical]] itself runs). */
  def scoreChi2Against(
      current: DataFrame,
      baseline: DataFrame,
      catCol: String): DataFrame = {
    val joined = labelAgainst(current, baseline, catCol)
    val rowTotal = (col("ref_cnt") + col("cur_cnt")).cast("double")
    val n = (col("ref_n") + col("__cn")).cast("double")
    val eRef = rowTotal * col("ref_n") / n
    val eCur = rowTotal * col("__cn") / n
    // A zero-expected cell (one side empty — possible for a
    // streaming micro-batch under Streams.eachBatch) contributes an explicit 0: without
    // the guard the (0−0)²/0 term is NaN, which round(...).cast(long)
    // silently turns into 0 under default casting but THROWS under ANSI
    // mode — breaking the documented ANSI re-derivability (r15 ADVICE).
    val term =
      when(eRef > lit(0.0),
        (col("ref_cnt") - eRef) * (col("ref_cnt") - eRef) / eRef)
        .otherwise(lit(0.0)) +
      when(eCur > lit(0.0),
        (col("cur_cnt") - eCur) * (col("cur_cnt") - eCur) / eCur)
        .otherwise(lit(0.0))
    joined.select(col("category"), col("ref_cnt"), col("cur_cnt"),
      when(col("ref_cnt") + col("cur_cnt") === 0L, lit(0L))
        .otherwise(round(term * lit(1e6)).cast("long")).as("chi2_term_micro"))
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic — the
    * distribution-free companion to [[driftPsi]]: D = max_v |F_ref(v) −
    * F_cur(v)| over the EXACT empirical CDFs (no binning loss), the test
    * a 100 TB pipeline runs when a PSI bucket shift needs a
    * scale-invariant second opinion. NULLs are excluded on both sides.
    *
    * DETERMINISM: the max runs over the integer cross-normalized gap
    * `|cum_ref·n_cur − cum_cur·n_ref|` (exact longs; overflow-safe while
    * n_ref·n_cur < 2^63, i.e. both sides under ~3·10^9 rows — beyond
    * that, pre-aggregate or sample, documented bound), and only the final
    * report divides: `ks_micro = round(d_num·1e6 / (n_ref·n_cur))`.
    * `ks_at` is the smallest value attaining the max gap, so ties
    * re-derive identically in ANSI SQL.
    *
    * Scale shape: the ECDF needs a prefix sum over the distinct-value
    * domain, which must NOT be one global window (a single partition
    * would absorb the whole domain). It runs as a TWO-LEVEL prefix sum:
    * values bucket by the reference's quantile edges (the [[psiBaseline]]
    * shape — O(buckets) 1-row broadcast), the inner cumulative window is
    * PARTITIONED by bucket (parallel), and the outer offsets window runs
    * over the O(buckets) bucket-total table only. Two value-key reduces,
    * one value-key full-outer join, 1-row broadcast totals.
    *
    * Returns ONE row: (n_ref, n_cur, d_num, ks_at, ks_micro).
    *
    * EAGER (r18 pins): the merged value-domain table — O(distinct values
    * of both sides) executor-local bytes — and the gap table are
    * materialized with Spark jobs at CONSTRUCTION time; both are
    * ContextCleaner-reclaimed when the frame is GC'd. */
  def driftKs(
      reference: DataFrame,
      current: DataFrame,
      valueCol: String,
      buckets: Int = 32): DataFrame = {
    require(buckets >= 2, "need at least 2 buckets")
    val qs = (1 until buckets).map(i => i.toDouble / buckets)
    val ref = reference.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("v"))
    val cur = current.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("v"))
    // approx_percentile, NOT exact percentile: the edges only place rows
    // into prefix-sum buckets — the KS output is invariant to edge
    // placement — and the exact aggregate buffers every value in one
    // aggregation state, the memory/straggler hazard the two-level prefix
    // sum below exists to avoid (r15 ADVICE). GK sketch state is O(1/ε).
    val edges = ref
      .agg(expr(s"approx_percentile(v, array(${qs.mkString(", ")}), 10000)")
        .as("__raw"))
      .select(transform(col("__raw"), e => round(e, 4)).as("edges"))
    val rc = ref.groupBy("v").agg(count(lit(1)).as("ref_c"))
    val cc = cur.groupBy("v").agg(count(lit(1)).as("cur_c"))
    // r18: PINNED — the merged domain table feeds the inner cumulative
    // window AND the bucket-offset reduce (and, through `gaps`, the max
    // and the argmin join); unpinned, each consumer re-ran both scans,
    // both value reduces and the full-outer join — the composite made ~9
    // reference passes where 2 suffice. O(distinct values) narrow rows,
    // disk-backed local blocks.
    val m = Materialize.pin(rc.join(cc, Seq("v"), "full_outer")
      .select(col("v"),
        coalesce(col("ref_c"), lit(0L)).as("ref_c"),
        coalesce(col("cur_c"), lit(0L)).as("cur_c"))
      .crossJoin(broadcast(edges))
      .withColumn("__bucket",
        size(filter(col("edges"), e => col("v") > e)).cast("long"))
      .drop("edges"))
    val inner = org.apache.spark.sql.expressions.Window
      .partitionBy("__bucket").orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = m
      .withColumn("in_ref", sum(col("ref_c")).over(inner))
      .withColumn("in_cur", sum(col("cur_c")).over(inner))
    // offsets: cumulative bucket totals over the O(buckets) table only
    val outer = org.apache.spark.sql.expressions.Window
      .orderBy("__bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = m.groupBy("__bucket")
      .agg(sum(col("ref_c")).as("bt_ref"), sum(col("cur_c")).as("bt_cur"))
      .select(col("__bucket"),
        coalesce(sum(col("bt_ref")).over(outer), lit(0L)).as("off_ref"),
        coalesce(sum(col("bt_cur")).over(outer), lit(0L)).as("off_cur"))
    // r18: side totals are exact sums over the pinned domain table (the
    // full-outer join keeps every distinct value of both sides) — replaces
    // two more full input scans; an AGGREGATE, not a whole-frame window,
    // because the domain table can be corpus-sized
    val totals = m.agg(sum(col("ref_c")).as("n_ref"), sum(col("cur_c")).as("n_cur"))
    // r18: PINNED — `gaps` feeds the max aggregate and the argmin join;
    // unpinned, the second consumer re-ran both prefix-sum windows
    val gaps = Materialize.pin(cum.join(broadcast(offsets), Seq("__bucket"))
      .crossJoin(broadcast(totals))
      .select(col("v"), col("n_ref"), col("n_cur"),
        abs((col("off_ref") + col("in_ref")) * col("n_cur") -
          (col("off_cur") + col("in_cur")) * col("n_ref")).as("gap")))
    val dMax = gaps.agg(max(col("gap")).as("d_num"))
    gaps.join(broadcast(dMax), col("gap") === col("d_num"))
      .groupBy(col("n_ref"), col("n_cur"), col("d_num"))
      .agg(min(col("v")).as("ks_at"))
      .withColumn("ks_micro",
        round((col("d_num") * lit(1000000.0)) / (col("n_ref") * col("n_cur")))
          .cast("long"))
      .select(col("n_ref"), col("n_cur"), col("d_num"), col("ks_at"),
        col("ks_micro"))
  }

  /** Join-key skew report + salting advice: the top-k heaviest values of
    * a prospective join/shuffle key, each with its exact count, its share
    * of the table in micro units, and the SALT FACTOR that would spread
    * that key evenly over `targetPartitions` — `max(1, ceil(cnt ·
    * targetPartitions / n))`, the number of sub-keys the
    * [[graft.operators]] salted-join family should use. The "is this key
    * safe to shuffle on at 100 TB" question as one bounded report:
    * share_micro near 1e6/targetPartitions or above means one partition
    * absorbs that whole key.
    *
    * DETERMINISM: counts are exact longs; share quantizes once
    * (`round((cnt · 1e6) / n)`); the salt factor is pure integer
    * ceiling-division (`(cnt · P + n − 1) div n`, positive operands so
    * truncation ≡ floor).
    *
    * Scale shape: one key reduce with map-side partials, the global top-k
    * is orderBy+limit (TakeOrderedAndProject — never a full sort and
    * never a global window over the distinct-key table, which can be
    * corpus-sized), and the 1-row total rides a broadcast crossJoin (the
    * LM-scorer shape) against only the k survivors.
    *
    * Returns (rank, <keyCol>, cnt, share_micro, salt_factor), rank 1..k
    * by (cnt desc, key asc). */
  def skewReport(
      df: DataFrame,
      keyCol: String,
      k: Int = 20,
      targetPartitions: Int = 200): DataFrame = {
    require(k >= 1, "k must be at least 1")
    require(targetPartitions >= 1, "targetPartitions must be at least 1")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col(keyCol).asc).limit(k)
    val tot = df.agg(count(lit(1)).as("n"))
    top.crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col(keyCol).asc)).cast("long"))
      .select(col("rank"), col(keyCol), col("cnt"),
        round((col("cnt") * lit(1e6)) / col("n")).cast("long").as("share_micro"),
        greatest(lit(1L),
          expr(s"(cnt * ${targetPartitions.toLong} + n - 1) div n"))
          .as("salt_factor"))
  }

  /** Profile-driven constraint SUGGESTION (the Deequ suggestion engine,
    * closing the loop: suggest → check → monitor): one exact profiling
    * aggregate over every column — null counts, distinct counts, numeric
    * min/max — then a BOUNDED second pass collecting the sorted value set
    * of only those string columns whose distinct count already proved
    * ≤ `maxSetSize` (the driver reads one profile row, O(columns)
    * metadata, before deciding; an unbounded collect_set never runs).
    *
    * Rules, applied per column:
    *  - no NULLs observed            → `not_null`
    *  - no NULLs and distinct = rows → `unique`
    *  - numeric with ≥ 1 value      → `in_range` [observed min, max]
    *  - string with 1..maxSetSize distinct values → `in_set`
    *
    * Numeric bounds stay TYPED doubles (never formatted into strings —
    * float rendering is engine-specific; parquet doubles compare
    * bit-exact). Profiling cost is the standard Deequ shape: the
    * multi-distinct aggregate expands the scan ~#columns-fold — a
    * deliberate one-off profiling pass, not a per-batch operator.
    *
    * Returns one row per suggestion, ordered (col_name, kind):
    * (col_name, kind, lo, hi, allowed, n_rows, n_nulls, n_distinct). */
  /** Referential-integrity check — the orphan detector behind every
    * star-schema load: child rows whose foreign key has no parent. NULL
    * foreign keys are counted separately (an unknown parent is a
    * different defect from a missing one, and SQL joins would silently
    * conflate them). The check is one distinct-key anti-join against the
    * parent's key projection (never the parent's payload) plus a child
    * key-count reduce — aggregated tables only; the top `sampleK`
    * offending keys by child-row count ride along so the report NAMES
    * the orphans instead of just counting them.
    *
    * Returns one row per orphaned key (top sampleK by n_child_rows desc,
    * key asc), each carrying the totals: (key, n_child_rows,
    * n_orphan_keys, n_orphan_rows, n_null_fk_rows, n_child_total, ok) —
    * and exactly ONE row with NULL key carrying only totals when no
    * orphans exist, so the verdict is never an empty frame. */
  def referentialIntegrity(
      child: DataFrame,
      fkCol: String,
      parent: DataFrame,
      pkCol: String,
      sampleK: Int = 10): DataFrame = {
    require(sampleK >= 1, "sampleK must be >= 1")
    val counts = child.filter(col(fkCol).isNotNull)
      .groupBy(col(fkCol).as("key")).agg(count(lit(1)).as("n_child_rows"))
    val orphans = counts.join(
      parent.select(col(pkCol).as("key")).distinct(), Seq("key"), "left_anti")
    val totals = orphans.agg(
        count(lit(1)).as("n_orphan_keys"),
        coalesce(sum(col("n_child_rows")), lit(0L)).as("n_orphan_rows"))
      .crossJoin(child.agg(
        sum(when(col(fkCol).isNull, 1L).otherwise(0L)).as("n_null_fk_rows"),
        count(lit(1)).as("n_child_total")))
      .select(col("n_orphan_keys"), col("n_orphan_rows"),
        coalesce(col("n_null_fk_rows"), lit(0L)).as("n_null_fk_rows"),
        col("n_child_total"))
      .withColumn("ok", col("n_orphan_keys") === 0L)
    val top = orphans
      .orderBy(col("n_child_rows").desc, col("key").asc)
      .limit(sampleK)
    val named = top.crossJoin(broadcast(totals))
    val empty = broadcast(totals)
      .filter(col("n_orphan_keys") === 0L)
      .select(lit(null).cast(counts.schema("key").dataType).as("key"),
        lit(null).cast("long").as("n_child_rows"),
        col("n_orphan_keys"), col("n_orphan_rows"), col("n_null_fk_rows"),
        col("n_child_total"), col("ok"))
    named.unionByName(empty)
  }

  /** Join pre-flight: the "will this join explode?" check a 100 TB
    * warehouse runs BEFORE an equi-join, from the two key histograms
    * alone — exact output cardinality (Σ_k cA(k)·cB(k)), matched-key
    * count, and the top-K contributing keys with per-side counts and
    * output shares, so a fan-out key is named before it takes down a
    * stage. Everything is exact integer arithmetic over AGGREGATED
    * tables: two key-count reduces, one join of the (far smaller)
    * histograms, a 1-row broadcast total, and a TakeOrderedAndProject
    * top-K — the payload rows never move. NULL keys never join and are
    * excluded. `amplification_micro` = round(out·1e6 / (nA + nB)) — the
    * blow-up factor relative to just scanning both inputs.
    *
    * Returns the top-K keys by contribution, each row also carrying the
    * join-wide totals: (key, n_left, n_right, contribution, share_micro,
    * est_output_rows, n_matched_keys, n_left_rows, n_right_rows,
    * amplification_micro). */
  def joinPreflight(
      left: DataFrame,
      leftKey: String,
      right: DataFrame,
      rightKey: String,
      topK: Int = 10): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val ca = left.filter(col(leftKey).isNotNull)
      .groupBy(col(leftKey).as("key")).agg(count(lit(1)).as("n_left"))
    val cb = right.filter(col(rightKey).isNotNull)
      .groupBy(col(rightKey).as("key")).agg(count(lit(1)).as("n_right"))
    val contrib = ca.join(cb, Seq("key"))
      .withColumn("contribution", col("n_left") * col("n_right"))
    val totals = contrib.agg(
        coalesce(sum(col("contribution")), lit(0L)).as("est_output_rows"),
        count(lit(1)).as("n_matched_keys"))
      .crossJoin(ca.agg(coalesce(sum(col("n_left")), lit(0L)).as("n_left_rows")))
      .crossJoin(cb.agg(coalesce(sum(col("n_right")), lit(0L)).as("n_right_rows")))
      .withColumn("amplification_micro",
        when(col("n_left_rows") + col("n_right_rows") === 0L, lit(0L)).otherwise(
          round((col("est_output_rows") * lit(1000000.0)) /
            (col("n_left_rows") + col("n_right_rows"))).cast("long")))
    contrib
      .orderBy(col("contribution").desc, col("key").asc)
      .limit(topK)
      .crossJoin(broadcast(totals))
      .withColumn("share_micro",
        when(col("est_output_rows") === 0L, lit(0L)).otherwise(
          round((col("contribution") * lit(1000000.0)) / col("est_output_rows"))
            .cast("long")))
      .select(col("key"), col("n_left"), col("n_right"), col("contribution"),
        col("share_micro"), col("est_output_rows"), col("n_matched_keys"),
        col("n_left_rows"), col("n_right_rows"), col("amplification_micro"))
  }

  /** Functional-dependency check over candidate (lhs → rhs) column pairs —
    * the "is this column determined by that one" question behind schema
    * normalization, join-key validation, and silent-denormalization-drift
    * alerts. Per candidate: exact group/violation counts plus the g3
    * repair cost (Kivinen & Mannila 1995) — the MINIMUM number of rows to
    * delete so the FD holds, `n_rows − Σ_g max_v count(g, v)` — and its
    * micro-quantized confidence. NULL lhs rows are excluded (an unknown
    * key determines nothing); NULL rhs counts as a value (two rhs values
    * NULL and 'x' under one lhs IS a violation).
    *
    * Scale shape: each candidate costs two key-bounded aggregates on ITS
    * OWN lhs key ((lhs, rhs) count → per-lhs rollup → 1-row totals), so
    * per-candidate cost is one shuffle of the candidate's group keys —
    * aggregated tables only after the first groupBy; candidates union at
    * the 1-row level. No candidate enumeration is attempted (p² blowup is
    * the caller's dial, as in Deequ's per-check model).
    *
    * Returns one row per candidate: (lhs, rhs, n_rows, n_groups,
    * n_violating_groups, g3_remove_rows, holds, confidence_micro). */
  def fdCheck(df: DataFrame, candidates: Seq[(String, String)]): DataFrame = {
    require(candidates.nonEmpty, "fdCheck needs at least one (lhs, rhs) pair")
    candidates.map { case (lhs, rhs) =>
      val counts = df.filter(col(lhs).isNotNull)
        .groupBy(col(lhs).as("__l"),
          // NULL rhs participates as a value: carry it through the count
          // grouping unchanged (groupBy groups NULLs together)
          col(rhs).as("__r"))
        .agg(count(lit(1)).as("__n"))
      val perGroup = counts.groupBy(col("__l"))
        .agg(sum(col("__n")).as("__rows"),
          max(col("__n")).as("__keep"),
          count(lit(1)).as("__variants"))
      perGroup.agg(
          sum(col("__rows")).as("n_rows"),
          count(lit(1)).as("n_groups"),
          sum(when(col("__variants") > 1, 1L).otherwise(0L)).as("n_violating_groups"),
          (sum(col("__rows")) - sum(col("__keep"))).as("g3_remove_rows"))
        .select(lit(lhs).as("lhs"), lit(rhs).as("rhs"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"),
          col("n_groups"),
          coalesce(col("n_violating_groups"), lit(0L)).as("n_violating_groups"),
          coalesce(col("g3_remove_rows"), lit(0L)).as("g3_remove_rows"))
        .withColumn("holds", col("n_violating_groups") === 0L)
        .withColumn("confidence_micro",
          when(col("n_rows") === 0L, lit(1000000L)).otherwise(
            round(((col("n_rows") - col("g3_remove_rows")) * lit(1000000.0)) /
              col("n_rows")).cast("long")))
    }.reduce(_ unionByName _)
  }

  def suggest(df: DataFrame, maxSetSize: Int = 10): DataFrame = {
    import org.apache.spark.sql.types.{NumericType, StringType}
    require(maxSetSize >= 1, "maxSetSize must be at least 1")
    // r18 scale-adaptive parallelism: the per-column countDistinct profile
    // plans through Expand — (columns+1) replicas of every row feed the
    // partial aggregate — and that map-side work runs at SCAN parallelism;
    // see [[spreadNarrowScan]]. Exact aggregates are
    // partitioning-invariant, so results are unchanged.
    val df2 = spreadNarrowScan(df)
    val fields = df.schema.fields.toSeq
    val aggs: Seq[Column] = count(lit(1)).as("__n") +: fields.flatMap { f =>
      Seq(
        sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"__nn_${f.name}"),
        countDistinct(col(f.name)).as(s"__nd_${f.name}")) ++
        (f.dataType match {
          case _: NumericType => Seq(
            min(col(f.name)).cast("double").as(s"__lo_${f.name}"),
            max(col(f.name)).cast("double").as(s"__hi_${f.name}"))
          case _ => Nil
        })
    }
    val prof = df2.agg(aggs.head, aggs.tail: _*).collect()(0)
    def g[T](name: String): T = prof.getAs[T](name)
    val nRows = g[Long]("__n")
    val setCols = fields.filter(f => f.dataType == StringType &&
      g[Long](s"__nd_${f.name}") >= 1 && g[Long](s"__nd_${f.name}") <= maxSetSize)
    val sets: Map[String, String] =
      if (setCols.isEmpty) Map.empty
      else {
        val setAggs = setCols.map(f =>
          concat_ws(",", array_sort(collect_set(col(f.name)))).as(f.name))
        val row = df2.agg(setAggs.head, setAggs.tail: _*).collect()(0)
        setCols.map(f => f.name -> row.getAs[String](f.name)).toMap
      }
    final case class Sug(col: String, kind: String, lo: Option[Double],
        hi: Option[Double], allowed: Option[String], nn: Long, nd: Long)
    val rows: Seq[Sug] = fields.flatMap { f =>
      val nn = g[Long](s"__nn_${f.name}")
      val nd = g[Long](s"__nd_${f.name}")
      val numeric = f.dataType.isInstanceOf[NumericType]
      val notNull: Seq[Sug] = if (nn == 0L)
        Seq(Sug(f.name, "not_null", None, None, None, nn, nd)) else Nil
      val unique: Seq[Sug] = if (nn == 0L && nd == nRows)
        Seq(Sug(f.name, "unique", None, None, None, nn, nd)) else Nil
      val range: Seq[Sug] = if (numeric && nRows - nn >= 1)
        Seq(Sug(f.name, "in_range", Option(g[Double](s"__lo_${f.name}")),
          Option(g[Double](s"__hi_${f.name}")), None, nn, nd))
      else Nil
      val inSet: Seq[Sug] = sets.get(f.name).map(v =>
        Sug(f.name, "in_set", None, None, Option(v), nn, nd)).toSeq
      notNull ++ unique ++ range ++ inSet
    }.sortBy(t => (t.col, t.kind))
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, StructField, DoubleType, LongType}
    val outSchema = StructType(Seq(
      StructField("col_name", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("lo", DoubleType, nullable = true),
      StructField("hi", DoubleType, nullable = true),
      StructField("allowed", StringType, nullable = true),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_nulls", LongType, nullable = false),
      StructField("n_distinct", LongType, nullable = false)))
    val out = rows.map(s => Row(s.col, s.kind, s.lo.orNull, s.hi.orNull,
      s.allowed.orNull, nRows, s.nn, s.nd))
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(out, 1), outSchema)
  }

  /** Benford expected first-digit shares, micro-quantized: round(log₁₀(1 +
    * 1/d) · 10⁶). The nine literals sum to exactly 1,000,000 — a
    * compile-time table both the engine and the declared-query oracle
    * interpolate from THIS constant, so the two cannot drift. */
  val BenfordExpectedMicro: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** Benford first-significant-digit audit — the classic fabricated-data
    * / synthetic-flood detector for amount-like columns (invoice totals,
    * transaction values, populations): natural multi-magnitude data puts
    * ~30.1% of first digits at 1, while generated or template data is
    * typically uniform-ish. One row per digit 1–9 with observed count,
    * observed and expected micro shares, and the signed deviation.
    *
    * DETERMINISM: the first significant digit is read from the value's
    * DECIMAL(38,2) rendering (exact, engine-stable formatting; widened
    * from the repo-wide DECIMAL(18,2) dsum convention because an audit
    * column can legitimately hold magnitudes ≥ 1e16, which overflow
    * (18,2) — silently dropping rows under default casting and throwing
    * under ANSI mode; (38,2) holds |v| < 1e36, beyond any amount-like
    * double's exact range) with every non-[1-9] character stripped —
    * so sign, leading zeros and the point drop out and sub-0.005 values
    * (which round to 0.00) are excluded along with zeros and NULLs.
    * `obs_micro` quantizes once; `exp_micro` is the
    * [[BenfordExpectedMicro]] literal table.
    *
    * Scale shape: one row-local digit projection, one 9-key reduce with
    * map-side partials, the 1-row total on a broadcast crossJoin, grid
    * join over 9 rows. Returns (digit, n, obs_micro, exp_micro,
    * dev_micro) ordered by digit. */
  def benfordCheck(df: DataFrame, valueCol: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val counts = df
      .filter(col(valueCol).isNotNull)
      .select(regexp_replace(
        col(valueCol).cast(org.apache.spark.sql.types.DecimalType(38, 2))
          .cast("string"), "[^1-9]", "").as("__sig"))
      .filter(col("__sig") =!= "")
      .select(substring(col("__sig"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val grid = BenfordExpectedMicro.toDF("digit", "exp_micro")
    val total = counts.agg(sum(col("n")).as("__t"))
    grid.join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"), col("exp_micro"))
      .crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        when(col("__t") > 0L,
          round(col("n") * lit(1000000.0) / col("__t")).cast("long"))
          .otherwise(lit(0L)).as("obs_micro"),
        col("exp_micro"))
      .withColumn("dev_micro", col("obs_micro") - col("exp_micro"))
      .orderBy("digit")
  }
}
