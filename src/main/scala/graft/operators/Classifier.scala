package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained quality classification (SURVEY.md §2.3 extensions): logistic
  * regression over md5-hashed bag-of-words features — the fastText-style
  * "good-reference-corpus vs crawl" quality filter every public LLM data
  * recipe trains (GPT-3's WebText-vs-crawl LR filter, LLaMA's wiki-ref
  * classifier, DCLM's fastText gate), expressed as pure DataFrame algebra.
  *
  * DETERMINISM (the repo-wide micro-unit discipline): weights and bias
  * live in integer MICRO units; each iteration quantizes the sigmoid ONCE
  * per document (`round(·1e6)`, the micro-nat convention proven stable
  * across engines), then every gradient reduce is an integer sum and the
  * weight update is a SHIFTED integer division — (x + shift) div d − k
  * with a provably non-negative numerator, so Spark's truncating `div`
  * and ANSI floor division agree and the whole training loop unrolls into
  * exact SQL CTEs. No floating accumulation anywhere.
  *
  * Scale shape: per iteration, one feature-keyed join + doc-keyed reduce
  * (margins), one doc-keyed join + feature-keyed reduce (gradients) —
  * all shuffles bounded by corpus feature occurrences; the model
  * (≤ dim+1 rows) and corpus size ride 1-row/broadcast joins, never a
  * driver collect; each round is checkpointed so plan depth stays O(1).
  */
object Classifier {

  /** Bias pseudo-feature id in the model table. */
  val BiasFeature: Long = -1L

  /** md5-hashed feature index in [0, dim) — engine-portable (the
    * splitByHash pattern): first 8 md5 hex digits as an integer, mod dim. */
  private def featureIdx(term: Column, dim: Int): Column =
    pmod(conv(substring(md5(term.cast("binary")), 1, 8), 16, 10).cast("long"), lit(dim.toLong))

  /** Distinct (id, f) presence features of each document (binary
    * bag-of-words under the hashing trick; set semantics, the fastText
    * simplification). */
  private def features(docs: DataFrame, idCol: String, textCol: String, dim: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(split(coalesce(col(textCol), lit("")), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .select(col("id"), featureIdx(col("term"), dim).as("f"))
      .distinct()

  /** Micro-quantized sigmoid of an integer micro margin — the ONE float
    * step per (iteration, document), mirrored verbatim in the oracle. */
  private def pMicro(marginMicro: Column): Column =
    round(lit(1e6) / (lit(1.0) + exp(-(marginMicro.cast("double")) / lit(1e6)))).cast("long")

  /** Floor-safe scaled update: ((lr·((G + n·10⁶) div n)) div 10⁶) − lr,
    * algebraically lr·(G/n) with both divisions running on NON-NEGATIVE
    * numerators (G ≥ −n·10⁶ by construction), so truncation ≡ floor and
    * Spark/ANSI agree on every negative gradient. */
  private def updateExpr(lrMicro: Long): Column =
    expr(s"((${lrMicro}L * ((g + n * 1000000L) div n)) div 1000000L) - ${lrMicro}L")

  /** Train a logistic-regression quality model on labeled documents
    * (`labelCol` ∈ {0, 1}; NULL-labeled rows are dropped). Returns the
    * model as (f, w_micro) with the bias at f = [[BiasFeature]] — exactly
    * `iters` full-batch gradient steps from the zero model at learning
    * rate lrMicro/10⁶. Every feature occurring in the corpus has a row
    * after the first iteration (its gradient sums at least one err); with
    * no labeled row the model is empty (the all-zero model). */
  def trainLogistic(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      dim: Int = 256,
      iters: Int = 2,
      lrMicro: Long = 500000L): DataFrame = {
    require(dim >= 2 && dim <= (1 << 24), "dim must be in [2, 2^24]")
    require(iters >= 1 && iters <= 50, "iters must be in [1, 50]")
    require(lrMicro >= 1 && lrMicro <= 10000000L, "lrMicro must be in [1, 10^7]")
    val base = docs
      .select(col(idCol).as("id"), coalesce(col(textCol), lit("")).as("__t"),
        col(labelCol).cast("long").as("y"))
      .filter(col("y").isNotNull)
    Materialize.rounds(docs.sparkSession) { rounds =>
      val feats = rounds.invariant(features(base, "id", "__t", dim))
      val labels = rounds.invariant(base.select("id", "y"))
      // no labeled row: no gradient step, so the model stays empty
      val nRow = labels.agg(count(lit(1)).as("n")).filter(col("n") > 0)
      // model rows: (f, w_micro); bias at f = -1; starts EMPTY ≡ all-zero
      var model = rounds.next(labels.sparkSession.createDataFrame(
        labels.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("f", org.apache.spark.sql.types.LongType, false),
          org.apache.spark.sql.types.StructField("w_micro", org.apache.spark.sql.types.LongType, false)))))
      for (_ <- 1 to iters) {
        val errs = marginsOf(labels, feats, model)
          .select(col("id"), (pMicro(col("margin_micro")) - col("y") * lit(1000000L)).as("err"))
        val featGrad = feats.join(errs, Seq("id"))
          .groupBy("f").agg(sum(col("err")).as("g"))
        val biasGrad = errs.agg(sum(col("err")).as("g"))
          .select(lit(BiasFeature).as("f"), coalesce(col("g"), lit(0L)).as("g"))
        val grads = featGrad.unionByName(biasGrad)
          .crossJoin(broadcast(nRow))
          .select(col("f"), updateExpr(lrMicro).as("upd"))
        model = rounds.next(
          model.join(grads, Seq("f"), "full_outer")
            .select(col("f"),
              (coalesce(col("w_micro"), lit(0L)) - coalesce(col("upd"), lit(0L))).as("w_micro")))
      }
      rounds.keep()
    }
  }

  /** Integer micro margins of every document under a model: Σ w over the
    * doc's present features, plus bias — docs with no known features get
    * the bias alone. */
  private def marginsOf(ids: DataFrame, feats: DataFrame, model: DataFrame): DataFrame = {
    val w = model.filter(col("f") =!= BiasFeature)
    val bias = model.filter(col("f") === BiasFeature)
      .agg(coalesce(sum(col("w_micro")), lit(0L)).as("b"))
    val mw = feats.join(w, Seq("f"), "left")
      .groupBy("id").agg(sum(coalesce(col("w_micro"), lit(0L))).as("mw"))
    ids.join(mw, Seq("id"), "left")
      .crossJoin(broadcast(bias))
      .withColumn("margin_micro", coalesce(col("mw"), lit(0L)) + col("b"))
  }

  /** Score documents under a trained model. Returns one row per doc:
    * (id, margin_micro, score_micro, pred) — score is the micro-quantized
    * sigmoid, pred = score_micro > 500000 (a zero margin scores exactly
    * 500000 and predicts 0). */
  /** Calibration report over scored+labeled rows — the "is a 0.9 really a
    * 90%?" question every score-thresholding pipeline should ask before
    * trusting a cut-off (Guo et al. 2017's ECE, integer-quantized):
    * scores (micro units, [0, 1e6]) bucket into `bins` equal-width bins;
    * per bin the mean claimed confidence, the observed positive rate,
    * and the absolute gap; ECE = Σ gap·n/N rides every row as a 1-row
    * broadcast (the totals convention). All arithmetic is integer or one
    * fixed-parenthesization micro division — exactly re-derivable.
    * NULL scores/labels are excluded (no evidence either way). Bin edge
    * convention: bin = min(bins−1, score·bins div 1e6).
    *
    * Returns one row per POPULATED bin: (bin, n, mean_score_micro,
    * pos_rate_micro, gap_micro, ece_micro). */
  def calibrationReport(
      scored: DataFrame,
      labelCol: String,
      scoreMicroCol: String = "score_micro",
      bins: Int = 10): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    val rows = scored
      .filter(col(scoreMicroCol).isNotNull && col(labelCol).isNotNull)
      .select(
        // out-of-contract scores clamp into the edge bins rather than
        // minting negative/overflowing bin labels
        expr(s"greatest(0L, least(cast(${bins - 1} as bigint), " +
          s"(cast(`$scoreMicroCol` as bigint) * $bins) div 1000000L))").as("bin"),
        col(scoreMicroCol).cast("long").as("__s"),
        col(labelCol).cast("long").as("__y"))
    val perBin = rows.groupBy(col("bin")).agg(
        count(lit(1)).as("n"),
        sum(col("__s")).as("__ssum"),
        sum(col("__y")).as("__pos"))
      .withColumn("mean_score_micro", expr("__ssum div n"))
      .withColumn("pos_rate_micro", expr("(__pos * 1000000L) div n"))
      .withColumn("gap_micro",
        abs(col("mean_score_micro") - col("pos_rate_micro")))
    val ece = perBin.agg(
      expr("coalesce(sum(gap_micro * n), 0L) div greatest(sum(n), 1L)")
        .as("ece_micro"))
    perBin.crossJoin(broadcast(ece))
      .select(col("bin"), col("n"), col("mean_score_micro"),
        col("pos_rate_micro"), col("gap_micro"), col("ece_micro"))
  }

  def scoreLogistic(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: DataFrame,
      dim: Int = 256): DataFrame = {
    val base = docs.select(col(idCol).as("id"), coalesce(col(textCol), lit("")).as("__t"))
    val feats = features(base, "id", "__t", dim)
    marginsOf(base.select("id"), feats, model)
      .withColumn("score_micro", pMicro(col("margin_micro")))
      .select(col("id"), col("margin_micro"),
        col("score_micro"),
        (col("score_micro") > lit(500000L)).cast("long").as("pred"))
  }
}
