package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.MetaFrame
import graft.functions.TextFunctions

/** Metadata-aware entry points for the pipeline extensions (SURVEY.md §2.3:
  * every extension records provenance into `metadata` and sets
  * `primary_key` where uniqueness results). Import `PipelineSyntax._` and
  * call the operators directly on a MetaFrame — results stay inside the
  * metadata layer with a `lineage` entry describing the derivation. */
object PipelineSyntax {

  /** How a verb's output key follows from its inputs. Each verb declares
    * one rule; [[derived]] alone resolves it, and the proof is always
    * MetaFrame's own `uniqueOn`. */
  private sealed trait KeyRule
  /** Unique by construction (a groupBy, a rank window, a distinct-node or
    * TopK contract): `cols` is claimed and proven. */
  private final case class Unique(cols: String*) extends KeyRule
  /** Row subset or row-preserving: the parent's key and proof carry over. */
  private case object SameAsParent extends KeyRule
  /** One output row (or one ranked run) per input row: `cols` is the key
    * only when every input is keyed by its id column, proven when each is
    * proven on it. */
  private final case class PerRow(cols: Seq[String], inputs: (MetaFrame, String)*)
      extends KeyRule
  /** `cols` is always claimed but proven only when every named input is
    * proven on its id column (duplicate input ids repeat output keys);
    * with no input named it is never proven. */
  private final case class Claimed(cols: Seq[String], inputs: (MetaFrame, String)*)
      extends KeyRule
  /** No uniqueness: the parent's key is removed. */
  private case object NoKey extends KeyRule

  private def derived(parent: MetaFrame, df: DataFrame, op: String,
      params: Map[String, Any], key: KeyRule): MetaFrame = {
    val step = Map("op" -> op, "params" -> params)
    val lineage = parent.metadata.get("lineage") match {
      case Some(prev: Seq[_]) => prev :+ step
      case _ => Seq(step)
    }
    def keyedBy(inputs: Seq[(MetaFrame, String)]) =
      inputs.forall { case (in, id) => in.primaryKey.contains(Seq(id)) }
    def provenBy(inputs: Seq[(MetaFrame, String)]) =
      inputs.nonEmpty && inputs.forall { case (in, id) => in.uniqueOn(Seq(id)) }
    val (pk, proven) = key match {
      case Unique(cols @ _*) => (Some(cols), true)
      case SameAsParent => (parent.primaryKey, parent.primaryKey.exists(parent.uniqueOn))
      case PerRow(cols, inputs @ _*) if keyedBy(inputs) => (Some(cols), provenBy(inputs))
      case Claimed(cols, inputs @ _*) => (Some(cols), provenBy(inputs))
      case _ => (None, false)
    }
    MetaFrame.keyed(df, parent.metadata + ("lineage" -> lineage), pk, proven)
  }

  implicit final class PipelineMetaFrame(private val mf: MetaFrame) extends AnyVal {

    /** Exact dedup: result is unique on content_hash (pk set + verified). */
    def dedupExact(idCol: String, contentCol: String): MetaFrame =
      derived(mf, Dedup.exact(mf.df, idCol, contentCol),
        "dedup_exact", Map("id" -> idCol, "content" -> contentCol),
        Unique("content_hash"))

    /** [[dedupExact]] over the canonical rendering (Unicode NFC + casefold
      * + whitespace collapse) — same pk contract on the normalized hash. */
    def dedupExactNormalized(idCol: String, contentCol: String): MetaFrame =
      derived(mf, Dedup.exactNormalized(mf.df, idCol, contentCol),
        "dedup_exact_normalized", Map("id" -> idCol, "content" -> contentCol),
        Unique("content_hash"))

    /** MinHash+LSH clusters: one row per input id (pk set + verified). */
    def dedupMinHash(
        idCol: String, textCol: String,
        numHashes: Int = 32, bands: Int = 8, shingleWidth: Int = 3): MetaFrame =
      derived(mf, Dedup.minHashLsh(mf.df, idCol, textCol, numHashes, bands, shingleWidth),
        "dedup_minhash_lsh",
        Map("id" -> idCol, "text" -> textCol, "numHashes" -> numHashes,
            "bands" -> bands, "shingleWidth" -> shingleWidth),
        Unique(idCol))

    /** PassJoin edit-distance pairs within the frame (exact recall +
      * precision — every emitted pair confirmed by `levenshtein`); one row
      * per unordered id pair, so (id_a, id_b) is the pk, proven when the
      * parent is proven on `idCol`. */
    def fuzzyEditPairs(idCol: String, strCol: String, maxDist: Int): MetaFrame =
      derived(mf, FuzzyJoin.editDistancePairs(mf.df, idCol, strCol, maxDist),
        "fuzzy_edit_pairs",
        Map("id" -> idCol, "str" -> strCol, "maxDist" -> maxDist),
        Claimed(Seq("id_a", "id_b"), mf -> idCol))

    /** PassJoin record linkage against `other`: every (left, right) pair
      * within `maxDist` — one row per cross-table id pair, proven when
      * both sides are proven on their id columns. */
    def fuzzyEditJoin(
        idCol: String, strCol: String,
        other: MetaFrame, otherIdCol: String, otherStrCol: String,
        maxDist: Int): MetaFrame =
      derived(mf,
        FuzzyJoin.editDistanceJoin(mf.df, idCol, strCol,
          other.df, otherIdCol, otherStrCol, maxDist),
        "fuzzy_edit_join",
        Map("id" -> idCol, "str" -> strCol, "otherId" -> otherIdCol,
            "otherStr" -> otherStrCol, "maxDist" -> maxDist),
        Claimed(Seq("id_a", "id_b"), mf -> idCol, other -> otherIdCol))

    /** Item co-occurrence mining over (basket, item) rows: one row per
      * surviving unordered item pair, so (item_a, item_b) is the pk. */
    def coOccurrenceOf(basketCol: String, itemCol: String,
        minPairCount: Long = 2L, maxBasketSize: Int = 100): MetaFrame =
      derived(mf,
        Graph.coOccurrence(mf.df, basketCol, itemCol, minPairCount, maxBasketSize),
        "co_occurrence",
        Map("basket" -> basketCol, "item" -> itemCol,
            "minPairCount" -> minPairCount, "maxBasketSize" -> maxBasketSize),
        Unique("item_a", "item_b"))

    /** CDC change application: this frame is the BASE snapshot; `changes`
      * is the feed. One row per surviving id, base schema preserved, so
      * the id pk survives verified-if-it-was (latest-wins yields at most
      * one row per id, base rows were unique iff they were). */
    def changesApplied(changes: MetaFrame, idCol: String, opCol: String,
        tsCol: String): MetaFrame =
      derived(mf,
        Corpus.applyChanges(mf.df, changes.df, idCol, opCol, tsCol),
        "apply_changes",
        Map("id" -> idCol, "op" -> opCol, "ts" -> tsCol),
        Claimed(Seq(idCol), mf -> idCol))

    /** Cross-source quantile normalization of `scoreCol` within
      * `groupCol`: one row per input row keyed by `id`. */
    def quantileNormalizedBy(groupCol: String, idCol: String, scoreCol: String,
        binWidthMicro: Long = 1000L): MetaFrame =
      derived(mf,
        Corpus.quantileNormalizeBy(mf.df, groupCol, idCol, scoreCol, binWidthMicro),
        "quantile_normalize",
        Map("group" -> groupCol, "id" -> idCol, "score" -> scoreCol,
            "binWidthMicro" -> binWidthMicro),
        Claimed(Seq("id"), mf -> idCol))

    /** Dense per-key daily resample with explicit zero fill: one row per
      * (key, day) in each key's observed range. */
    def resampledDaily(keyCol: String, tsCol: String): MetaFrame =
      derived(mf, Events.resampleDaily(mf.df, keyCol, tsCol),
        "resample_daily",
        Map("key" -> keyCol, "ts" -> tsCol),
        Unique("key", "day"))

    /** Seasonal (same-weekday) daily volume anomalies over the frame's
      * events: one row per (event_type, day). */
    def anomaliesSeasonal(tsCol: String, typeCol: String, window: Int = 4,
        minPrior: Int = 3, thresholdMicro: Long = 3000000L): MetaFrame =
      derived(mf,
        Events.dailyAnomaliesSeasonal(mf.df, tsCol, typeCol, window, minPrior,
          thresholdMicro),
        "anomaly_seasonal",
        Map("ts" -> tsCol, "type" -> typeCol, "window" -> window,
            "minPrior" -> minPrior, "thresholdMicro" -> thresholdMicro),
        Unique("event_type", "day"))

    /** Calibration report (ECE) over scored+labeled rows: one row per
      * populated bin. */
    def calibrationReported(labelCol: String,
        scoreMicroCol: String = "score_micro", bins: Int = 10): MetaFrame =
      derived(mf,
        Classifier.calibrationReport(mf.df, labelCol, scoreMicroCol, bins),
        "calibration_report",
        Map("label" -> labelCol, "score" -> scoreMicroCol, "bins" -> bins),
        Unique("bin"))

    /** Referential-integrity check of this frame's `fkCol` against
      * `parent`'s `pkCol`: named orphan keys + totals (no pk — the clean
      * case emits a NULL-key totals row). */
    def refIntegrityAgainst(fkCol: String, parent: MetaFrame, pkCol: String,
        sampleK: Int = 10): MetaFrame =
      derived(mf,
        Checks.referentialIntegrity(mf.df, fkCol, parent.df, pkCol, sampleK),
        "ref_integrity",
        Map("fk" -> fkCol, "pk" -> pkCol, "sampleK" -> sampleK),
        NoKey)

    /** Join pre-flight against `right`: top-K contributing keys + totals;
      * each surviving key appears once, so `key` is the pk. */
    def joinPreflightWith(leftKey: String, right: MetaFrame, rightKey: String,
        topK: Int = 10): MetaFrame =
      derived(mf,
        Checks.joinPreflight(mf.df, leftKey, right.df, rightKey, topK),
        "join_preflight",
        Map("leftKey" -> leftKey, "rightKey" -> rightKey, "topK" -> topK),
        Unique("key"))

    /** Functional-dependency check over candidate column pairs: one row
      * per candidate, so (lhs, rhs) is the pk. */
    def fdChecked(candidates: Seq[(String, String)]): MetaFrame =
      derived(mf, Checks.fdCheck(mf.df, candidates),
        "fd_check",
        Map("candidates" -> candidates.map { case (l, r) => s"$l->$r" }.mkString(",")),
        Unique("lhs", "rhs"))

    /** Related-items top-k index over the frame's co-occurrence pairs:
      * one row per (item, rank). */
    def relatedItemsIndexed(k: Int = 10): MetaFrame =
      derived(mf, Graph.relatedItemsIndex(mf.df, k),
        "related_items_index",
        Map("k" -> k),
        Unique("item", "rank"))

    /** Per-node triangle counts + clustering over the frame's edge list:
      * one row per node, so `id` is the pk. */
    def trianglesOf(srcCol: String, dstCol: String): MetaFrame =
      derived(mf, Graph.triangles(mf.df, srcCol, dstCol),
        "triangles",
        Map("src" -> srcCol, "dst" -> dstCol),
        Unique("id"))

    /** Z-order (Morton) layout rewrite: range-partition + in-partition
      * sort on the interleaved bucket bits of `cols`, so parquet min/max
      * stats prune on every listed column at once. Row-preserving (the
      * z column is internal), so the parent pk survives. */
    def zordered(cols: Seq[String], numPartitions: Int,
        bitsPerCol: Int = 8): MetaFrame =
      derived(mf, Layout.cluster(mf.df, cols, numPartitions, bitsPerCol),
        "zorder_cluster",
        Map("cols" -> cols.mkString(","), "numPartitions" -> numPartitions,
            "bitsPerCol" -> bitsPerCol),
        SameAsParent)

    /** One-call entity resolution (fuzzy pairs → components → canonical
      * election): one output row per input row, so the id is the pk,
      * proven when the parent is proven on it. */
    def entityResolved(idCol: String, strCol: String, maxDist: Int,
        scoreCol: Option[String] = None): MetaFrame =
      derived(mf,
        FuzzyJoin.entityResolve(mf.df, idCol, strCol, maxDist, scoreCol),
        "entity_resolve",
        Map("id" -> idCol, "str" -> strCol, "maxDist" -> maxDist,
            "score" -> scoreCol.getOrElse("")),
        Claimed(Seq(idCol), mf -> idCol))

    /** SimHash near-dup pairs (no uniqueness guarantee → no pk). */
    def dedupSimHashPairs(idCol: String, textCol: String, maxHamming: Int = 8): MetaFrame =
      derived(mf, Dedup.simhashNearDup(mf.df, idCol, textCol, maxHamming),
        "dedup_simhash_pairs",
        Map("id" -> idCol, "text" -> textCol, "maxHamming" -> maxHamming),
        NoKey)

    /** As-of backward join (provenance recorded; join can't fan out left
      * rows — one match max per left row — but unmatched tolerance nulls
      * keep row count equal, so parent pk survives verified-if-it-was). */
    def asOfJoinBackward(
        right: MetaFrame, keyCol: String, leftTsCol: String, rightTsCol: String,
        payloadCols: Seq[String], tolerance: Option[Long] = None): MetaFrame =
      derived(mf,
        AsOfJoin.backward(mf.df, right.df, keyCol, leftTsCol, rightTsCol, payloadCols, tolerance),
        "join_asof_backward",
        Map("key" -> keyCol, "leftTs" -> leftTsCol, "rightTs" -> rightTsCol,
            "payloads" -> payloadCols),
        SameAsParent)

    /** Binned range join against an interval table (no uniqueness → no pk). */
    def rangeJoinPointInInterval(
        intervals: MetaFrame, pointCol: String, loCol: String, hiCol: String,
        binWidth: Double): MetaFrame =
      derived(mf,
        RangeJoin.pointInInterval(mf.df, pointCol, intervals.df, loCol, hiCol, binWidth),
        "join_range_binned",
        Map("point" -> pointCol, "lo" -> loCol, "hi" -> hiCol, "binWidth" -> binWidth),
        NoKey)

    /** Incremental near-dedup of THIS frame (the new batch) against an
      * existing corpus: one row per batch row, keyed by `id` (proven when
      * the batch is proven on `idCol`); the corpus never self-joins. */
    def dedupIncremental(
        corpus: MetaFrame, idCol: String, textCol: String,
        numHashes: Int = 32, bands: Int = 8, shingleWidth: Int = 3,
        minJaccard: Double = 0.8): MetaFrame =
      derived(mf,
        Dedup.incrementalNearDup(corpus.df, mf.df, idCol, textCol,
          numHashes, bands, shingleWidth, minJaccard),
        "dedup_incremental",
        Map("id" -> idCol, "text" -> textCol, "numHashes" -> numHashes,
            "bands" -> bands, "shingleWidth" -> shingleWidth, "minJaccard" -> minJaccard),
        Claimed(Seq("id"), mf -> idCol))

    /** Deterministic hash split: row-preserving column add, so parent pk
      * survives (verified-if-it-was). */
    def splitByHash(
        idCol: String, salt: String, trainPct: Int = 80, valPct: Int = 10): MetaFrame =
      derived(mf, Corpus.hashSplit(mf.df, idCol, salt, trainPct, valPct),
        "split_hash",
        Map("id" -> idCol, "salt" -> salt, "trainPct" -> trainPct, "valPct" -> valPct),
        SameAsParent)

    /** Leakage-safe split: hashSplit keyed on the near-dup component from
      * `pairs`, so near-duplicates never straddle a train/eval boundary.
      * Row-preserving column adds, so parent pk survives. */
    def splitLeakageSafe(
        idCol: String, pairs: MetaFrame, idACol: String, idBCol: String,
        salt: String, trainPct: Int = 80, valPct: Int = 10): MetaFrame =
      derived(mf,
        Corpus.leakageSafeSplit(mf.df, idCol, pairs.df, idACol, idBCol,
          salt, trainPct, valPct),
        "split_leakage_safe",
        Map("id" -> idCol, "salt" -> salt, "trainPct" -> trainPct,
            "valPct" -> valPct),
        SameAsParent)

    /** Benchmark decontamination of THIS frame against an eval suite: one
      * row per corpus ROW, so the output is keyed by `id` only when the
      * parent was keyed by `idCol` — the pk claim (and its proof) carries
      * over exactly when the parent held it. */
    def decontaminateAgainst(
        benchmark: MetaFrame, idCol: String, textCol: String,
        shingleWidth: Int = 3, minShared: Long = 1L): MetaFrame =
      derived(mf,
        Corpus.decontaminate(mf.df, benchmark.df, idCol, textCol, shingleWidth, minShared),
        "decontaminate",
        Map("id" -> idCol, "text" -> textCol, "shingleWidth" -> shingleWidth,
            "minShared" -> minShared),
        PerRow(Seq("id"), mf -> idCol))

    /** Deterministic exact-size stratified sample: row SUBSET plus a
      * sample_rank column, so parent pk survives (verified-if-it-was). */
    def stratifiedSampleBy(
        stratumCol: String, idCol: String, salt: String, k: Int): MetaFrame =
      derived(mf, Corpus.stratifiedSample(mf.df, stratumCol, idCol, salt, k),
        "stratified_sample",
        Map("stratum" -> stratumCol, "id" -> idCol, "salt" -> salt, "k" -> k),
        SameAsParent)

    /** PMI collocation mining: rank is unique by the re-rank window. */
    def pmiCollocationsOf(textCol: String, minCount: Long = 5L,
        k: Int = 50): MetaFrame =
      derived(mf, Corpus.pmiCollocations(mf.df, textCol, minCount, k),
        "pmi_collocations",
        Map("text" -> textCol, "minCount" -> minCount, "k" -> k),
        Unique("rank"))

    /** Deterministic weighted sample without replacement (A-ES): rank is
      * unique by the re-rank window over the k survivors. */
    def weightedSampleOf(idCol: String, weightCol: String, k: Int,
        salt: String): MetaFrame =
      derived(mf, Corpus.weightedSample(mf.df, idCol, weightCol, k, salt),
        "weighted_sample",
        Map("id" -> idCol, "weight" -> weightCol, "k" -> k, "salt" -> salt),
        Unique("rank"))

    /** Per-group weighted sample: (stratum, rank) unique by the per-group
      * window. */
    def weightedSampleByOf(stratumCol: String, idCol: String,
        weightCol: String, kPerGroup: Int, salt: String): MetaFrame =
      derived(mf,
        Corpus.weightedSampleBy(mf.df, stratumCol, idCol, weightCol,
          kPerGroup, salt),
        "weighted_sample_by",
        Map("stratum" -> stratumCol, "id" -> idCol, "weight" -> weightCol,
            "kPerGroup" -> kPerGroup, "salt" -> salt),
        Unique(stratumCol, "rank"))

    /** [[qualityGate]] against a FROZEN pre-trained count table (e.g. a
      * `MetaPersist.readModel` artifact) — the stable ingestion bar. Same
      * output shape and pk semantics as [[qualityGate]]. */
    def qualityGateAgainst(
        counts: MetaFrame, idCol: String, textCol: String,
        minTokens: Long = 1L, maxTokens: Long = Long.MaxValue,
        maxTopNgramFrac: Double = 1.0, maxDupNgramFrac: Double = 1.0,
        maxAvgNll: Double = Double.MaxValue,
        ngram: Int = 2, addK: Double = 1.0): MetaFrame =
      derived(mf,
        Corpus.qualityGateAgainst(mf.df, counts.df, idCol, textCol, minTokens,
          maxTokens, maxTopNgramFrac, maxDupNgramFrac, maxAvgNll, ngram, addK),
        "quality_gate_frozen",
        Map("id" -> idCol, "text" -> textCol, "minTokens" -> minTokens,
            "maxTokens" -> maxTokens, "maxTopNgramFrac" -> maxTopNgramFrac,
            "maxDupNgramFrac" -> maxDupNgramFrac, "maxAvgNll" -> maxAvgNll,
            "ngram" -> ngram, "addK" -> addK),
        PerRow(Seq("id"), mf -> idCol))

    /** The ingestion micro-batch pipeline
      * ([[graft.streaming.Ingest.assembleMicroBatch]]) metadata-aware: one
      * audit row per input doc (pk follows the parent's id key). */
    def assembleIngestBatch(
        corpus: MetaFrame, benchmark: MetaFrame, lmCounts: MetaFrame,
        idCol: String, textCol: String, sourceCol: String, langCol: String,
        minTokens: Long = 1L, maxTokens: Long = Long.MaxValue,
        maxTopNgramFrac: Double = 1.0, maxDupNgramFrac: Double = 1.0,
        maxAvgNll: Double = Double.MaxValue,
        minJaccard: Double = 0.8, shingleWidth: Int = 3, minShared: Long = 1L,
        salt: String = "graft", trainPct: Int = 80, valPct: Int = 10): MetaFrame =
      derived(mf,
        graft.streaming.Ingest.assembleMicroBatch(mf.df, corpus.df, benchmark.df,
          lmCounts.df, idCol, textCol, sourceCol, langCol, minTokens, maxTokens,
          maxTopNgramFrac, maxDupNgramFrac, maxAvgNll, minJaccard, shingleWidth,
          minShared, salt, trainPct, valPct),
        "ingest_batch",
        Map("id" -> idCol, "text" -> textCol, "source" -> sourceCol,
            "lang" -> langCol, "minTokens" -> minTokens, "maxTokens" -> maxTokens,
            "maxTopNgramFrac" -> maxTopNgramFrac, "maxDupNgramFrac" -> maxDupNgramFrac,
            "maxAvgNll" -> maxAvgNll, "minJaccard" -> minJaccard,
            "shingleWidth" -> shingleWidth, "minShared" -> minShared,
            "salt" -> salt, "trainPct" -> trainPct, "valPct" -> valPct),
        PerRow(Seq("id"), mf -> idCol))

    /** Corpus version diff against a newer version: one row per id in
      * either version (pk = id when both versions are keyed by it — the
      * full-outer join keys uniquely by id when both parents do). */
    def diffAgainst(newer: MetaFrame, idCol: String, contentCol: String): MetaFrame =
      derived(mf, Corpus.corpusDiff(mf.df, newer.df, idCol, contentCol),
        "corpus_diff", Map("id" -> idCol, "content" -> contentCol),
        PerRow(Seq("id"), mf -> idCol, newer -> idCol))

    /** Deterministic corpus mixing: row SUBSET plus bucket/retain_pct
      * columns, so parent pk survives (verified-if-it-was). */
    def mixByHash(
        idCol: String, sourceCol: String, salt: String,
        weights: Map[String, Int], defaultPct: Int = 100): MetaFrame =
      derived(mf, Corpus.mixSources(mf.df, idCol, sourceCol, salt, weights, defaultPct),
        "corpus_mix",
        Map("id" -> idCol, "source" -> sourceCol, "salt" -> salt,
            "weights" -> weights, "defaultPct" -> defaultPct),
        SameAsParent)

    /** Intra-doc repetition signals: one row per corpus ROW (same pk rule
      * as [[decontaminateAgainst]] — keyed by `id` exactly when the parent
      * was keyed by `idCol`). */
    def repetitionStats(idCol: String, textCol: String, n: Int = 2): MetaFrame =
      derived(mf, Corpus.repetitionStats(mf.df, idCol, textCol, n),
        "repetition_stats",
        Map("id" -> idCol, "text" -> textCol, "n" -> n),
        PerRow(Seq("id"), mf -> idCol))

    /** Cross-corpus repeated-block removal: one row per corpus ROW (pk rule
      * as above). */
    def dropRepeatedBlocks(
        idCol: String, textCol: String,
        blockTokens: Int = 3, maxOccurrences: Int = 1): MetaFrame =
      derived(mf, Corpus.dropRepeatedBlocks(mf.df, idCol, textCol, blockTokens, maxOccurrences),
        "drop_repeated_blocks",
        Map("id" -> idCol, "text" -> textCol, "blockTokens" -> blockTokens,
            "maxOccurrences" -> maxOccurrences),
        PerRow(Seq("id"), mf -> idCol))

    /** Corpus-trained unigram LM quality score: one row per corpus ROW (pk
      * rule as [[decontaminateAgainst]] — keyed by `id` exactly when the
      * parent was keyed by `idCol`). */
    def lmScore(idCol: String, textCol: String, addK: Double = 1.0): MetaFrame =
      derived(mf, Corpus.lmScore(mf.df, idCol, textCol, addK),
        "lm_score",
        Map("id" -> idCol, "text" -> textCol, "addK" -> addK),
        PerRow(Seq("id"), mf -> idCol))

    /** Interpolated bigram LM quality score: one row per corpus ROW (pk
      * rule as [[decontaminateAgainst]]). */
    def lmScoreBigram(
        idCol: String, textCol: String,
        addK: Double = 1.0, lambda: Double = 0.7): MetaFrame =
      derived(mf, Corpus.lmScoreBigram(mf.df, idCol, textCol, addK, lambda),
        "lm_score_bigram",
        Map("id" -> idCol, "text" -> textCol, "addK" -> addK, "lambda" -> lambda),
        PerRow(Seq("id"), mf -> idCol))

    /** Composite quality gate: one row per corpus ROW (pk rule as
      * [[decontaminateAgainst]]). */
    def qualityGate(
        idCol: String, textCol: String,
        minTokens: Long = 1L, maxTokens: Long = Long.MaxValue,
        maxTopNgramFrac: Double = 1.0, maxDupNgramFrac: Double = 1.0,
        maxAvgNll: Double = Double.MaxValue): MetaFrame =
      derived(mf,
        Corpus.qualityGate(mf.df, idCol, textCol, minTokens, maxTokens,
          maxTopNgramFrac, maxDupNgramFrac, maxAvgNll),
        "quality_gate",
        Map("id" -> idCol, "text" -> textCol, "minTokens" -> minTokens,
            "maxTokens" -> maxTokens, "maxTopNgramFrac" -> maxTopNgramFrac,
            "maxDupNgramFrac" -> maxDupNgramFrac, "maxAvgNll" -> maxAvgNll),
        PerRow(Seq("id"), mf -> idCol))

    /** TF-IDF top terms: one row per (doc, rank) — a row EXPANSION, so the
      * output is keyed by (id, rank) exactly when the parent was keyed by
      * `idCol`: ranks are unique within a doc by row_number construction,
      * so the parent's uniqueness proof extends to the pair. */
    def tfidfTopTerms(idCol: String, textCol: String, k: Int = 3): MetaFrame =
      derived(mf, Corpus.tfidfTopTerms(mf.df, idCol, textCol, k),
        "tfidf_top_terms",
        Map("id" -> idCol, "text" -> textCol, "k" -> k),
        PerRow(Seq("id", "rank"), mf -> idCol))

    /** Per-group cap (top `cap` by score): row-SUBSET plus a rank column, so
      * parent pk survives (verified-if-it-was) — filtering can't introduce
      * duplicates. */
    def capPerGroup(groupCol: String, scoreCol: String, idCol: String, cap: Int): MetaFrame =
      derived(mf, Corpus.capPerGroup(mf.df, groupCol, scoreCol, idCol, cap),
        "cap_per_group",
        Map("group" -> groupCol, "score" -> scoreCol, "id" -> idCol, "cap" -> cap),
        SameAsParent)

    /** End-to-end corpus assembly ([[Assembly.assembleCorpus]]): the full
      * gate → near-dedup → decontaminate → split → cap → shard-pack chain
      * as one audited derivation. One row per input doc, so the output is
      * keyed by `id` exactly when the parent was keyed by `idCol` (the
      * [[decontaminateAgainst]] rule); the six stage parameter sets are
      * recorded into the lineage entry. */
    def assembleCorpus(
        benchmark: MetaFrame, idCol: String, textCol: String,
        sourceCol: String, langCol: String,
        minTokens: Long = 1L, maxTokens: Long = Long.MaxValue,
        maxTopNgramFrac: Double = 1.0, maxDupNgramFrac: Double = 1.0,
        maxAvgNll: Double = Double.MaxValue,
        minJaccard: Double = 0.8, shingleWidth: Int = 3, minShared: Long = 1L,
        salt: String = "graft", trainPct: Int = 80, valPct: Int = 10,
        capPerSource: Int = Int.MaxValue, shardTokens: Long = 5000L): MetaFrame =
      derived(mf,
        Assembly.assembleCorpus(mf.df, benchmark.df, idCol, textCol, sourceCol, langCol,
          minTokens, maxTokens, maxTopNgramFrac, maxDupNgramFrac, maxAvgNll,
          minJaccard, shingleWidth, minShared, salt, trainPct, valPct,
          capPerSource, shardTokens),
        "corpus_assembly",
        Map("id" -> idCol, "text" -> textCol, "source" -> sourceCol,
            "lang" -> langCol, "minTokens" -> minTokens, "maxTokens" -> maxTokens,
            "maxTopNgramFrac" -> maxTopNgramFrac, "maxDupNgramFrac" -> maxDupNgramFrac,
            "maxAvgNll" -> maxAvgNll, "minJaccard" -> minJaccard,
            "shingleWidth" -> shingleWidth, "minShared" -> minShared,
            "salt" -> salt, "trainPct" -> trainPct, "valPct" -> valPct,
            "capPerSource" -> capPerSource, "shardTokens" -> shardTokens),
        PerRow(Seq("id"), mf -> idCol))

    /** Shared contract of the curation-era per-doc ops: one output row per
      * input row, keyed by `id` ([[PerRow]] on the id column). */
    private def perDoc(df: DataFrame, op: String, idCol: String,
        params: Map[String, Any]): MetaFrame =
      derived(mf, df, op, params, PerRow(Seq("id"), mf -> idCol))

    /** Corpus-wide line dedup (CCNet/RefinedWeb): one row per doc. */
    def lineDeduped(idCol: String, textCol: String, sep: String = "\n",
        minLineChars: Int = 0): MetaFrame =
      perDoc(Corpus.lineDedup(mf.df, idCol, textCol, sep, minLineChars),
        "line_dedup", idCol,
        Map("id" -> idCol, "text" -> textCol, "sep" -> sep, "minLineChars" -> minLineChars))

    /** Incremental line dedup against an accepted-corpus store. */
    def lineDedupedAgainst(corpus: MetaFrame, idCol: String, textCol: String,
        sep: String = "\n", minLineChars: Int = 0): MetaFrame =
      perDoc(Corpus.lineDedupAgainst(mf.df, corpus.df, idCol, textCol, sep, minLineChars),
        "line_dedup_incremental", idCol,
        Map("id" -> idCol, "text" -> textCol, "sep" -> sep, "minLineChars" -> minLineChars))

    /** Exact-substring span dedup (Lee et al. 2022): one row per doc. */
    def spanDeduped(idCol: String, textCol: String, spanLen: Int = 20): MetaFrame =
      perDoc(Dedup.spanDedup(mf.df, idCol, textCol, spanLen),
        "span_dedup", idCol, Map("id" -> idCol, "text" -> textCol, "spanLen" -> spanLen))

    /** Incremental span dedup against an accepted-corpus span store. */
    def spanDedupedAgainst(corpus: MetaFrame, idCol: String, textCol: String,
        spanLen: Int = 20): MetaFrame =
      perDoc(Dedup.spanDedupAgainst(mf.df, corpus.df, idCol, textCol, spanLen),
        "span_dedup_incremental", idCol,
        Map("id" -> idCol, "text" -> textCol, "spanLen" -> spanLen))

    /** Surgical span decontamination against a benchmark suite. */
    def decontaminateSpansAgainst(benchmark: MetaFrame, idCol: String,
        textCol: String, spanLen: Int = 20): MetaFrame =
      perDoc(Corpus.decontaminateSpans(mf.df, benchmark.df, idCol, textCol, spanLen),
        "decontaminate_spans", idCol,
        Map("id" -> idCol, "text" -> textCol, "spanLen" -> spanLen))

    /** C4 line-and-document quality filter: one verdict row per doc. */
    def c4Filtered(idCol: String, textCol: String, minWordsPerLine: Int = 5,
        minLines: Int = 3, sep: String = "\n"): MetaFrame =
      perDoc(Corpus.c4LineFilter(mf.df, idCol, textCol, minWordsPerLine, minLines, sep),
        "c4_line_filter", idCol,
        Map("id" -> idCol, "text" -> textCol, "minWordsPerLine" -> minWordsPerLine,
            "minLines" -> minLines))

    /** OOV-rate scoring against the corpus frequent vocabulary. */
    def vocabCovered(idCol: String, textCol: String, perMille: Long = 1L): MetaFrame =
      perDoc(Corpus.vocabCoverage(mf.df, idCol, textCol, perMille),
        "vocab_coverage", idCol,
        Map("id" -> idCol, "text" -> textCol, "perMille" -> perMille))

    /** Score-quantile bucketing (curriculum / quality tiers). */
    def scoreBucketed(idCol: String, scoreCol: String, nBuckets: Int = 10,
        binWidthMicro: Long = 1000L): MetaFrame =
      perDoc(Corpus.scoreBuckets(mf.df, idCol, scoreCol, nBuckets, binWidthMicro),
        "score_buckets", idCol,
        Map("id" -> idCol, "score" -> scoreCol, "nBuckets" -> nBuckets,
            "binWidthMicro" -> binWidthMicro))

    /** GPT-style sequence packing — row-EXPANDING: keyed by the fragment
      * position (shard, seq_id, start_in_seq) when the parent is keyed
      * (duplicate input ids would make the digest order ambiguous). */
    def packedSequences(idCol: String, textCol: String, seqLen: Int,
        shardCol: String, salt: String = "pack"): MetaFrame =
      derived(mf, Corpus.packSequences(mf.df, idCol, textCol, seqLen, shardCol, salt),
        "pack_sequences",
        Map("id" -> idCol, "text" -> textCol, "seqLen" -> seqLen,
            "shard" -> shardCol, "salt" -> salt),
        PerRow(Seq("shard", "seq_id", "start_in_seq"), mf -> idCol))

    /** BPE vocabulary training: the merge table keyed by rank
      * (`batchSize` merges per round; 1 is exact sequential BPE). */
    def bpeTrained(textCol: String, nMerges: Int, batchSize: Int = 1,
        candidateWindow: Int = 8): MetaFrame =
      derived(mf, Corpus.bpeTrain(mf.df, textCol, nMerges, batchSize, candidateWindow),
        "bpe_train",
        Map("text" -> textCol, "nMerges" -> nMerges, "batchSize" -> batchSize,
            "candidateWindow" -> candidateWindow),
        Unique("merge_rank"))

    /** BPE segmentation against a trained merge table. */
    def bpeSegmented(merges: MetaFrame, idCol: String, textCol: String): MetaFrame =
      perDoc(Corpus.bpeSegment(mf.df, idCol, textCol, merges.df),
        "bpe_segment", idCol, Map("id" -> idCol, "text" -> textCol))

    /** Full Gopher A1 document-rule verdicts: one row per doc. */
    def gopherRuled(idCol: String, textCol: String): MetaFrame =
      perDoc(Corpus.gopherRules(mf.df, idCol, textCol),
        "gopher_rules", idCol, Map("id" -> idCol, "text" -> textCol))

    /** Per-group score-quantile bucketing (per-language curricula). */
    def scoreBucketedBy(groupCol: String, idCol: String, scoreCol: String,
        nBuckets: Int = 10, binWidthMicro: Long = 1000L): MetaFrame =
      perDoc(Corpus.scoreBucketsBy(mf.df, groupCol, idCol, scoreCol, nBuckets, binWidthMicro),
        "score_buckets_by", idCol,
        Map("group" -> groupCol, "id" -> idCol, "score" -> scoreCol,
            "nBuckets" -> nBuckets, "binWidthMicro" -> binWidthMicro))

    /** CCNet head/middle/tail perplexity tiers against a frozen LM.
      * Row-dropping (token-less docs carry no LM evidence), so the pk
      * claim stays with the per-doc id key. */
    def ccnetTiered(counts: MetaFrame, idCol: String, textCol: String,
        groupCol: String, nTiers: Int = 3): MetaFrame =
      perDoc(Corpus.ccnetTiers(mf.df, counts.df, idCol, textCol, groupCol, nTiers),
        "ccnet_tiers", idCol,
        Map("id" -> idCol, "text" -> textCol, "group" -> groupCol, "nTiers" -> nTiers))

    /** Unified per-doc quality profile against a frozen LM count table. */
    def qualityProfiled(counts: MetaFrame, idCol: String, textCol: String): MetaFrame =
      perDoc(Corpus.qualityProfile(mf.df, counts.df, idCol, textCol),
        "quality_profile", idCol, Map("id" -> idCol, "text" -> textCol))

    /** Character-class counts + exact-integer entropy: one row per doc. */
    def charStatted(idCol: String, textCol: String): MetaFrame =
      perDoc(Corpus.charStats(mf.df, idCol, textCol),
        "char_stats", idCol, Map("id" -> idCol, "text" -> textCol))

    /** Complete Gopher A1.1 repetition verdicts: one row per doc. */
    def gopherRepetitionRuled(idCol: String, textCol: String): MetaFrame =
      perDoc(Corpus.gopherRepetition(mf.df, idCol, textCol),
        "gopher_repetition", idCol, Map("id" -> idCol, "text" -> textCol))

    /** Category-audited PII redaction: one row per doc. */
    def piiRedacted(idCol: String, textCol: String,
        patterns: Seq[(String, String, String)] = Corpus.DefaultPiiPatterns): MetaFrame =
      perDoc(Corpus.redactPiiAudited(mf.df, idCol, textCol, patterns),
        "pii_redact_audited", idCol,
        Map("id" -> idCol, "text" -> textCol,
            "rules" -> patterns.map(_._1).mkString(",")))

    /** Epoch-aware data-constrained mixing: row-preserving plan. */
    def epochMixed(idCol: String, sourceCol: String, salt: String,
        budget: Long, maxEpochs: Int): MetaFrame =
      derived(mf, Corpus.epochMix(mf.df, idCol, sourceCol, salt, budget, maxEpochs),
        "epoch_mix",
        Map("id" -> idCol, "source" -> sourceCol, "salt" -> salt,
            "budget" -> budget, "maxEpochs" -> maxEpochs),
        PerRow(Seq(idCol), mf -> idCol))

    /** Four-stage curation composite (line dedup → span decontamination →
      * OOV gate → epoch mix): one audit row per doc. */
    def curateCorpus(benchmark: MetaFrame, idCol: String, textCol: String,
        sourceCol: String, sep: String = "\n", spanLen: Int = 20,
        oovPerMille: Long = 5L, maxOovFrac: Double = 0.025,
        salt: String = "curate", budget: Long = 300L, maxEpochs: Int = 2): MetaFrame =
      perDoc(Assembly.curateCorpus(mf.df, benchmark.df, idCol, textCol, sourceCol,
          sep, spanLen, oovPerMille, maxOovFrac, salt, budget, maxEpochs),
        "corpus_curation", idCol,
        Map("id" -> idCol, "text" -> textCol, "source" -> sourceCol,
            "spanLen" -> spanLen, "oovPerMille" -> oovPerMille,
            "maxOovFrac" -> maxOovFrac, "salt" -> salt,
            "budget" -> budget, "maxEpochs" -> maxEpochs))

    /** Per-doc text-analysis annotation: adds token/quality/lang/fingerprint
      * and PII-audit columns; row-preserving so the parent's key and proof
      * stand. */
    def annotateText(textCol: String): MetaFrame = {
      val out = mf.df
        .withColumn("n_tokens", TextFunctions.tokenCount(col(textCol)))
        .withColumn("quality", TextFunctions.qualityScore(col(textCol)))
        .withColumn("lang_pred", TextFunctions.langId(col(textCol)))
        .withColumn("fingerprint", TextFunctions.fingerprint(col(textCol)))
        .withColumn("n_pii", TextFunctions.piiCount(col(textCol)))
      derived(mf, out, "annotate_text", Map("text" -> textCol), SameAsParent)
    }

    /** Incremental SemDeDup verdicts for this batch against a store under
      * a frozen quantizer: one row per batch doc. */
    def semanticDedupedAgainst(store: MetaFrame, idCol: String, vecCol: String,
        centroids: MetaFrame, centroidIdCol: String, centroidVecCol: String,
        threshold: Double,
        maxCellStore: Long = Dedup.DefaultMaxCellSize): MetaFrame =
      perDoc(Dedup.semanticDedupIncremental(store.df, mf.df, idCol, vecCol,
          centroids.df, centroidIdCol, centroidVecCol, threshold, maxCellStore),
        "semantic_dedup_incremental", idCol,
        Map("id" -> idCol, "vec" -> vecCol, "threshold" -> threshold,
            "maxCellStore" -> maxCellStore))

    /** Token-budget greedy best-first selection: one verdict row per doc. */
    def tokenBudgetSelected(idCol: String, scoreCol: String, tokensCol: String,
        budget: Long, binWidthMicro: Long = 1000L): MetaFrame =
      perDoc(Corpus.selectTokenBudget(mf.df, idCol, scoreCol, tokensCol,
          budget, binWidthMicro),
        "token_budget_select", idCol,
        Map("id" -> idCol, "score" -> scoreCol, "tokens" -> tokensCol,
            "budget" -> budget, "binWidthMicro" -> binWidthMicro))

    /** Per-group token-budget selection (equal per-group allocation):
      * one verdict row per doc. */
    def tokenBudgetSelectedBy(groupCol: String, idCol: String, scoreCol: String,
        tokensCol: String, budget: Long, binWidthMicro: Long = 1000L): MetaFrame =
      perDoc(Corpus.selectTokenBudgetBy(mf.df, groupCol, idCol, scoreCol,
          tokensCol, budget, binWidthMicro),
        "token_budget_select_by", idCol,
        Map("group" -> groupCol, "id" -> idCol, "score" -> scoreCol,
            "tokens" -> tokensCol, "budget" -> budget,
            "binWidthMicro" -> binWidthMicro))

    /** Soft quality sampling verdicts (deterministic id-hash coin): one
      * row per doc. */
    def softQualitySampled(idCol: String, scoreCol: String, tau: Double,
        gamma: Double = 1.0, saltKey: String = "softsample"): MetaFrame =
      perDoc(Corpus.softQualitySample(mf.df, idCol, scoreCol, tau, gamma, saltKey),
        "soft_quality_sample", idCol,
        Map("id" -> idCol, "score" -> scoreCol, "tau" -> tau,
            "gamma" -> gamma, "salt" -> saltKey))

    /** D4 (SemDeDup → prototype pruning, frozen quantizer) verdicts: one
      * row per doc. */
    def d4Selected(idCol: String, vecCol: String, centroids: MetaFrame,
        centroidIdCol: String, centroidVecCol: String, threshold: Double,
        dropPct: Int, maxCellSize: Long = Dedup.DefaultMaxCellSize): MetaFrame =
      perDoc(Dedup.d4Select(mf.df, idCol, vecCol, centroids.df, centroidIdCol,
          centroidVecCol, threshold, dropPct, maxCellSize = maxCellSize),
        "d4_select", idCol,
        Map("id" -> idCol, "vec" -> vecCol, "threshold" -> threshold,
            "dropPct" -> dropPct, "maxCellSize" -> maxCellSize))

    /** IVF-blocked kNN graph: one row per (doc, rank ≤ k) — pk is the
      * (id, rank) pair, proven when the parent is proven on `idCol`
      * (knnGraph emits each rank once per doc by construction). */
    def knnGraphOf(idCol: String, vecCol: String, centroids: MetaFrame,
        centroidIdCol: String, centroidVecCol: String, k: Int,
        maxCellNeighbors: Long = Dedup.DefaultMaxCellSize): MetaFrame =
      derived(mf,
        Similarity.knnGraph(mf.df, idCol, vecCol, centroids.df, centroidIdCol,
          centroidVecCol, k, maxCellNeighbors),
        "knn_graph",
        Map("id" -> idCol, "vec" -> vecCol, "k" -> k,
            "maxCellNeighbors" -> maxCellNeighbors),
        Claimed(Seq("id", "rank"), mf -> idCol))

    /** WIMBD-style per-source corpus profile: one row per source. */
    def corpusReported(idCol: String, textCol: String, sourceCol: String,
        langCol: String): MetaFrame =
      derived(mf,
        Corpus.corpusReport(mf.df, idCol, textCol, sourceCol, langCol),
        "corpus_report",
        Map("id" -> idCol, "text" -> textCol, "source" -> sourceCol,
            "lang" -> langCol),
        Unique("source")) // one row per source is the groupBy contract

    // -------------------------------------------------- round-13 ops layer

    /** Gap-based sessionization: one row per event, keyed by event_id. */
    def sessionizedBy(userCol: String, tsCol: String, idCol: String,
        gapSeconds: Long): MetaFrame =
      derived(mf, Events.sessionize(mf.df, userCol, tsCol, idCol, gapSeconds),
        "sessionize",
        Map("user" -> userCol, "ts" -> tsCol, "id" -> idCol, "gapSeconds" -> gapSeconds),
        PerRow(Seq("event_id"), mf -> idCol))

    /** Incremental sessionization of this frame (the new batch) against a
      * [[Events.sessionStore]]: one row per batch event. */
    def sessionizedIncrementally(store: MetaFrame, userCol: String, tsCol: String,
        idCol: String, gapSeconds: Long): MetaFrame =
      derived(mf,
        Events.sessionizeIncremental(mf.df, store.df, userCol, tsCol, idCol, gapSeconds),
        "sessionize_incremental",
        Map("user" -> userCol, "ts" -> tsCol, "id" -> idCol, "gapSeconds" -> gapSeconds),
        PerRow(Seq("event_id"), mf -> idCol))

    /** Apply this frame as the next snapshot onto an SCD2 history: no
      * uniqueness claim — (id, valid_from) is unique only under the pk
      * contract of BOTH inputs, which the dim side can't carry proof for. */
    def scd2Applied(dim: MetaFrame, idCol: String, compareCols: Seq[String],
        version: Long): MetaFrame =
      derived(mf,
        Corpus.scd2Apply(dim.df, mf.df, idCol, compareCols, version),
        "scd2_apply",
        Map("id" -> idCol, "compare" -> compareCols.mkString(","), "version" -> version),
        NoKey)

    /** Per-session rollup: one row per (user, session) — groupBy contract. */
    def sessionStatsOf(userCol: String, tsCol: String, idCol: String,
        typeCol: String, gapSeconds: Long): MetaFrame =
      derived(mf,
        Events.sessionStats(mf.df, userCol, tsCol, idCol, typeCol, gapSeconds),
        "session_stats",
        Map("user" -> userCol, "ts" -> tsCol, "id" -> idCol,
            "type" -> typeCol, "gapSeconds" -> gapSeconds),
        Unique("user_id", "session_idx"))

    /** Ordered funnel: one row per user — groupBy contract. */
    def funnelOf(userCol: String, tsCol: String, typeCol: String,
        steps: Seq[String], maxStepEventsPerUser: Int = 1000): MetaFrame =
      derived(mf,
        Events.funnel(mf.df, userCol, tsCol, typeCol, steps, maxStepEventsPerUser),
        "funnel",
        Map("user" -> userCol, "ts" -> tsCol, "type" -> typeCol,
            "steps" -> steps.mkString(">"), "maxStepEventsPerUser" -> maxStepEventsPerUser),
        Unique("user_id"))

    /** Journey-scoped conversion attribution: one row per conversion —
      * journeys hold at most one conversion by construction. */
    def attributionOf(userCol: String, tsCol: String, idCol: String,
        typeCol: String, conversionType: String,
        touchTypes: Seq[String]): MetaFrame =
      derived(mf,
        Events.attribution(mf.df, userCol, tsCol, idCol, typeCol,
          conversionType, touchTypes),
        "attribution",
        Map("user" -> userCol, "ts" -> tsCol, "id" -> idCol,
            "type" -> typeCol, "conversion" -> conversionType,
            "touches" -> touchTypes.mkString(",")),
        Unique("conversion_id"))

    /** Incremental attribution against an O(users) store: one row per
      * batch conversion. */
    def attributionIncrementalOf(store: MetaFrame, userCol: String,
        tsCol: String, idCol: String, typeCol: String,
        conversionType: String, touchTypes: Seq[String]): MetaFrame =
      derived(mf,
        Events.attributionIncremental(mf.df, store.df, userCol, tsCol, idCol,
          typeCol, conversionType, touchTypes),
        "attribution_incremental",
        Map("user" -> userCol, "ts" -> tsCol, "id" -> idCol,
            "type" -> typeCol, "conversion" -> conversionType,
            "touches" -> touchTypes.mkString(",")),
        Unique("conversion_id"))

    /** Top user-journey paths: rank is unique by the re-rank window. */
    def topPathsOf(userCol: String, tsCol: String, idCol: String,
        typeCol: String, depth: Int = 4, k: Int = 20): MetaFrame =
      derived(mf,
        Events.topPaths(mf.df, userCol, tsCol, idCol, typeCol, depth, k),
        "top_paths",
        Map("user" -> userCol, "ts" -> tsCol, "id" -> idCol,
            "type" -> typeCol, "depth" -> depth, "k" -> k),
        Unique("rank"))

    /** Session-scoped top paths: rank is unique by the re-rank window. */
    def topPathsBySessionOf(userCol: String, tsCol: String, idCol: String,
        typeCol: String, gapSeconds: Long, depth: Int = 3,
        k: Int = 20): MetaFrame =
      derived(mf,
        Events.topPathsBySession(mf.df, userCol, tsCol, idCol, typeCol,
          gapSeconds, depth, k),
        "session_paths",
        Map("user" -> userCol, "ts" -> tsCol, "id" -> idCol,
            "type" -> typeCol, "gapSeconds" -> gapSeconds,
            "depth" -> depth, "k" -> k),
        Unique("rank"))

    /** Markov transition matrix: one row per (src, dst) — groupBy contract. */
    def transitionsOf(userCol: String, tsCol: String, idCol: String,
        typeCol: String): MetaFrame =
      derived(mf,
        Events.transitions(mf.df, userCol, tsCol, idCol, typeCol),
        "transitions",
        Map("user" -> userCol, "ts" -> tsCol, "id" -> idCol, "type" -> typeCol),
        Unique("src_type", "dst_type"))

    /** PSI drift vs a reference frame: one row per bucket. */
    def driftPsiAgainst(reference: MetaFrame, valueCol: String,
        buckets: Int = 10): MetaFrame =
      derived(mf, Checks.driftPsi(reference.df, mf.df, valueCol, buckets),
        "drift_psi",
        Map("value" -> valueCol, "buckets" -> buckets),
        Unique("bucket"))

    /** Embedding centroid drift vs a reference frame: one row per label
      * (full-outer over both sides' label sets). */
    def centroidDriftAgainst(reference: MetaFrame, labelCol: String,
        vecCol: String, dim: Int): MetaFrame =
      derived(mf,
        graft.operators.Similarity.centroidDrift(reference.df, mf.df,
          labelCol, vecCol, dim),
        "centroid_drift",
        Map("label" -> labelCol, "vec" -> vecCol, "dim" -> dim),
        Unique("label"))

    /** Categorical PSI drift vs a reference frame: one row per domain
      * label. */
    def driftPsiCategoricalAgainst(reference: MetaFrame, catCol: String,
        maxCategories: Int = 20): MetaFrame =
      derived(mf,
        Checks.driftPsiCategorical(reference.df, mf.df, catCol, maxCategories),
        "drift_psi_cat",
        Map("cat" -> catCol, "maxCategories" -> maxCategories),
        Unique("category"))

    /** MAD outlier flags: row-preserving, parent pk survives. */
    def outliersMadOf(groupCol: String, valueCol: String,
        k: Double = 3.0): MetaFrame =
      derived(mf, Checks.outliersMad(mf.df, groupCol, valueCol, k),
        "outliers_mad",
        Map("group" -> groupCol, "value" -> valueCol, "k" -> k),
        SameAsParent)

    /** Join-key skew report: rank is unique by the re-rank window. */
    def skewReportOf(keyCol: String, k: Int = 20,
        targetPartitions: Int = 200): MetaFrame =
      derived(mf, Checks.skewReport(mf.df, keyCol, k, targetPartitions),
        "skew_report",
        Map("key" -> keyCol, "k" -> k, "targetPartitions" -> targetPartitions),
        Unique("rank"))

    /** Daily volume anomaly scores: one row per (type, day) — groupBy
      * contract. */
    def dailyAnomaliesOf(tsCol: String, typeCol: String, window: Int = 7,
        minPrior: Int = 3, thresholdMicro: Long = 3000000L): MetaFrame =
      derived(mf,
        Events.dailyAnomalies(mf.df, tsCol, typeCol, window, minPrior,
          thresholdMicro),
        "daily_anomalies",
        Map("ts" -> tsCol, "type" -> typeCol, "window" -> window,
            "minPrior" -> minPrior, "thresholdMicro" -> thresholdMicro),
        Unique("event_type", "day"))

    /** Data-quality constraint verdicts: one row per constraint. The
      * check_name pk is claimed only when the declared ids are distinct
      * (two constraints of the same kind on the same column share an id)
      * and is never proven. */
    def checked(constraints: Seq[Checks.Constraint]): MetaFrame = {
      val ids = constraints.map(c => Checks.meta(c)._1)
      derived(mf, Checks.check(mf.df, constraints),
        "dq_check", Map("constraints" -> ids.mkString("; ")),
        if (ids.distinct.length == ids.length) Claimed(Seq("check_name")) else NoKey)
    }

    /** Snapshot diff against a second snapshot (one row per id in either
      * side; keyed when both snapshots are keyed on the id, proven when
      * both are proven). */
    def snapshotDiffAgainst(newer: MetaFrame, idCol: String,
        compareCols: Seq[String]): MetaFrame =
      derived(mf, Corpus.snapshotDiff(mf.df, newer.df, idCol, compareCols),
        "snapshot_diff",
        Map("id" -> idCol, "compare" -> compareCols.mkString(",")),
        PerRow(Seq("id"), mf -> idCol, newer -> idCol))

    /** Canary scan: one row per leaking (doc, canary) pair. */
    def canaryScanned(idCol: String, textCol: String,
        canaries: Seq[String]): MetaFrame =
      derived(mf, Corpus.canaryScan(mf.df, idCol, textCol, canaries),
        "canary_scan",
        Map("id" -> idCol, "text" -> textCol, "canaries" -> canaries.mkString(",")),
        PerRow(Seq("id", "canary"), mf -> idCol))

    /** Integer PageRank over this frame as an edge list: one row per
      * node — the distinct-nodes contract. */
    def pageRankedInt(srcCol: String, dstCol: String, iterations: Int = 3,
        dampingMicro: Long = 850000L): MetaFrame =
      derived(mf,
        Graph.pageRankInt(mf.df, srcCol, dstCol, iterations, dampingMicro),
        "pagerank_int",
        Map("src" -> srcCol, "dst" -> dstCol, "iterations" -> iterations,
            "dampingMicro" -> dampingMicro),
        Unique("id"))

    /** Train the hashed-bag-of-words logistic quality model on this
      * frame's labels: one row per model feature (bias at f = -1). */
    def logisticTrained(idCol: String, textCol: String, labelCol: String,
        dim: Int = 256, iters: Int = 2, lrMicro: Long = 500000L): MetaFrame =
      derived(mf,
        Classifier.trainLogistic(mf.df, idCol, textCol, labelCol, dim, iters, lrMicro),
        "logistic_train",
        Map("id" -> idCol, "text" -> textCol, "label" -> labelCol,
            "dim" -> dim, "iters" -> iters, "lrMicro" -> lrMicro),
        Unique("f")) // full-outer on f keeps the model unique per feature

    /** Score this frame under a trained logistic model: one row per doc. */
    def logisticScored(model: MetaFrame, idCol: String, textCol: String,
        dim: Int = 256): MetaFrame =
      derived(mf,
        Classifier.scoreLogistic(mf.df, idCol, textCol, model.df, dim),
        "logistic_score",
        Map("id" -> idCol, "text" -> textCol, "dim" -> dim),
        PerRow(Seq("id"), mf -> idCol))

    /** BM25 top-k per query: one row per (query, rank) — TopKAgg emits
      * each rank once per query by construction. */
    def bm25TopKOf(idCol: String, textCol: String, queries: MetaFrame,
        queryIdCol: String, queryTextCol: String, k: Int = 10,
        k1: Double = 1.2, b: Double = 0.75): MetaFrame =
      derived(mf,
        Retrieval.bm25TopK(mf.df, idCol, textCol, queries.df, queryIdCol,
          queryTextCol, k, k1, b),
        "bm25_topk",
        Map("id" -> idCol, "text" -> textCol, "k" -> k, "k1" -> k1, "b" -> b),
        Unique("query_id", "rank"))

    /** BM25 with pseudo-relevance-feedback expansion: one row per
      * (query, rank) — TopKAgg contract like [[bm25TopKOf]]. */
    def bm25ExpandedTopKOf(idCol: String, textCol: String, queries: MetaFrame,
        queryIdCol: String, queryTextCol: String, k: Int = 10,
        fbDocs: Int = 3, fbTerms: Int = 5,
        k1: Double = 1.2, b: Double = 0.75): MetaFrame =
      derived(mf,
        Retrieval.bm25ExpandedTopK(mf.df, idCol, textCol, queries.df,
          queryIdCol, queryTextCol, k, fbDocs, fbTerms, k1, b),
        "bm25_expanded_topk",
        Map("id" -> idCol, "text" -> textCol, "k" -> k,
            "fbDocs" -> fbDocs, "fbTerms" -> fbTerms, "k1" -> k1, "b" -> b),
        Unique("query_id", "rank"))

    /** Ranking evaluation against a qrels table: one row per query —
      * groupBy contract. */
    def evalRankingAgainst(qrels: MetaFrame, k: Int = 10,
        queryIdCol: String = "query_id", idCol: String = "doc_id",
        rankCol: String = "rank", relCol: String = "rel"): MetaFrame =
      derived(mf,
        Retrieval.evalRanking(mf.df, qrels.df, k, queryIdCol, idCol,
          rankCol, relCol),
        "eval_ranking",
        Map("k" -> k, "queryId" -> queryIdCol, "id" -> idCol,
            "rank" -> rankCol, "rel" -> relCol),
        Unique("query_id"))

    /** Reciprocal-rank fusion of this ranked list with `others` (hybrid
      * retrieval): one row per (query, rank) by construction of the
      * re-rank window. */
    def rrfFuseWith(others: Seq[MetaFrame], k: Int = 10, k0: Int = 60,
        queryIdCol: String = "query_id", idCol: String = "doc_id",
        rankCol: String = "rank"): MetaFrame =
      derived(mf,
        Retrieval.rrfFuse(mf.df +: others.map(_.df), k, k0,
          queryIdCol, idCol, rankCol),
        "rrf_fuse",
        Map("k" -> k, "k0" -> k0, "lists" -> (others.size + 1)),
        Unique("query_id", "rank"))
  }
}
