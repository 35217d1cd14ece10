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

    /** Per-node triangle counts + clustering over the frame's edge list:
      * one row per node, so `id` is the pk. */
    def trianglesOf(srcCol: String, dstCol: String): MetaFrame =
      derived(mf, Graph.triangles(mf.df, srcCol, dstCol),
        "triangles",
        Map("src" -> srcCol, "dst" -> dstCol),
        Unique("id"))

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

    /** TF-IDF top terms: one row per (id, rank) whatever the parent's key —
      * term frequencies group by id, and ranks are a row_number within
      * each id. */
    def tfidfTopTerms(idCol: String, textCol: String, k: Int = 3): MetaFrame =
      derived(mf, Corpus.tfidfTopTerms(mf.df, idCol, textCol, k),
        "tfidf_top_terms",
        Map("id" -> idCol, "text" -> textCol, "k" -> k),
        Unique("id", "rank"))

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

    /** Exact-substring span dedup (Lee et al. 2022): one row per doc. */
    def spanDeduped(idCol: String, textCol: String, spanLen: Int = 20): MetaFrame =
      perDoc(Dedup.spanDedup(mf.df, idCol, textCol, spanLen),
        "span_dedup", idCol, Map("id" -> idCol, "text" -> textCol, "spanLen" -> spanLen))

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

    /** GPT-style sequence packing — row-EXPANDING: keyed by the fragment
      * position (shard, seq_id, start_in_seq) whatever the parent's key,
      * since every doc row owns its own token range of the shard (duplicate
      * ids only make the digest order ambiguous). */
    def packedSequences(idCol: String, textCol: String, seqLen: Int,
        shardCol: String, salt: String = "pack"): MetaFrame =
      derived(mf, Corpus.packSequences(mf.df, idCol, textCol, seqLen, shardCol, salt),
        "pack_sequences",
        Map("id" -> idCol, "text" -> textCol, "seqLen" -> seqLen,
            "shard" -> shardCol, "salt" -> salt),
        Unique("shard", "seq_id", "start_in_seq"))

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

    /** Soft quality sampling verdicts (deterministic id-hash coin): one
      * row per doc. */
    def softQualitySampled(idCol: String, scoreCol: String, tau: Double,
        gamma: Double = 1.0, saltKey: String = "softsample"): MetaFrame =
      perDoc(Corpus.softQualitySample(mf.df, idCol, scoreCol, tau, gamma, saltKey),
        "soft_quality_sample", idCol,
        Map("id" -> idCol, "score" -> scoreCol, "tau" -> tau,
            "gamma" -> gamma, "salt" -> saltKey))

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
