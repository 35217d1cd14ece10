package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** End-to-end corpus assembly (SURVEY.md §2.3 composition): the six-stage
  * pipeline a real 100 TB training-data run chains —
  *
  *   1. quality gate  ([[Corpus.qualityGate]]: token budget + repetition +
  *      corpus-trained LM thresholds)
  *   2. near-dedup    ([[Dedup.winnowNearDup]], keep-canonical: the
  *      smallest id of each confirmed duplicate cluster survives)
  *   3. decontamination ([[Corpus.decontaminate]] against a benchmark
  *      suite; any shared shingle ≥ `minShared` drops the doc)
  *   4. deterministic split ([[Corpus.hashSplit]] — pure function of id)
  *   5. per-source cap ([[Corpus.capPerGroup]] by
  *      [[TextFunctions.qualityScore]], doc-id tie-break)
  *   6. token-budget shard packing (running sum per (split, lang) block)
  *
  * — as ONE declared operator, because the untested surface in a pipeline
  * of individually-green stages is their INTERACTION: filters feeding
  * corpus-trained models (the gate's LM trains on exactly the input
  * corpus), dedup clustering running on the gate's survivors only, AQE
  * replanning across stage boundaries. Every stage is deterministic
  * (integer fractions, micro-nat LM sums, winnowing-guaranteed candidate
  * recall + exact-Jaccard confirm, md5 buckets, integer ranks), so the
  * whole composition is exact-oracle-checkable end to end.
  *
  * Returns one AUDIT row per input doc — the shape a 100 TB filter run
  * reports: (id, source, lang, n_tokens, drop_stage, keep, split,
  * shard_id). `drop_stage` names the FIRST stage that cut the doc
  * ("quality" | "duplicate" | "contaminated" | "capped"; null for
  * survivors); `split`/`shard_id` are null for dropped docs. `n_tokens`
  * is the gate's count (non-empty whitespace tokens) and also drives the
  * shard packing.
  *
  * Scale shape: the composition adds nothing beyond its stages — each is
  * separately scale-safe (see the member docs); the inter-stage joins are
  * narrow id-keyed semi-joins; the only new window is the shard-pack
  * running sum, which parallelizes across (split, lang) blocks. NULL ids:
  * dropped at the dedup stage (a NULL id cannot be safely clustered or
  * re-attached; the testdata and any sane corpus key docs non-null).
  */
object Assembly {

  def assembleCorpus(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      langCol: String,
      minTokens: Long = 1L,
      maxTokens: Long = Long.MaxValue,
      maxTopNgramFrac: Double = 1.0,
      maxDupNgramFrac: Double = 1.0,
      maxAvgNll: Double = Double.MaxValue,
      minJaccard: Double = 0.8,
      shingleWidth: Int = 3,
      minShared: Long = 1L,
      salt: String = "graft",
      trainPct: Int = 80,
      valPct: Int = 10,
      capPerSource: Int = Int.MaxValue,
      shardTokens: Long = 5000L): DataFrame = {
    require(shardTokens >= 1, "shardTokens must be at least 1")
    val base = corpus.select(
      col(idCol).as("id"), col(textCol).as("text"),
      col(sourceCol).as("source"), col(langCol).as("lang"))

    // Each stage's narrow (id, verdict) table is pinned with a checkpoint
    // (Materialize.pin): the audit join below consumes every stage AND each
    // stage feeds the next one's survivor filter, so without pinning Spark
    // re-executes the expensive text pipelines per consumer — the quality
    // gate (including its corpus-wide LM training) ran 4x, decontamination
    // and the cap 2x each. The pinned tables are O(corpus ids) of a few
    // narrow columns — cluster-trivial storage next to the text they
    // summarize — and the heavy lineage behind them executes exactly once.

    // 1. quality gate — the LM trains on exactly this input corpus
    val gate = Materialize.pin(
      Corpus.qualityGate(base, "id", "text", minTokens, maxTokens,
          maxTopNgramFrac, maxDupNgramFrac, maxAvgNll)
        .select(col("id"), col("n_tokens"), col("keep").as("gate_keep")))
    val kept1 = base.join(gate.filter(col("gate_keep")).select("id"), Seq("id"), "left_semi")

    // 2. near-dedup over the gate's survivors, keep-canonical
    val dd = Materialize.pin(
      Dedup.winnowNearDup(kept1, "id", "text", minJaccard = minJaccard,
          shingleWidth = shingleWidth)
        .select(col("id"), (col("cluster_id") <=> col("id")).as("canonical")))
    val kept2 = kept1.join(dd.filter(col("canonical")).select("id"), Seq("id"), "left_semi")

    // 3. decontamination against the (broadcast) benchmark shingle set
    val dec = Materialize.pin(
      Corpus.decontaminate(kept2, benchmark, "id", "text", shingleWidth, minShared)
        .select(col("id"), col("contaminated")))
    val kept3 = kept2.join(dec.filter(!col("contaminated")).select("id"), Seq("id"), "left_semi")

    // 4/5. per-source quality cap over the decontaminated survivors
    val scored = kept3.withColumn("quality", TextFunctions.qualityScore(col("text")))
    val ranked = Materialize.pin(Corpus.capPerGroup(scored, "source", "quality", "id", capPerSource))
    val kept4 = scored.join(ranked.select("id"), Seq("id"), "left_semi")

    // 4/6. deterministic split + shard packing of the final survivors
    val splits = Corpus.hashSplit(kept4, "id", salt, trainPct, valPct)
      .select(col("id"), col("lang"), col("split"))
    val wPack = Window.partitionBy("split", "lang").orderBy("id")
    val packed = splits.join(gate.select(col("id"), col("n_tokens")), Seq("id"))
      .withColumn("__cum", sum(col("n_tokens")).over(wPack))
      .withColumn("shard_id", ((col("__cum") - col("n_tokens")) / lit(shardTokens)).cast("int"))
      .select(col("id"), col("split"), col("shard_id"))

    // audit: one row per input doc, first-failing-stage attribution
    base.select(col("id"), col("source"), col("lang"))
      .join(gate, Seq("id"), "left")
      .join(dd, Seq("id"), "left")
      .join(dec, Seq("id"), "left")
      .join(ranked.select(col("id"), lit(true).as("__cap_kept")), Seq("id"), "left")
      .join(packed, Seq("id"), "left")
      .withColumn("drop_stage",
        when(!col("gate_keep"), "quality")
          .when(!coalesce(col("canonical"), lit(false)), "duplicate")
          .when(col("contaminated"), "contaminated")
          .when(col("__cap_kept").isNull, "capped"))
      .withColumn("keep", col("drop_stage").isNull)
      .select(col("id"), col("source"), col("lang"), col("n_tokens"),
        col("drop_stage"), col("keep"), col("split"), col("shard_id"))
  }

  /** End-to-end corpus CURATION — the EDIT-pipeline counterpart of
    * [[assembleCorpus]] (which only filters): the four-stage chain the
    * round-11 text families compose into —
    *
    *   1. corpus-wide line dedup ([[Corpus.lineDedup]] — rewrites texts,
    *      drops nothing)
    *   2. surgical decontamination ([[Corpus.decontaminateSpans]] vs the
    *      benchmark — excises leaked spans from the DEDUPED text)
    *   2.5 (optional) audited PII masking ([[Corpus.redactPiiAudited]]
    *      over the decontaminated text when `piiPatterns` is non-empty —
    *      the gate sees the MASKED text, the audit carries the
    *      per-category `n_<rule>` counts plus `n_pii`)
    *   3. OOV gate ([[Corpus.vocabCoverage]] with the vocabulary built
    *      from the cleaned corpus itself; drop docs above `maxOovFrac`)
    *   4. epoch-aware mixing ([[Corpus.epochMix]] over the survivors —
    *      `n_repeats` = 0 marks budget-unselected docs)
    *
    * — as one declared operator, for the same reason as
    * [[assembleCorpus]]: the untested surface is the interaction (the
    * span windows run over line-dedup REWRITES, the vocabulary trains on
    * post-excision text, the mix quotas see post-gate source sizes).
    * Every stage is deterministic, so the composition is exact-oracle-
    * checkable end to end.
    *
    * The benchmark frame must expose the same `idCol`/`textCol` names as
    * the corpus. Returns one AUDIT row per input doc: (id, source,
    * n_lines, n_removed_lines, n_decont_tokens, oov_frac, drop_stage
    * ("null_id" | "oov" | "budget" | null; NULL-id docs are excluded
    * from every stage — they cannot ride the id-keyed joins — and get
    * their own verdict, mirroring `Ingest.curateMicroBatch`), keep,
    * n_repeats — null when oov-dropped,
    * 0 when budget-unselected).
    *
    * Scale shape: nothing beyond the member stages (each separately
    * scale-safe); inter-stage handoffs are id-keyed narrow tables, pinned
    * with checkpoints so each text pipeline executes once. */
  def curateCorpus(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      sep: String = "\n",
      spanLen: Int = 20,
      oovPerMille: Long = 5L,
      maxOovFrac: Double = 0.025,
      salt: String = "curate",
      budget: Long = 300L,
      maxEpochs: Int = 2,
      piiPatterns: Seq[(String, String, String)] = Nil): DataFrame = {
    val base = corpus.select(col(idCol).as("id"), col(textCol).as("text"),
      col(sourceCol).as("source"))
    // NULL-id docs cannot ride the id-keyed stage joins (every left join
    // below would miss, surfacing them with NULL audit columns and a
    // misleading "budget" verdict) — mirror curateMicroBatch: keep them out
    // of the pipeline and give them their own null_id verdict in the audit
    val valid = base.filter(col("id").isNotNull)
    val bench = benchmark.select(col(idCol).as("id"), col(textCol).as("text"))

    // 1. corpus-wide line dedup (rewrite, no drops)
    val ld = Materialize.pin(Corpus.lineDedup(valid, "id", "text", sep)
      .select(col("id"), col("n_lines"), col("n_removed_lines"), col("text_deduped")))

    // 2. surgical decontamination of the deduped text vs the benchmark
    val dec = Materialize.pin(Corpus.decontaminateSpans(
        ld.select(col("id"), col("text_deduped").as("text")), bench, "id", "text", spanLen)
      .select(col("id"), col("n_removed_tokens").as("n_decont_tokens"),
        col("text_deduped").as("text_clean")))

    // 2.5 (optional) audited PII masking of the decontaminated text — the
    // stage between span excision and the OOV gate, INSIDE the audited
    // contract: the gate (and its self-trained vocabulary) sees the MASKED
    // text, and the audit carries the per-category counts. piiPatterns =
    // Nil (the default) skips the stage and keeps the legacy audit schema.
    val pii: Option[DataFrame] = if (piiPatterns.isEmpty) None
      else Some(Materialize.pin(Corpus.redactPiiAudited(
        dec.select(col("id"), col("text_clean").as("text")), "id", "text", piiPatterns)))
    val cleanForGate = pii match {
      case Some(p) => p.select(col("id"), col("text_redacted").as("text"))
      case None    => dec.select(col("id"), col("text_clean").as("text"))
    }
    val piiCountCols = piiPatterns.map { case (n, _, _) => s"n_$n" } :+ "n_pii"

    // 3. OOV gate — vocabulary from the cleaned (and, when enabled,
    // masked) corpus itself
    val oov = Materialize.pin(Corpus.vocabCoverage(cleanForGate, "id", "text", oovPerMille)
      .select(col("id"), col("oov_frac")))

    // 4. epoch mixing over the gate's survivors
    val surv = valid.select(col("id"), col("source"))
      .join(oov.filter(col("oov_frac") <= maxOovFrac).select("id"), Seq("id"), "left_semi")
    val mixed = Materialize.pin(
      Corpus.epochMix(surv, "id", "source", salt, budget, maxEpochs)
        .select(col("id"), col("n_repeats")))

    val joined = base.select(col("id"), col("source"))
      .join(ld.select(col("id"), col("n_lines"), col("n_removed_lines")), Seq("id"), "left")
      .join(dec.select(col("id"), col("n_decont_tokens")), Seq("id"), "left")
    val withPii = pii.fold(joined)(p =>
      joined.join(p.select("id", piiCountCols: _*), Seq("id"), "left"))
    withPii
      .join(oov, Seq("id"), "left")
      .join(mixed, Seq("id"), "left")
      .withColumn("drop_stage",
        when(col("id").isNull, "null_id")
          .when(col("oov_frac") > maxOovFrac, "oov")
          .when(coalesce(col("n_repeats"), lit(0L)) === 0L, "budget"))
      .withColumn("keep", col("drop_stage").isNull)
      .select(Seq(col("id"), col("source"), col("n_lines"), col("n_removed_lines"),
        col("n_decont_tokens")) ++
        (if (pii.isDefined) piiCountCols.map(col) else Nil) ++
        Seq(col("oov_frac"), col("drop_stage"), col("keep"), col("n_repeats")): _*)
  }
}
