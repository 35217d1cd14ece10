package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Corpus, Dedup, Materialize}

/** Ingestion-time corpus assembly — the STREAMING twin of
  * [[graft.operators.Assembly.assembleCorpus]], structured the way a
  * production ingestion pipeline actually runs: `foreachBatch`, with each
  * micro-batch flowing through the audited BATCH operators against frozen
  * artifacts, and accepted documents appended to the corpus store so that
  * batch N+1 deduplicates against everything batch N accepted.
  *
  * Why `foreachBatch` and not a pure streaming DAG: the dedup verdict is a
  * per-document aggregate over its candidate matches against a corpus that
  * GROWS with every batch — in a continuous DAG that is an update-mode
  * aggregate joined back to per-row stateless verdicts (a stream-stream
  * self-join Structured Streaming cannot express), with O(stream) state.
  * Per micro-batch, the same logic is a handful of static joins that AQE
  * plans with actual batch statistics, the corpus re-reads fresh each
  * round (so growth is visible), and the streaming runtime contributes
  * exactly what it is good at: source offsets, retries, and trigger
  * cadence. This is the composition Spark's own guide recommends for
  * logic a streaming DAG cannot express.
  *
  * Divergences from the one-shot batch assembly, both inherent to
  * ingestion and stated here once:
  *  - the quality gate scores against a FROZEN pre-trained LM
  *    ([[Corpus.qualityGateAgainst]]; train once with [[Corpus.lmCounts]],
  *    persist with `MetaPersist.writeModel`) — a stable bar, where the
  *    batch gate's self-trained thresholds drift with the input slice;
  *  - there is no per-source cap or shard packing: both are GLOBAL
  *    orderings over the final corpus, meaningless per batch — run them as
  *    a batch step over the accepted store when training data is cut;
  *  - duplicate attribution depends on arrival grouping: two near-dups in
  *    ONE batch resolve by canonical election (`"duplicate"`, lowest id
  *    wins); across batches the earlier-accepted doc wins
  *    (`"duplicate_corpus"`). The ACCEPTED SET is the same whenever ids
  *    are arrival-ordered — only the label differs.
  *
  * Exactly-once: `foreachBatch` delivers a batch at-least-once on retry,
  * so both stores are written as OVERWRITE-BY-BATCH partitions
  * (`<dir>/batch_id=N`) and the per-batch corpus read EXCLUDES the
  * current batch's own partition. A replayed batch therefore sees exactly
  * the corpus view its first attempt saw (its own half-written partition
  * is invisible), recomputes the identical deterministic verdicts, and
  * overwrites its own two partitions in place — the observable store and
  * audit state after a replay is identical to a single clean delivery, with
  * no contradictory audit rows and no double-append. `batch_id` surfaces on
  * read as a partition column (partition-inferred integer type).
  */
object Ingest {

  /** One micro-batch through the ingestion stages: frozen-LM quality gate →
    * in-batch winnowing near-dedup (canonical election) → batch-vs-corpus
    * winnowing near-dedup → benchmark decontamination → deterministic
    * split. Returns one AUDIT row per batch doc with first-failing-stage
    * attribution: (id, source, lang, n_tokens, drop_stage, keep, split);
    * `drop_stage` ∈ null_id | quality | duplicate | duplicate_corpus |
    * contaminated, null for accepted docs (which carry their split).
    * A NULL-id doc cannot be deduplicated, attributed, or looked up again —
    * it is dropped at stage 0 with its own `null_id` verdict (n_tokens
    * null: it never reaches the gate) rather than silently vanishing into
    * the id-keyed stage joins.
    *
    * The corpus must carry the batch's `idCol`/`textCol` columns.
    * Pure batch function (usable standalone for backfills); every stage is
    * deterministic, so the audit table is exactly reproducible from
    * (batch, corpus, benchmark, counts). Stage verdict tables are pinned
    * ([[graft.operators.Materialize.pin]]) exactly as in the batch
    * assembly — each feeds both the next stage's survivor filter and the
    * final audit join. */
  def assembleMicroBatch(
      batch: DataFrame,
      corpus: DataFrame,
      benchmark: DataFrame,
      lmCounts: DataFrame,
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
      valPct: Int = 10): DataFrame = {
    val base = batch.select(
      col(idCol).as("id"), col(textCol).as("text"),
      col(sourceCol).as("source"), col(langCol).as("lang"))
    // stage 0: drop NULL ids before the id-keyed stage chain — every later
    // join is a plain Seq("id") join where a null key matches nothing, so
    // without this gate a null-id doc would drift through with all-null
    // stage columns and pick up an arbitrary verdict
    val valid = base.filter(col("id").isNotNull)
    // the corpus carries the same idCol/textCol names as the batch
    val corpusNorm = corpus.select(col(idCol).as("id"), col(textCol).as("text"))

    // 1. quality gate against the frozen LM
    val gate = Materialize.pin(
      Corpus.qualityGateAgainst(valid, lmCounts, "id", "text", minTokens, maxTokens,
          maxTopNgramFrac, maxDupNgramFrac, maxAvgNll)
        .select(col("id"), col("n_tokens"), col("keep").as("gate_keep")))
    val kept1 = valid.join(gate.filter(col("gate_keep")).select("id"), Seq("id"), "left_semi")

    // 2. in-batch near-dedup, keep-canonical (lowest id of each cluster)
    val dd = Materialize.pin(
      Dedup.winnowNearDup(kept1, "id", "text", minJaccard = minJaccard,
          shingleWidth = shingleWidth)
        .select(col("id"), (col("cluster_id") <=> col("id")).as("canonical")))
    val kept2 = kept1.join(dd.filter(col("canonical")).select("id"), Seq("id"), "left_semi")

    // 3. batch-vs-corpus near-dedup: candidates are fingerprint collisions
    // only, the corpus never self-joins — O(corpus + batch + candidates)
    val cm = Materialize.pin(
      Dedup.winnowIncremental(corpusNorm, kept2, "id", "text", minJaccard = minJaccard,
          shingleWidth = shingleWidth)
        .filter(col("matched_id").isNotNull)
        .select(col("id"), lit(true).as("corpus_dup")))
    val kept3 = kept2.join(cm.select("id"), Seq("id"), "left_anti")

    // 4. decontamination against the (broadcast) benchmark shingle set
    val dec = Materialize.pin(
      Corpus.decontaminate(kept3, benchmark, "id", "text", shingleWidth, minShared)
        .select(col("id"), col("contaminated")))
    val kept4 = kept3.join(dec.filter(!col("contaminated")).select("id"), Seq("id"), "left_semi")

    // 5. deterministic split of the accepted docs
    val splits = Corpus.hashSplit(kept4, "id", salt, trainPct, valPct)
      .select(col("id"), col("split"))

    base.select(col("id"), col("source"), col("lang"))
      .join(gate, Seq("id"), "left")
      .join(dd, Seq("id"), "left")
      .join(cm, Seq("id"), "left")
      .join(dec, Seq("id"), "left")
      .join(splits, Seq("id"), "left")
      .withColumn("drop_stage",
        when(col("id").isNull, "null_id")
          .when(!col("gate_keep"), "quality")
          .when(!coalesce(col("canonical"), lit(false)), "duplicate")
          .when(coalesce(col("corpus_dup"), lit(false)), "duplicate_corpus")
          .when(col("contaminated"), "contaminated"))
      .withColumn("keep", col("drop_stage").isNull)
      .select(col("id"), col("source"), col("lang"), col("n_tokens"),
        col("drop_stage"), col("keep"), col("split"))
  }

  /** Wires [[assembleMicroBatch]] into a running ingestion query: per
    * micro-batch, re-reads the accepted-corpus store (growth from prior
    * batches included, the current batch's own partition excluded — see the
    * exactly-once contract above), assembles, overwrites the batch's audit
    * partition under `auditDir`, and overwrites the batch's accepted
    * documents under `corpusDir`. The corpus store starts empty when
    * `corpusDir` does not exist yet — or seed it beforehand with an
    * existing corpus written as a `batch_id=-1` partition (the id no
    * checkpoint batch ever uses; [[compactStore]] produces the same
    * layout).
    *
    * The stream must carry (idCol, textCol, sourceCol, langCol). Blocks
    * nothing: returns the started query (AvailableNow by default — drain
    * what exists, then stop — pass a processing-time trigger for 24/7). */
  def ingestCorpus(
      stream: DataFrame,
      corpusDir: String,
      auditDir: String,
      benchmark: DataFrame,
      lmCounts: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      langCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
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
      valPct: Int = 10): StreamingQuery = {
    stream.writeStream
      .queryName("graft_ingest_corpus")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val base = batch.select(
          col(idCol).as("id"), col(textCol).as("text"),
          col(sourceCol).as("source"), col(langCol).as("lang"))
        runBatch(base, batchId, corpusDir, auditDir, benchmark, lmCounts,
          minTokens, maxTokens, maxTopNgramFrac, maxDupNgramFrac, maxAvgNll,
          minJaccard, shingleWidth, minShared, salt, trainPct, valPct)
      }
      .start()
  }

  /** One delivery of one micro-batch — the `foreachBatch` body, factored
    * out so the replay contract is directly testable: calling it twice with
    * the same (base, batchId) leaves both stores in the identical state.
    * `base` must already carry the normalized (id, text, source, lang)
    * columns. Both writes are whole-partition overwrites of this batch's
    * own `batch_id=N` subdirectory; the corpus view excludes that
    * partition, so the verdicts a replay computes are bit-identical to the
    * first attempt's. Audit first, then corpus: a crash between the two
    * replays into the same overwrites either way. The delivery owns
    * everything it materializes ([[Materialize.owned]]): after both writes
    * its stage pins, the operators' internal pins and their kept loop
    * rounds are freed. */
  private[graft] def runBatch(
      base: DataFrame,
      batchId: Long,
      corpusDir: String,
      auditDir: String,
      benchmark: DataFrame,
      lmCounts: DataFrame,
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
      valPct: Int = 10): Unit = {
    val spark = base.sparkSession
    val corpus = readCorpus(spark, corpusDir, excludeBatchId = batchId)
      .getOrElse(base.limit(0))
    Materialize.owned {
      val audit = assembleMicroBatch(base, corpus, benchmark, lmCounts,
        "id", "text", "source", "lang", minTokens, maxTokens,
        maxTopNgramFrac, maxDupNgramFrac, maxAvgNll, minJaccard,
        shingleWidth, minShared, salt, trainPct, valPct)
      audit.write.mode("overwrite").parquet(s"$auditDir/batch_id=$batchId")
      base.join(audit.filter(col("keep")).select("id"), Seq("id"), "left_semi")
        .write.mode("overwrite").parquet(s"$corpusDir/batch_id=$batchId")
    }
  }

  /** One micro-batch through the CURATION (edit-pipeline) stages — the
    * ingestion twin of [[graft.operators.Assembly.curateCorpus]], against
    * frozen artifacts: corpus-precedence line dedup vs the ACCEPTED store
    * (rewrite), surgical span decontamination vs the benchmark (excision
    * of the rewrite), and the frozen-vocabulary OOV gate over the final
    * text (`Corpus.vocabCoverageAgainst` — train once, persist as a
    * `vocab_model` artifact). Unlike [[assembleMicroBatch]] this chain
    * REWRITES documents: the accepted store carries the final text, so
    * batch N+1's line store dedups against exactly what batch N admitted
    * — the canon, not the raw submissions. Deterministic end to end, so
    * the replay contract is inherited unchanged. Returns one audit row
    * per batch doc: (id, source, lang, n_removed_lines, n_decont_tokens,
    * oov_frac, drop_stage ∈ null_id | oov, keep, split, text_final —
    * callers that persist the audit drop the text payload). */
  def curateMicroBatch(
      batch: DataFrame,
      corpus: DataFrame,
      benchmark: DataFrame,
      vocabModel: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      langCol: String,
      sep: String = "\n",
      spanLen: Int = 20,
      maxOovFrac: Double = 0.025,
      salt: String = "graft",
      trainPct: Int = 80,
      valPct: Int = 10,
      piiPatterns: Seq[(String, String, String)] = Nil): DataFrame = {
    val base = batch.select(
      col(idCol).as("id"), col(textCol).as("text"),
      col(sourceCol).as("source"), col(langCol).as("lang"))
    val valid = base.filter(col("id").isNotNull)
    val corpusNorm = corpus.select(col(idCol).as("id"), col(textCol).as("text"))
    // the benchmark side only contributes its distinct span hashes — its id
    // never survives the store projection, so no id column is required of it
    val benchNorm = benchmark.select(lit(0L).as("id"), col(textCol).as("text"))

    // 1. corpus-precedence line dedup vs the accepted store (rewrite)
    val ld = Materialize.pin(
      Corpus.lineDedupAgainst(valid, corpusNorm, "id", "text", sep)
        .select(col("id"), col("n_removed_lines"), col("text_deduped")))

    // 2. surgical span decontamination of the rewrite vs the benchmark
    val dec0 = Materialize.pin(
      Corpus.decontaminateSpans(
          ld.select(col("id"), col("text_deduped").as("text")), benchNorm, "id", "text", spanLen)
        .select(col("id"), col("n_removed_tokens").as("n_decont_tokens"),
          col("text_deduped").as("text_final")))

    // 2.5 (optional) audited PII masking — the stage between span excision
    // and the OOV gate, inside the exactly-once contract: text_final (what
    // the store persists) becomes the MASKED text and the audit carries the
    // per-category counts. piiPatterns = Nil keeps the legacy schema.
    val piiCountCols = piiPatterns.map { case (n, _, _) => s"n_$n" } :+ "n_pii"
    val dec = if (piiPatterns.isEmpty) dec0
      else Materialize.pin(
        dec0.drop("text_final").join(
          Corpus.redactPiiAudited(
            dec0.select(col("id"), col("text_final").as("text")), "id", "text", piiPatterns)
            .withColumnRenamed("text_redacted", "text_final"),
          Seq("id")))

    // 3. frozen-vocabulary OOV gate over the final text
    val oov = Materialize.pin(
      Corpus.vocabCoverageAgainst(
          dec.select(col("id"), col("text_final").as("text")), vocabModel, "id", "text")
        .select(col("id"), col("oov_frac")))
    val kept = dec.join(oov.filter(col("oov_frac") <= maxOovFrac).select("id"),
      Seq("id"), "left_semi")

    // 4. deterministic split of the accepted docs
    val splits = Corpus.hashSplit(kept, "id", salt, trainPct, valPct)
      .select(col("id"), col("split"))

    base.select(col("id"), col("source"), col("lang"))
      .join(ld.select(col("id"), col("n_removed_lines")), Seq("id"), "left")
      .join(dec, Seq("id"), "left")
      .join(oov, Seq("id"), "left")
      .join(splits, Seq("id"), "left")
      .withColumn("drop_stage",
        when(col("id").isNull, "null_id")
          .when(col("oov_frac") > maxOovFrac, "oov"))
      .withColumn("keep", col("drop_stage").isNull)
      .select(Seq(col("id"), col("source"), col("lang"), col("n_removed_lines"),
        col("n_decont_tokens")) ++
        (if (piiPatterns.isEmpty) Nil else piiCountCols.map(col)) ++
        Seq(col("oov_frac"), col("drop_stage"), col("keep"),
          col("split"), col("text_final")): _*)
  }

  /** Wires [[curateMicroBatch]] into a running ingestion query — same
    * exactly-once contract and store layout as [[ingestCorpus]]
    * (overwrite-by-batch partitions, own-partition-excluded corpus read,
    * [[compactStore]]-compatible), but the store rows carry the REWRITTEN
    * final text plus the split. */
  def ingestCurated(
      stream: DataFrame,
      corpusDir: String,
      auditDir: String,
      benchmark: DataFrame,
      vocabModel: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      langCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      sep: String = "\n",
      spanLen: Int = 20,
      maxOovFrac: Double = 0.025,
      salt: String = "graft",
      trainPct: Int = 80,
      valPct: Int = 10,
      piiPatterns: Seq[(String, String, String)] = Nil): StreamingQuery = {
    stream.writeStream
      .queryName("graft_ingest_curated")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val base = batch.select(
          col(idCol).as("id"), col(textCol).as("text"),
          col(sourceCol).as("source"), col(langCol).as("lang"))
        runCuratedBatch(base, batchId, corpusDir, auditDir, benchmark, vocabModel,
          sep, spanLen, maxOovFrac, salt, trainPct, valPct, piiPatterns)
      }
      .start()
  }

  /** One delivery of one CURATED micro-batch — the testable replay body,
    * mirroring [[runBatch]]: audit partition first (minus the text
    * payload), then the accepted store partition carrying the final
    * rewritten text; both whole-partition overwrites of `batch_id=N`;
    * everything the delivery materialized is freed after the writes. */
  private[graft] def runCuratedBatch(
      base: DataFrame,
      batchId: Long,
      corpusDir: String,
      auditDir: String,
      benchmark: DataFrame,
      vocabModel: DataFrame,
      sep: String = "\n",
      spanLen: Int = 20,
      maxOovFrac: Double = 0.025,
      salt: String = "graft",
      trainPct: Int = 80,
      valPct: Int = 10,
      piiPatterns: Seq[(String, String, String)] = Nil): Unit = {
    val spark = base.sparkSession
    val corpus = readCorpus(spark, corpusDir, excludeBatchId = batchId)
      .getOrElse(base.limit(0))
    Materialize.owned {
      val audit = curateMicroBatch(base, corpus, benchmark, vocabModel,
        "id", "text", "source", "lang", sep, spanLen, maxOovFrac, salt, trainPct, valPct,
        piiPatterns)
      audit.drop("text_final").write.mode("overwrite").parquet(s"$auditDir/batch_id=$batchId")
      audit.filter(col("keep"))
        .select(col("id"), col("text_final").as("text"), col("source"), col("lang"), col("split"))
        .write.mode("overwrite").parquet(s"$corpusDir/batch_id=$batchId")
    }
  }

  /** The accepted-corpus store with the given batch's own partition
    * excluded (partition-pruned — a replayed batch must not see its first
    * attempt's output), or None before the first batch created the store.
    * Fresh read per call — each micro-batch must see prior batches'
    * partitions. */
  private def readCorpus(
      spark: SparkSession, dir: String, excludeBatchId: Long): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      Some(spark.read.parquet(dir)
        .filter(col("batch_id") =!= lit(excludeBatchId))
        .drop("batch_id"))
    else None
  }

  /** Compacts an [[ingestCorpus]] store: every micro-batch writes its own
    * `batch_id=N` partition with a handful of files, so a long-running
    * ingestion accumulates thousands of small parquet files and partitions
    * — the small-files problem that makes the per-batch corpus re-read
    * (and any downstream scan) open-file-bound instead of byte-bound.
    * Merges every batch partition EXCEPT the newest into a single
    * `batch_id=-1` epoch partition of `max(1, ceil(bytes /
    * targetFileBytes))` files (-1 is an id no checkpoint batch ever uses,
    * so the epoch can never be the target of a replay overwrite); the
    * newest partition is rewritten as-is, NOT merged, because it may be the
    * one uncommitted batch a crashed query will replay on restart — its
    * replay overwrite must find only its own partition holding its docs.
    * Compaction therefore composes with the exactly-once replay contract
    * in EVERY crash state, not just after a clean stop. A store without
    * `batch_id=` partitions (a pre-partitioned-layout or externally built
    * append store) compacts flat, same file-count contract.
    *
    * Swap: write to `<dir>.compact`, rename the live dir aside, rename the
    * compacted dir in, delete the old. The swap window is two renames; run
    * it from the single writer (between triggers, or while the query is
    * stopped) — the store has exactly one writer by [[ingestCorpus]]
    * design, so no second process can write mid-swap. Returns the data-file
    * count after compaction.
    *
    * Row content is preserved exactly; a failure before the first rename
    * leaves the live store untouched, and after it the compacted data is
    * complete on disk. Re-running is safe in every crash state: a crash in
    * the two-rename window (live dir missing, `<dir>.compact` complete on
    * disk) is detected on entry and rolled FORWARD (the compacted dir
    * becomes live — it could only have gone missing after its write
    * completed), and the residual no-compact state (live missing, only
    * `<dir>.old` present) is rolled BACK. */
  def compactStore(
      spark: SparkSession,
      dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetFileBytes >= 1, "targetFileBytes must be positive")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverHalfSwap(fs, dir)
    require(fs.exists(p), s"no store at $dir")
    val bytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val tmp = new org.apache.hadoop.fs.Path(dir + ".compact")
    val old = new org.apache.hadoop.fs.Path(dir + ".old")
    fs.delete(tmp, true); fs.delete(old, true)
    val batchIds = fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(_.getPath.getName.stripPrefix("batch_id=").toLong)
    if (batchIds.isEmpty) {
      spark.read.parquet(dir).coalesce(nFiles)
        .write.mode("overwrite").parquet(tmp.toString)
    } else {
      val newest = batchIds.max
      val df = spark.read.parquet(dir)
      // newest == -1 means the store is already a lone epoch: re-coalesce it
      val merged = if (newest == -1L) df else df.filter(col("batch_id") =!= newest)
      merged.drop("batch_id").coalesce(nFiles)
        .write.mode("overwrite").parquet(s"$tmp/batch_id=-1")
      if (newest != -1L)
        df.filter(col("batch_id") === newest).drop("batch_id")
          .write.mode("overwrite").parquet(s"$tmp/batch_id=$newest")
    }
    require(fs.rename(p, old), s"could not move the live store aside: $dir")
    require(fs.rename(tmp, p), s"could not move the compacted store in: $dir")
    fs.delete(old, true)
    dataFileCount(fs, p)
  }

  /** Compacts an [[ingestCorpus]] AUDIT store — the same small-files
    * problem as [[compactStore]], but audit rows must KEEP their batch
    * attribution: the `batch_id` partition is both the lineage record and
    * the replay-overwrite granularity, so partitions never merge into an
    * epoch. Instead every `batch_id=N` partition is rewritten as ONE file
    * in a single Spark job — the repartition keys on the partition value,
    * so each batch's rows land in one task and `partitionBy` emits exactly
    * one file per batch directory. (One file per batch is the right
    * contract here: a micro-batch's audit slice is per-doc verdict rows,
    * where file COUNT, not file size, is what makes long-running stores
    * open-file-bound.) Rows, schema, and partition layout are preserved
    * exactly; a replayed batch still overwrites precisely its own
    * partition, compacted or not, so this composes with the exactly-once
    * contract in every crash state. The swap is the same two-rename with
    * on-entry auto-recovery; run it from the single writer (between
    * triggers, or while the query is stopped). Returns the data-file
    * count after compaction. */
  def compactAuditStore(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverHalfSwap(fs, dir)
    require(fs.exists(p), s"no store at $dir")
    val tmp = new org.apache.hadoop.fs.Path(dir + ".compact")
    val old = new org.apache.hadoop.fs.Path(dir + ".old")
    fs.delete(tmp, true); fs.delete(old, true)
    val hasBatches = fs.listStatus(p).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("batch_id="))
    val df = spark.read.parquet(dir)
    if (hasBatches)
      df.repartition(col("batch_id")).write.mode("overwrite")
        .partitionBy("batch_id").parquet(tmp.toString)
    else df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    require(fs.rename(p, old), s"could not move the live store aside: $dir")
    require(fs.rename(tmp, p), s"could not move the compacted store in: $dir")
    fs.delete(old, true)
    dataFileCount(fs, p)
  }

  private def dataFileCount(
      fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path): Int = {
    val it = fs.listFiles(p, true)
    var n = 0
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** Detects and repairs the half-swapped crash state of a two-rename
    * directory swap (`<dir>` missing after the live dir was moved aside).
    * `<dir>.compact` can only exist without `<dir>` if its write completed
    * before the first rename, so roll forward: make it live. With only
    * `<dir>.old` present, roll back. With `<dir>` live this is a no-op —
    * leftover `.compact`/`.old` dirs are stale work the caller re-does. */
  private def recoverHalfSwap(fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir + ".compact")
    val old = new org.apache.hadoop.fs.Path(dir + ".old")
    if (!fs.exists(p)) {
      if (fs.exists(tmp)) {
        require(fs.rename(tmp, p), s"half-swap roll-forward failed: $dir")
        fs.delete(old, true)
      } else if (fs.exists(old)) {
        require(fs.rename(old, p), s"half-swap roll-back failed: $dir")
      }
    }
  }
}
