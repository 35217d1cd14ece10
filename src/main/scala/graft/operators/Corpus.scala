package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-assembly operators for training-data pipelines (SURVEY.md §2.3):
  * the deterministic split / decontamination / per-domain-cap steps that sit
  * between dedup and shard packing in a real 100 TB run. All three are
  * row-local or broadcast-sided — none shuffles the text payload.
  */
object Corpus {

  /** Deterministic weighted sampling WITHOUT replacement (the
    * Efraimidis–Spirakis 2006 A-ES scheme): each row draws a
    * hash-deterministic uniform u ∈ (0, 1] and ranks by `ln(u) / w`
    * descending — the top-k under that key is a weighted sample without
    * replacement where inclusion probability is proportional to weight.
    * The uniform comes from the first 13 md5 hex chars of (id ":" salt)
    * (52 bits — exactly a double's mantissa, so `(h+1) / 2^52` is an
    * exact dyadic in (0, 1], never 0): a pure function of (id, salt),
    * reproducible across engines, partitionings, and corpus growth, which
    * `sample()` / `rand()` cannot promise. The sort key quantizes ONCE to
    * micro units (`round((ln(u)/w) · 1e6)`) so the ranking is an integer
    * order with id tiebreaks — bit-stable against the SQL oracle.
    *
    * Rows with NULL or non-positive weight are never selected (A-ES is
    * defined for w > 0).
    *
    * Scale shape: row-local key computation on the scan, then the global
    * top-k is orderBy+limit — TakeOrderedAndProject per-partition heaps,
    * no full sort, no shuffle of the corpus.
    *
    * Returns (rank, <idCol>, weight, key_micro), rank 1..k by
    * (key_micro desc, id asc). */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Int,
      salt: String): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val h = conv(substring(
      md5(concat(col(idCol).cast("string"), lit(":" + salt))), 1, 13),
      16, 10).cast("long")
    val u = (h + lit(1L)) / lit(4503599627370496.0) // 2^52
    val keyMicro = round((log(u) / col(weightCol).cast("double")) * lit(1e6))
      .cast("long")
    val keyed = df
      .filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .select(col(idCol), col(weightCol).cast("double").as("weight"),
        keyMicro.as("key_micro"))
    val top = keyed.orderBy(col("key_micro").desc, col(idCol).asc).limit(k)
    top
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("key_micro").desc, col(idCol).asc)).cast("long"))
      .select(col("rank"), col(idCol), col("weight"), col("key_micro"))
  }

  /** Per-group [[weightedSample]]: the same A-ES key, ranked WITHIN each
    * `stratumCol` group — the weighted counterpart of
    * [[stratifiedSample]]'s uniform per-stratum draw (quota sampling where
    * within-stratum inclusion is still ∝ weight). One stratum-key window
    * whose rank filter pushes down as WindowGroupLimit (bounded per-group
    * state), no global order.
    *
    * Returns (<stratumCol>, rank, <idCol>, weight, key_micro), rank
    * 1..kPerGroup within each stratum by (key_micro desc, id asc). */
  def weightedSampleBy(
      df: DataFrame,
      stratumCol: String,
      idCol: String,
      weightCol: String,
      kPerGroup: Int,
      salt: String): DataFrame = {
    require(kPerGroup >= 1, "kPerGroup must be at least 1")
    val h = conv(substring(
      md5(concat(col(idCol).cast("string"), lit(":" + salt))), 1, 13),
      16, 10).cast("long")
    val u = (h + lit(1L)) / lit(4503599627370496.0) // 2^52
    val keyMicro = round((log(u) / col(weightCol).cast("double")) * lit(1e6))
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(col("key_micro").desc, col(idCol).asc)
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .select(col(stratumCol), col(idCol),
        col(weightCol).cast("double").as("weight"), keyMicro.as("key_micro"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= kPerGroup)
      .select(col(stratumCol), col("rank"), col(idCol), col("weight"),
        col("key_micro"))
  }

  /** Deterministic, engine-portable dataset split: bucket = (first 8 hex
    * chars of md5(id ":" salt) as an integer) mod 100, split label by bucket
    * thresholds. Unlike `randomSplit` (sample-based, dependent on partition
    * layout and row order), the assignment is a pure function of the id —
    * reproducible across runs, engines, and cluster layouts, and STABLE
    * under corpus growth: a document never changes split when new data
    * arrives, which is what keeps eval sets uncontaminated across dataset
    * versions. Row-local (no shuffle at any scale); md5 keeps the bucket
    * arithmetic exactly re-derivable by any SQL engine. A NULL id yields a
    * NULL bucket and deterministically lands in "test" (the CASE fallback
    * branch — same in ANSI SQL), never in the training split.
    *
    * @param trainPct buckets [0, trainPct) → "train"
    * @param valPct   buckets [trainPct, trainPct+valPct) → "val";
    *                 the rest → "test"
    */
  def hashSplit(
      df: DataFrame,
      idCol: String,
      salt: String,
      trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      "trainPct/valPct must be non-negative and sum to at most 100")
    df.withColumn("bucket", hashBucket(idCol, salt))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** Leakage-safe split: [[hashSplit]] keyed on the NEAR-DUP COMPONENT
    * instead of the row id, so two near-duplicate documents can never
    * straddle a train/eval boundary — the eval-leak failure mode a plain
    * id-hash split cannot prevent (a paraphrase of a training doc landing
    * in val inflates every metric it touches). The caller supplies the
    * near-dup pair source (`minHashLsh` candidates, `winnowPairs`,
    * `FuzzyJoin.editDistancePairs`, …) so the leakage definition matches
    * whatever dedup discipline the pipeline already uses.
    *
    * Every input row gets exactly one output row with its `component`
    * (its own id when unpaired — then the assignment degenerates to the
    * plain [[hashSplit]] of the id), `bucket`, and `split`. Rows with a
    * NULL id keep hashSplit's NULL→test convention. Scale shape:
    * components are checkpointed pointer jumping over the PAIR graph
    * only; the corpus side pays one id-key join against the (far
    * smaller) component labeling, and the bucket/split columns are
    * row-local md5 arithmetic. */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      idACol: String,
      idBCol: String,
      salt: String,
      trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    val comp = Dedup.connectedComponents(
        pairs.select(col(idACol).as("id_a"), col(idBCol).as("id_b")),
        "id_a", "id_b")
      .withColumnRenamed("id", "__cc_id")
    val assigned = df
      .join(comp, col(idCol) === col("__cc_id"), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .drop("__cc_id")
    hashSplit(assigned, "component", salt, trainPct, valPct)
  }

  /** Incremental twin of [[leakageSafeSplit]] — the daily-ingestion shape:
    * NEW documents must respect the split assignments already frozen for
    * the corpus, or yesterday's train doc re-crawled today lands in val
    * and leaks. Batch-internal near-dup pairs group the batch into
    * components (checkpointed pointer jumping over the batch pair graph
    * only); a component with ANY cross pair into the corpus INHERITS the
    * split of the minimum matched corpus id (deterministic, and pinned:
    * all members inherit together, so a component can never straddle);
    * un-matched components fall back to the plain component-keyed hash
    * split — a batch with no corpus matches reproduces
    * [[leakageSafeSplit]] exactly (pinned). The corpus side contributes
    * only its (id, split) table and the caller-supplied cross pairs — the
    * corpus never self-joins here (the incremental-dedup cost contract).
    *
    * Returns one row per batch row:
    * (idCol, component, inherited_from, bucket, split) — `inherited_from`
    * is the minimum matched corpus id (NULL when hash-assigned), `bucket`
    * is NULL on inherited rows (their split came from the corpus, not the
    * md5 wheel). */
  def leakageSafeSplitIncremental(
      batch: DataFrame,
      idCol: String,
      batchPairs: DataFrame,
      pairIdACol: String,
      pairIdBCol: String,
      corpusSplits: DataFrame,
      corpusIdCol: String,
      corpusSplitCol: String,
      crossPairs: DataFrame,
      crossBatchIdCol: String,
      crossCorpusIdCol: String,
      salt: String,
      trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    val comp = Dedup.connectedComponents(
        batchPairs.select(col(pairIdACol).as("id_a"), col(pairIdBCol).as("id_b")),
        "id_a", "id_b")
      .withColumnRenamed("id", "__cc_id")
    val assigned = batch
      .join(comp, col(idCol) === col("__cc_id"), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .drop("__cc_id")
    // per component: the minimum matched corpus id — restricted to ids
    // PRESENT in corpusSplits (join before the min): if the raw minimum
    // matched id had no frozen split row, an after-the-min inner join
    // would silently drop the whole component back to the hash split even
    // when OTHER matched ids do carry frozen splits — a quiet leakage
    // path whenever crossPairs and corpusSplits drift apart
    val inherits = assigned
      .select(col(idCol).as("__bid"), col("component"))
      .join(crossPairs.select(col(crossBatchIdCol).as("__bid"),
        col(crossCorpusIdCol).as("__cid")), Seq("__bid"))
      .join(corpusSplits.select(col(corpusIdCol).as("__cid"),
        col(corpusSplitCol).as("__cid_split")), Seq("__cid"))
      .groupBy(col("component"))
      .agg(min(struct(col("__cid").as("inherited_from"),
        col("__cid_split").as("__inh_split"))).as("__m"))
      .select(col("component"), col("__m.inherited_from").as("inherited_from"),
        col("__m.__inh_split").as("__inh_split"))
    val hashed = hashSplit(assigned, "component", salt, trainPct, valPct)
    hashed
      .join(inherits, Seq("component"), "left")
      .withColumn("split",
        when(col("inherited_from").isNotNull, col("__inh_split"))
          .otherwise(col("split")))
      .withColumn("bucket",
        when(col("inherited_from").isNotNull, lit(null).cast("long"))
          .otherwise(col("bucket")))
      .select(batch.columns.map(col) ++
        Seq(col("component"), col("inherited_from"), col("bucket"), col("split")): _*)
  }

  /** Benchmark decontamination: flags corpus documents sharing at least
    * `minShared` distinct w-token shingles with ANY benchmark document —
    * the standard eval-leak scrub before training. The benchmark side (eval
    * suites) is tiny by construction, so its distinct shingle-hash set
    * BROADCASTS; the corpus side is one row-local shingle explode joined
    * against that broadcast and re-grouped on the doc id — the corpus never
    * self-joins and its text payload never shuffles, so cost is O(corpus
    * shingles) at any scale. Shingles travel as rolled 64-bit hashes
    * (same representation as the dedup family).
    *
    * On a streaming corpus (`corpus.isStreaming`) the plan is row-local
    * and STATELESS (append mode, zero streaming state): the benchmark's
    * distinct shingles collapse to ONE static row, every stream row
    * crossJoins it and counts its overlap with `array_intersect` — the
    * join-then-regroup shape would need an update-mode aggregate with
    * O(stream ids) state. A stream scores per row, so NULL and duplicate
    * ids are not grouped into one pseudo-doc; with unique ids both plans
    * give the same rows (pinned in StreamingSpec).
    *
    * Returns one row per corpus doc: (id, n_shared_shingles, contaminated).
    */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3,
      minShared: Long = 1L): DataFrame = {
    require(minShared >= 1, "minShared must be at least 1")
    val shingleSet = shingleSetCol(textCol, shingleWidth)
    val benchShingles = benchmark.select(explode(shingleSet).as("s")).distinct()
    if (corpus.isStreaming) {
      // NULL text null-propagates through the intersect; coalesce restores
      // the batch plan's (0, false)
      val nShared = coalesce(
        size(array_intersect(col("sh"), col("bench_sh"))).cast("long"), lit(0L))
      return corpus.select(col(idCol).as("id"), shingleSet.as("sh"))
        .crossJoin(benchShingles.agg(collect_set(col("s")).as("bench_sh")))
        .select(col("id"), nShared.as("n_shared_shingles"),
          (nShared >= minShared).as("contaminated"))
    }
    val corpusShingles = corpus.select(col(idCol).as("id"), explode(shingleSet).as("s"))
    val shared = corpusShingles
      .join(broadcast(benchShingles), Seq("s"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_shared_shingles"))
      .withColumnRenamed("id", "__shared_id")
    // null-safe re-attach: NULL-id rows group as ONE pseudo-doc upstream (a
    // groupBy key, like any aggregation) — a plain equi-join would silently
    // zero their counts here
    corpus.select(col(idCol).as("id"))
      .join(shared, col("id") <=> col("__shared_id"), "left")
      .select(
        col("id"),
        coalesce(col("n_shared_shingles"), lit(0L)).as("n_shared_shingles"),
        (coalesce(col("n_shared_shingles"), lit(0L)) >= minShared).as("contaminated"))
  }

  /** The distinct w-token shingle set of a text column as rolled 64-bit
    * hashes — the representation shared by [[decontaminate]],
    * [[decontaminateBloom]], and the dedup family. */
  private def shingleSetCol(textCol: String, shingleWidth: Int): Column =
    array_distinct(graft.expressions.MinHashSignature.shingleHashes(
      transform(graft.functions.TextFunctions.tokens(col(textCol)), t => xxhash64(t)),
      shingleWidth))

  /** [[decontaminate]]'s 100 TB-broadcast scale path: IDENTICAL output (one
    * row per corpus doc, same counts, same flags — the declared query
    * shares [[decontaminate]]'s exact oracle), different candidate plumbing.
    *
    * The exact operator broadcasts the full distinct benchmark shingle-hash
    * set to every task — at a 100M-shingle eval suite that is a ~800 MB
    * exact broadcast. Here the benchmark side instead aggregates into ONE
    * Bloom filter binary (Spark's `BloomFilterAggregate`, delivered to
    * executors as a scalar-subquery literal — the same mechanism as Spark's
    * own runtime join filters): ~1.1 GB of exact set becomes
    * `-n·ln(fpp)/ln²2` BITS (e.g. 100M shingles at 3% fpp ≈ 87 MB), and the
    * corpus-side prefilter is one row-local `might_contain` probe that
    * drops ~(1−fpp) of the non-matching shingle stream before anything
    * shuffles. Bloom filters have NO false negatives, so the prefilter
    * loses nothing; the surviving sliver (true matches + fpp stragglers)
    * then confirms against the exact benchmark set with a plain equi-join —
    * which AQE sizes off the post-filter statistics (broadcast when tiny,
    * shuffle when not; at 100 TB the confirm join shuffles only the
    * surviving (id, hash) pairs, never text, never the full corpus shingle
    * stream). False positives die in the confirm join, which is why the
    * output is bit-identical to [[decontaminate]] at ANY fpp — the dial
    * trades prefilter selectivity against filter size, not correctness.
    *
    * `expectedShingles` sizes the filter for the DISTINCT benchmark shingle
    * count; undersizing degrades fpp (more confirm-join traffic), never
    * correctness. `numBits` is clamped to Spark's
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` ceiling by the
    * aggregate itself. The benchmark side tokenizes twice (once into the
    * bloom subquery, once into the confirm set) — the benchmark is tiny by
    * this operator's contract, and keeping both derivations lazy beats
    * forcing an eager checkpoint at operator-construction time.
    */
  def decontaminateBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3,
      minShared: Long = 1L,
      expectedShingles: Long = 4L * 1000 * 1000,
      fpp: Double = 0.03): DataFrame = {
    require(minShared >= 1, "minShared must be at least 1")
    require(expectedShingles >= 1, "expectedShingles must be at least 1")
    require(fpp > 0.0 && fpp < 1.0, "fpp must be in (0, 1)")
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge

    val shingleSet = shingleSetCol(textCol, shingleWidth)
    val benchShingles = benchmark.select(explode(shingleSet).as("s")).distinct()
    val numBits = math.max(64L,
      math.ceil(-expectedShingles.toDouble * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bloomDf = benchShingles.agg(
      graftbridge.toColumn(new BloomFilterAggregate(
          graftbridge.toExpression(col("s")),
          Literal(expectedShingles), Literal(numBits))
        .toAggregateExpression()).as("bf"))
    val mightContain = graftbridge.toColumn(BloomFilterMightContain(
      ScalarSubquery(bloomDf.queryExecution.analyzed),
      graftbridge.toExpression(col("s"))))

    val candidates = corpus
      .select(col(idCol).as("id"), explode(shingleSet).as("s"))
      .filter(mightContain)
    // exact confirm: false positives die here; no broadcast() hint — AQE
    // sizes the join off the post-prefilter statistics
    val shared = candidates
      .join(benchShingles, Seq("s"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_shared_shingles"))
      .withColumnRenamed("id", "__shared_id")
    corpus.select(col(idCol).as("id"))
      .join(shared, col("id") <=> col("__shared_id"), "left")
      .select(
        col("id"),
        coalesce(col("n_shared_shingles"), lit(0L)).as("n_shared_shingles"),
        (coalesce(col("n_shared_shingles"), lit(0L)) >= minShared).as("contaminated"))
  }

  /** The md5 hex-prefix bucket shared by [[hashSplit]] and [[mixSources]]:
    * (first 8 hex chars of md5(id ":" salt)) mod 100 — a pure row-local
    * function of the id, exactly re-derivable by any SQL engine. */
  private def hashBucket(idCol: String, salt: String): Column =
    conv(substring(md5(concat(col(idCol).cast("string"), lit(":" + salt))), 1, 8),
      16, 10).cast("long") % 100

  /** Deterministic corpus mixing: downsamples each source to a target
    * retention percentage — the data-mixing step that turns raw per-source
    * crawls into a training mix ("keep 100% of wiki, 30% of web, 5% of
    * logs"). Retention is decided by the same md5 bucket as [[hashSplit]]
    * (different salt → independent assignment), so the mix is a pure
    * function of (id, salt): reproducible across engines and STABLE under
    * corpus growth — re-running on a grown corpus keeps every previously
    * kept doc, which sample()/randomSplit cannot promise. Row-local: no
    * shuffle at any scale, the filter pushes into the scan.
    *
    * Sources absent from `weights` retain `defaultPct`. A NULL source uses
    * `defaultPct`; a NULL id yields a NULL bucket and is dropped (NULL ids
    * never enter a training mix — same spirit as [[hashSplit]]'s NULL→test).
    *
    * @param weights source → retention percent in [0,100]
    */
  def mixSources(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      salt: String,
      weights: Map[String, Int],
      defaultPct: Int = 100): DataFrame = {
    require((defaultPct +: weights.values.toSeq).forall(p => p >= 0 && p <= 100),
      "retention percentages must be in [0,100]")
    val pct = weights.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (src, p)) => when(col(sourceCol) === src, lit(p)).otherwise(acc)
    }
    df.withColumn("bucket", hashBucket(idCol, salt))
      .withColumn("retain_pct", pct.cast("long"))
      .filter(col("bucket") < col("retain_pct"))
  }

  /** Temperature-balanced corpus mix — the multilingual sampling rule of
    * mT5 / XLM-R: source s contributes ∝ n_s^α with α < 1, flattening the
    * head so low-resource sources are not drowned. Fixed at α = 1/2, the
    * common production setting — and the one exponent whose power is
    * EXACTLY portable: `sqrt` is correctly-rounded IEEE in every engine,
    * while `pow(x, α)` is not, so a general-α quota could differ in the
    * last ulp and flip a floor boundary between the engine and its oracle.
    *
    * Mechanics: per-source weights w_s = round(√n_s · 1e6) as integers;
    * quota_s = min(n_s, ⌊budget · w_s / Σw⌋) in pure integer arithmetic
    * (`div`); the kept docs are each source's first `quota_s` rows in
    * md5(id:salt) digest order — the same randomness-as-pure-function
    * selection as [[stratifiedSample]], so the kept SET is reproducible
    * across engines and stable under reruns. ⌊·⌋ may leave a few budget
    * slots unused (Σ quota ≤ budget) — deterministic and documented,
    * never over budget.
    *
    * Scale: one narrow count per source (map-side combinable, ≤ |sources|
    * rows), quotas broadcast back, per-source window rank (parallel across
    * sources — no global order). `budget · w_s` must fit a long:
    * budget ≪ 9e12/√n_max — every real budget is. NULL-source rows join
    * through null-safely and form their own stratum. Returns the kept rows
    * with (mix_rank, n_source, keep_quota). */
  def temperatureMix(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      salt: String,
      budget: Long): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
    val weighted = counts.withColumn("__w",
      round(sqrt(col("__n").cast("double")) * lit(1e6)).cast("long"))
    val tot = weighted.agg(coalesce(sum(col("__w")), lit(0L)).as("__tw"))
    val quotas = weighted.crossJoin(broadcast(tot))
      .select(col(sourceCol).as("__src"), col("__n").as("n_source"),
        least(col("__n"),
          expr(s"($budget * __w) div __tw")).cast("long").as("keep_quota"))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(asc_nulls_last("__digest"), asc_nulls_last(idCol))
    df.withColumn("__digest", md5(concat(col(idCol).cast("string"), lit(":" + salt))))
      .withColumn("mix_rank", row_number().over(w).cast("long"))
      .join(broadcast(quotas), col(sourceCol) <=> col("__src"))
      .filter(col("mix_rank") <= col("keep_quota"))
      .drop("__digest", "__src")
  }

  /** Intra-document repetition signals (the Gopher-style quality rules):
    * per doc, over its overlapping n-token grams —
    * `n_ngrams` (total occurrences), `top_ngram_count` (occurrences of the
    * most frequent gram), `dup_ngram_count` (total occurrences of grams
    * appearing more than once), and the two fractions quality filters cut
    * on. Excessively repetitive documents (boilerplate, keyword stuffing,
    * decode garbage) score high and get dropped before training.
    *
    * Grams travel as the dedup family's rolled 64-bit shingle hashes, so
    * the per-(doc, gram) reduce shuffles 16-byte rows with full map-side
    * partial aggregation — never the text. Docs shorter than n tokens
    * count as ONE gram (the whole doc), matching the shingle convention
    * used by the dedup/decontamination operators. A NULL text yields zero
    * counts and 0.0 fractions.
    *
    * Returns one row per input row:
    * (id, n_ngrams, top_ngram_count, dup_ngram_count, top_ngram_frac,
    * dup_ngram_frac).
    */
  def repetitionStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2): DataFrame =
    repetitionStatsOf(df, col(idCol), graft.functions.TextFunctions.tokens(col(textCol)), n)

  /** [[repetitionStats]]' algebra over any (id, token array) pair of
    * columns of `df` — the public operator passes the text's tokens, the
    * quality gates the `__ts` column of their pinned [[gateTokens]]. */
  private def repetitionStatsOf(df: DataFrame, id: Column, toks: Column, n: Int): DataFrame = {
    require(n >= 1, "n must be at least 1")
    val grams = graft.expressions.MinHashSignature.shingleHashes(
      transform(toks, t => xxhash64(t)), n)
    val perGram = df.select(id.as("id"), explode(grams).as("h"))
      .groupBy("id", "h").agg(count(lit(1)).as("c"))
    val perDoc = perGram.groupBy("id").agg(
        sum(col("c")).as("n_ngrams"),
        max(col("c")).as("top_ngram_count"),
        coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).as("dup_ngram_count"))
      .withColumnRenamed("id", "__rep_id")
    // null-safe re-attach, same shape as [[decontaminate]]: NULL-id rows
    // group as one pseudo-doc and must find their stats again
    df.select(id.as("id"))
      .join(perDoc, col("id") <=> col("__rep_id"), "left")
      .select(
        col("id"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("top_ngram_count"), lit(0L)).as("top_ngram_count"),
        coalesce(col("dup_ngram_count"), lit(0L)).as("dup_ngram_count"),
        when(col("n_ngrams") > 0,
          col("top_ngram_count").cast("double") / col("n_ngrams").cast("double"))
          .otherwise(0.0).as("top_ngram_frac"),
        when(col("n_ngrams") > 0,
          col("dup_ngram_count").cast("double") / col("n_ngrams").cast("double"))
          .otherwise(0.0).as("dup_ngram_frac"))
  }

  /** Cross-corpus repeated-block removal (the C4 rule): partition every
    * document's token stream into consecutive `blockTokens`-token blocks
    * (the last block may be shorter); any block text occurring more than
    * `maxOccurrences` times ACROSS THE CORPUS survives only at its
    * canonical first occurrence (smallest (id, block index)) — every other
    * occurrence is cut and the documents are reassembled from what
    * remains. This is how shared boilerplate (headers, licenses, cookie
    * banners) is removed without dropping whole documents.
    *
    * Scale design: the per-block-text reduce is `groupBy(hash).agg(count,
    * min(struct(id, idx)))` — fully partial-aggregatable, so a block
    * repeated a billion times collapses map-side instead of serializing
    * one reducer the way a `row_number() over (partition by hash)` window
    * would. Block identity is the 64-bit xxhash of the block text; the
    * re-join back to occurrences is a plain equi-join on that 8-byte key
    * (hot probe keys stream against a single build row). Reassembly groups
    * each doc's surviving blocks — bounded by document size, never by
    * corpus size.
    *
    * Returns one row per input row:
    * (id, text_clean, n_blocks, n_blocks_dropped); a NULL text keeps a
    * NULL text_clean with zero counts.
    */
  def dropRepeatedBlocks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockTokens: Int = 3,
      maxOccurrences: Int = 1): DataFrame = {
    require(blockTokens >= 1, "blockTokens must be at least 1")
    require(maxOccurrences >= 1, "maxOccurrences must be at least 1")
    val w = blockTokens
    def nBlocksOf(toks: Column) = ((size(toks) + w - 1) / w).cast("long")
    val nBlocks = nBlocksOf(graft.functions.TextFunctions.tokens(col(textCol)))
    // bindOnce: the per-block lambda must slice a BOUND token array — an
    // inline tokens() subtree would re-run the regex split once per block
    val blockList = graft.functions.TextFunctions.bindOnce(
        graft.functions.TextFunctions.tokens(col(textCol))) { toks =>
      transform(sequence(lit(0), nBlocksOf(toks).cast("int") - 1),
        i => array_join(slice(toks, i * w + 1, lit(w)), " "))
    }
    val occ = df.select(col(idCol).as("id"), posexplode(blockList).as(Seq("idx", "blk")))
      .withColumn("h", xxhash64(col("blk")))
    val perBlock = occ.groupBy("h").agg(
      count(lit(1)).as("cnt"),
      min(struct(col("id"), col("idx"))).as("first_occ"))
    val kept = occ.join(perBlock, Seq("h"))
      .filter(col("cnt") <= maxOccurrences ||
        struct(col("id"), col("idx")) === col("first_occ"))
    val rebuilt = kept.groupBy("id").agg(
        array_join(transform(array_sort(collect_list(struct(col("idx"), col("blk")))),
          s => s.getField("blk")), " ").as("text_clean"),
        count(lit(1)).as("n_kept"))
      .withColumnRenamed("id", "__blk_id")
    df.select(col(idCol).as("id"), coalesce(nBlocks, lit(0L)).as("n_blocks"))
      .join(rebuilt, col("id") <=> col("__blk_id"), "left")
      .select(
        col("id"),
        // a doc whose every block was cut reassembles to "" — NULL is
        // reserved for NULL input text (which produced no blocks at all)
        when(col("n_blocks") > 0, coalesce(col("text_clean"), lit("")))
          .as("text_clean"),
        col("n_blocks"),
        (col("n_blocks") - coalesce(col("n_kept"), lit(0L))).as("n_blocks_dropped"))
  }

  /** TF-IDF top terms per document — the classic "what is this document
    * about" signal used for corpus inspection, topic balancing, and
    * per-domain keyword audits. Score: sublinear tf with smoothed idf,
    * `(1 + ln(tf)) · (ln((N+1)/(df+1)) + 1)` (never negative, never
    * divides by zero).
    *
    * OUTPUT CONTRACT — `rank` is the integer (tf desc, df asc, term asc)
    * order, NOT a tfidf order. On purpose: within a document the score is
    * monotone in tf (df fixed) and in -df (tf fixed), and an integer order
    * is bit-reproducible across engines and float libms, so the SELECTED
    * top-k row set can never diverge from an oracle over a last-ulp
    * difference in `ln`. The two orders can genuinely DISAGREE when both
    * tf and df move together: for small corpora a tf=1/df=1 term can
    * outscore a tf=2/high-df term, so the adjacent float `tfidf` column
    * (informational) may not be monotone in `rank`. Callers needing a
    * strict score order should re-sort the k returned rows by `tfidf` —
    * k-bounded and row-local, so any float-tie nondeterminism stays
    * confined to their own sort. No exact integer surrogate of the score
    * order exists (the score mixes two logs), which is why the contract is
    * stated instead of "fixed".
    *
    * Scale design: the (doc, term) reduce and the per-term df reduce are
    * both fully map-side combinable; the df re-join shuffles only
    * (id, term, tf) rows — the text payload never shuffles; the corpus
    * size N rides a broadcast 1-row aggregate; hot stopword terms probe a
    * single build row each (no skew amplification); the final top-k is one
    * window per doc id with rank pushdown.
    *
    * Returns (id, rank, term, tf, df, tfidf), `rank` 1..k per doc; docs
    * with no tokens (NULL/empty text) contribute no rows.
    */
  /** PMI collocation mining (Church & Hanks 1990): the top-k adjacent
    * token pairs by pointwise mutual information — `ln(p(a,b) / (p(a)
    * p(b)))` over corpus-wide counts — with a `minCount` frequency floor
    * (the standard guard: PMI explodes on rare pairs). The
    * collocation-discovery member of the text-analysis family: multiword
    * expressions ("san francisco") for tokenizer vocab seeding, quality
    * signals, and n-gram feature pruning.
    *
    * DETERMINISM: all counts are exact longs, the PMI argument is ONE
    * fixed parenthesization over them — `((c_ab · N) · N) / ((B · c_a) ·
    * c_b)` where N = total tokens, B = total adjacent pairs — and the
    * score quantizes once to micro-nats, so the ranking is an integer
    * order with (a, b) tiebreaks, mirrored verbatim in the oracle.
    *
    * Scale shape: one corpus-sized token explode into two map-side
    * combinable reduces (unigrams, adjacent pairs); the `minCount` filter
    * runs BEFORE the two term-key joins, which join only AGGREGATED
    * tables; N and B ride a broadcast 1-row aggregate (computed row-local
    * from token-array sizes, never a second explode); the global top-k is
    * TakeOrderedAndProject. Token arrays are materialized once per doc
    * (the [[dsirTokens]] HOF-quadratic lesson).
    *
    * Returns (rank, a, b, c_ab, pmi_micro), rank 1..k by
    * (pmi_micro desc, a asc, b asc). */
  def pmiCollocations(
      df: DataFrame,
      textCol: String,
      minCount: Long = 5L,
      k: Int = 50): DataFrame = {
    require(minCount >= 1, "minCount must be at least 1")
    require(k >= 1, "k must be at least 1")
    val toks = df.select(dsirTokens(col(textCol)).as("__ts"))
    val uni = toks.select(explode(col("__ts")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val totals = toks.agg(
      sum(size(col("__ts")).cast("long")).as("n_tok"),
      sum(greatest(size(col("__ts")) - 1, lit(0)).cast("long")).as("n_bg"))
    val pairs = toks.filter(size(col("__ts")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("__ts")) - 2), i =>
        struct(element_at(col("__ts"), i + 1).as("a"),
          element_at(col("__ts"), i + 2).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val scored = pairs
      .join(uni.select(col("term").as("a"), col("c").as("c_a")), Seq("a"))
      .join(uni.select(col("term").as("b"), col("c").as("c_b")), Seq("b"))
      .crossJoin(broadcast(totals))
      .select(col("a"), col("b"), col("c_ab"),
        round(log(
          ((col("c_ab").cast("double") * col("n_tok")) * col("n_tok")) /
            ((col("n_bg").cast("double") * col("c_a")) * col("c_b"))) * lit(1e6))
          .cast("long").as("pmi_micro"))
    val top = scored
      .orderBy(col("pmi_micro").desc, col("a").asc, col("b").asc).limit(k)
    top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("pmi_micro").desc, col("a").asc, col("b").asc)).cast("long"))
      .select(col("rank"), col("a"), col("b"), col("c_ab"), col("pmi_micro"))
  }

  def tfidfTopTerms(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val toks = df
      .select(col(idCol).as("id"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.select(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("id"))
      .orderBy(desc("tf"), asc("df"), asc("term"))
    tf.join(dfc, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        (lit(1.0) + log(col("tf"))) *
          (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("id"), col("rank"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Corpus-trained unigram language-model quality score (the CCNet-style
    * perplexity proxy): train add-k-smoothed unigram counts on the corpus
    * itself, score every document by its average per-token negative log
    * likelihood — documents whose token distribution is far from the
    * corpus (decode garbage, rare-symbol spam) score high and get cut.
    *
    * DETERMINISM at scale: per-token log-probs are quantized to integer
    * MICRO-NATS before the per-doc reduce, so the document sum is an exact
    * integer sum — bit-identical across engines, partition counts, and
    * reduce orders. A float sum here would drift with partition layout
    * (~1e-12 per doc), which is exactly the kind of nondeterminism a
    * 100 TB rerun cannot afford in a quality GATE; one ulp of `ln` per
    * token is far below the micro-nat grid.
    *
    * Scale design: the vocabulary reduce is fully map-side combinable; the
    * scoring join shuffles only (id, term) pairs against the one-row-per-
    * term counts table (hot stopwords probe a single build row — no skew
    * amplification); corpus totals (T, V) ride a broadcast 1-row
    * aggregate; the text payload never shuffles.
    *
    * Returns one row per input row: (id, n_tokens, avg_nll, ppl) where
    * avg_nll = -Σ round(ln((c+k)/(T+kV))·1e6) / (1e6·n) and ppl =
    * exp(avg_nll); token-less docs (NULL/empty text) keep n_tokens = 0
    * with NULL avg_nll/ppl.
    */
  def lmScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      addK: Double = 1.0): DataFrame =
    lmScoreAgainst(df, lmCounts(df, textCol), idCol, textCol, addK)

  /** Unigram count table (term, c) — the trained LM [[lmScoreAgainst]]
    * scores against. One fully map-side-combinable reduce; persist it once
    * per corpus snapshot and every later batch scores against the frozen
    * model. */
  def lmCounts(df: DataFrame, textCol: String): DataFrame =
    lmCountsOf(df, graft.functions.TextFunctions.tokens(col(textCol)))

  /** [[lmCounts]]' reduce over any token-array column of `df`. */
  private def lmCountsOf(df: DataFrame, toks: Column): DataFrame =
    df.select(explode(toks).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("c"))

  /** Score a batch against an already-trained count table — the
    * daily-ingestion shape (same motivation as `Dedup.incrementalNearDup`):
    * the corpus-sized training reduce runs once, and each new batch costs
    * O(batch tokens). Out-of-vocabulary tokens score with c = 0 — add-k
    * smoothing keeps the probability finite, which is exactly why
    * [[lmScore]] requires addK > 0. Self-scoring (`lmScoreAgainst(df,
    * lmCounts(df, ...), ...)`) has no OOV and reduces to the one-shot
    * [[lmScore]]. Determinism and scale notes: see [[lmScore]].
    *
    * On a streaming batch (`batch.isStreaming`) the plan is row-local and
    * STATELESS (append mode): the count table collapses to ONE static row
    * (term→count map + totals; a frozen quality LM's vocabulary is model
    * metadata, bounded like a benchmark, not corpus data) and each row
    * folds its own tokens through the same micro-nat arithmetic — the
    * join-then-regroup shape would need an update-mode aggregate with
    * O(stream ids) state. A stream scores per row, so NULL and duplicate
    * ids are not grouped into one pseudo-doc; with unique ids both plans
    * give bit-equal rows (pinned in StreamingSpec). */
  def lmScoreAgainst(
      batch: DataFrame,
      counts: DataFrame,
      idCol: String,
      textCol: String,
      addK: Double = 1.0): DataFrame =
    lmScoreOf(batch, col(idCol), graft.functions.TextFunctions.tokens(col(textCol)),
      counts, addK)

  /** [[lmScoreAgainst]]' algebra over any (id, token array) pair of
    * columns of `df` — the public operator passes the text's tokens, the
    * quality gates the `__ts` column of their pinned [[gateTokens]]. */
  private def lmScoreOf(
      df: DataFrame, id: Column, toks: Column, counts: DataFrame, addK: Double): DataFrame = {
    require(addK > 0, "addK must be positive (unsmoothed counts divide by zero on OOV)")
    if (df.isStreaming) {
      val lmRow = counts.agg(
        map_from_entries(collect_list(struct(col("term"), col("c")))).as("lm"),
        sum(col("c")).as("t"), count(lit(1)).as("v"))
      return df.select(id.as("id"), filter(toks, t => t =!= "").as("__toks"))
        .crossJoin(lmRow)
        .select(col("id"),
          coalesce(size(col("__toks")).cast("long"), lit(0L)).as("n_tokens"),
          aggregate(
            transform(col("__toks"), tk =>
              round(log((coalesce(element_at(col("lm"), tk), lit(0L)) + lit(addK)) /
                (col("t") + lit(addK) * col("v"))) * lit(1e6)).cast("long")),
            lit(0L), (acc, x) => acc + x).as("__sum"))
        .select(col("id"), col("n_tokens"),
          when(col("n_tokens") > 0, -col("__sum") / (lit(1e6) * col("n_tokens")))
            .as("avg_nll"))
        .withColumn("ppl", exp(col("avg_nll")))
    }
    val terms = df
      .select(id.as("id"), explode(toks).as("term"))
      .filter(col("term") =!= "")
    val tot = counts.agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
    val perDoc = terms
      .join(counts, Seq("term"), "left") // OOV keeps the row, c = 0
      .crossJoin(broadcast(tot))
      .select(col("id"),
        round(log((coalesce(col("c"), lit(0L)) + lit(addK)) /
            (col("t") + lit(addK) * col("v"))) * lit(1e6))
          .cast("long").as("micro_lp"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("micro_lp")).as("sum_micro_lp"))
      .withColumnRenamed("id", "__lm_id")
    // null-safe re-attach, same shape as [[decontaminate]]: every input row
    // comes back, token-less docs with zero counts and NULL scores
    df.select(id.as("id"))
      .join(perDoc, col("id") <=> col("__lm_id"), "left")
      .select(
        col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (-col("sum_micro_lp") / (lit(1e6) * col("n_tokens"))).as("avg_nll"))
      .withColumn("ppl", exp(col("avg_nll")))
  }

  /** Interpolated BIGRAM language-model quality score — one fidelity notch
    * above [[lmScore]] (real CCNet-style filters are n-gram models, not bags
    * of words): token i scores `λ·p(t_i|t_{i-1}) + (1−λ)·p(t_i)` with add-k
    * smoothing on both components (document-initial tokens score unigram
    * only), so run-on gibberish with plausible unigrams but impossible
    * transitions scores poorly.
    *
    * Same determinism contract as [[lmScore]]: per-token log-probs quantize
    * to integer micro-nats before the per-doc reduce — bit-identical across
    * engines and partition layouts. The bigram context is built ROW-LOCALLY
    * (a positional transform over the doc's own token array — no
    * self-join, no window over the corpus); counts are two
    * map-side-combinable reduces; scoring is three narrow left joins
    * (term / prev-term / pair — OOV and unseen transitions coalesce to 0)
    * plus the broadcast totals row. The text payload never shuffles.
    *
    * Returns one row per input row: (id, n_tokens, avg_nll, ppl);
    * token-less docs keep n_tokens = 0 with NULL scores.
    */
  def lmScoreBigram(
      df: DataFrame,
      idCol: String,
      textCol: String,
      addK: Double = 1.0,
      lambda: Double = 0.7): DataFrame = {
    require(addK > 0, "addK must be positive (unsmoothed counts divide by zero on OOV)")
    require(lambda >= 0 && lambda <= 1, "lambda must be in [0, 1]")
    val tokArr = filter(graft.functions.TextFunctions.tokens(col(textCol)), t => t =!= "")
    // (id, pos, term, prev): prev is row-local — the token to the left in
    // THIS doc's array (NULL at pos 0), never a cross-row lookup
    val occ = df
      .select(col(idCol).as("id"), tokArr.as("__ts"))
      .select(col("id"), col("__ts"), posexplode(col("__ts")).as(Seq("pos", "term")))
      .select(col("id"), col("term"),
        when(col("pos") > 0, element_at(col("__ts"), col("pos"))).as("prev"))
    val cnt1 = occ.groupBy("term").agg(count(lit(1)).as("c1"))
    val tot = cnt1.agg(sum(col("c1")).as("t"), count(lit(1)).as("v"))
    val cnt2 = occ.filter(col("prev").isNotNull)
      .groupBy("prev", "term").agg(count(lit(1)).as("c2"))
    val pUni = (coalesce(col("c1"), lit(0L)) + lit(addK)) /
      (col("t") + lit(addK) * col("v"))
    val pBi = (coalesce(col("c2"), lit(0L)) + lit(addK)) /
      (coalesce(col("__c1p"), lit(0L)) + lit(addK) * col("v"))
    val p = when(col("prev").isNull, pUni)
      .otherwise(lit(lambda) * pBi + lit(1.0 - lambda) * pUni)
    val perDoc = occ
      .join(cnt1, Seq("term"), "left")
      .join(cnt1.select(col("term").as("prev"), col("c1").as("__c1p")), Seq("prev"), "left")
      .join(cnt2, Seq("prev", "term"), "left")
      .crossJoin(broadcast(tot))
      .select(col("id"), round(log(p) * lit(1e6)).cast("long").as("micro_lp"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("micro_lp")).as("sum_micro_lp"))
      .withColumnRenamed("id", "__lm_id")
    df.select(col(idCol).as("id"))
      .join(perDoc, col("id") <=> col("__lm_id"), "left")
      .select(
        col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (-col("sum_micro_lp") / (lit(1e6) * col("n_tokens"))).as("avg_nll"))
      .withColumn("ppl", exp(col("avg_nll")))
  }

  /** The composite corpus-quality GATE — the Gopher/C4-style keep/drop
    * decision that packages the individual signals ([[repetitionStats]],
    * [[lmScore]], token budget) into one auditable verdict per document:
    * `keep` plus the list of failed rules in `reasons` (so a 100 TB filter
    * run can report WHY each slice of the corpus was cut, not just how
    * much).
    *
    * Every input signal is deterministic (integer fractions, micro-nat LM
    * sums), so the threshold comparisons — and therefore the keep/drop
    * SET — are bit-reproducible across engines and partition layouts; the
    * whole gate is exact-oracle-checkable, not just spot-checked.
    *
    * Composes the two scorers as independent passes joined on the doc id
    * (each is separately scale-safe; the join shuffles one narrow row per
    * doc). Token-less docs fail `too_short` and `low_lm_quality` (NULL
    * score is not evidence of quality). Output is one row per input row,
    * keyed by id under the usual unique-id convention.
    *
    * EAGER: building the returned frame runs one Spark job — the shared
    * (id, tokens) projection is pinned ([[Materialize.pin]]) so the LM
    * trainer, the LM scorer and the repetition signals tokenize once. The
    * pin holds O(corpus text bytes) of token arrays in executor-local
    * blocks until the ContextCleaner reclaims them. A streaming input is
    * not pinned and stays lazy.
    */
  def qualityGate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Long = 1L,
      maxTokens: Long = Long.MaxValue,
      maxTopNgramFrac: Double = 1.0,
      maxDupNgramFrac: Double = 1.0,
      maxAvgNll: Double = Double.MaxValue,
      ngram: Int = 2,
      addK: Double = 1.0): DataFrame = {
    // r19 gate fusion (§1.2/§2.3): the LM scorer, the LM trainer, and the
    // repetition signals each tokenized the text independently — three
    // regex passes over the corpus. One pinned (id, tokens) projection now
    // feeds all three through the public operators' own algebra, so the
    // verdicts cannot move
    val toks = gateTokens(df, idCol, textCol)
    gateVerdict(lmScoreOf(toks, col("id"), col("__ts"), lmCountsOf(toks, col("__ts")), addK),
      repetitionStatsOf(toks, col("id"), col("__ts"), ngram),
      minTokens, maxTokens, maxTopNgramFrac, maxDupNgramFrac, maxAvgNll)
  }

  /** [[qualityGate]] scored against an already-trained count table — the
    * ingestion-time gate: the corpus-sized LM training reduce runs once
    * (persist it with `MetaPersist.writeModel`), and each new batch gates
    * itself at O(batch tokens) with the FROZEN model, so two batches of the
    * same docs get the same verdicts regardless of what arrived between
    * them (the self-trained gate's thresholds drift with the input slice by
    * design — right for one-shot corpus builds, wrong for a stable
    * ingestion bar). Same verdict columns, same deterministic micro-nat
    * arithmetic; OOV tokens score with c = 0 per [[lmScoreAgainst]].
    *
    * EAGER like [[qualityGate]]: building the returned frame runs one
    * Spark job that pins the batch's (id, tokens) projection, O(batch text
    * bytes) of executor-local blocks; a streaming input stays lazy. */
  def qualityGateAgainst(
      df: DataFrame,
      counts: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Long = 1L,
      maxTokens: Long = Long.MaxValue,
      maxTopNgramFrac: Double = 1.0,
      maxDupNgramFrac: Double = 1.0,
      maxAvgNll: Double = Double.MaxValue,
      ngram: Int = 2,
      addK: Double = 1.0): DataFrame = {
    // r19 gate fusion: one tokenize pass shared by the LM scorer and the
    // repetition signals (was two) — see [[qualityGate]] / [[gateTokens]]
    val toks = gateTokens(df, idCol, textCol)
    gateVerdict(lmScoreOf(toks, col("id"), col("__ts"), counts, addK),
      repetitionStatsOf(toks, col("id"), col("__ts"), ngram),
      minTokens, maxTokens, maxTopNgramFrac, maxDupNgramFrac, maxAvgNll)
  }

  /** The gate's shared tokenize pass: one pinned (id, __ts) projection
    * feeding the LM scorer, the repetition signals, and (for the
    * self-trained gate) the LM trainer — the materialize-once-vs-rescan-
    * thrice trade; the public gates document the eager job and the pin's
    * size. Left unpinned for a streaming frame, where checkpointing is
    * illegal and per-consumer recompute matches the pre-fusion cost. */
  private def gateTokens(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = df.select(col(idCol).as("id"),
      graft.functions.TextFunctions.tokens(col(textCol)).as("__ts"))
    if (t.isStreaming) t else Materialize.pin(t)
  }

  /** The shared verdict assembly of [[qualityGate]]/[[qualityGateAgainst]]:
    * joins the per-doc LM score and repetition signals and applies the
    * threshold rules into (keep, n_reasons, reasons). */
  private def gateVerdict(
      lmScored: DataFrame,
      repStats: DataFrame,
      minTokens: Long,
      maxTokens: Long,
      maxTopNgramFrac: Double,
      maxDupNgramFrac: Double,
      maxAvgNll: Double): DataFrame = {
    val rep = repStats
      .select(col("id").as("__qg_rep_id"), col("top_ngram_frac"), col("dup_ngram_frac"))
    val lm = lmScored.select(col("id"), col("n_tokens"), col("avg_nll"))
    val reasons = filter(array(
        when(col("n_tokens") < minTokens, lit("too_short")),
        when(col("n_tokens") > maxTokens, lit("too_long")),
        when(col("top_ngram_frac") > maxTopNgramFrac, lit("repetitive_top_ngram")),
        when(col("dup_ngram_frac") > maxDupNgramFrac, lit("repetitive_dup_ngrams")),
        when(col("avg_nll").isNull || col("avg_nll") > maxAvgNll, lit("low_lm_quality"))),
      x => x.isNotNull)
    lm.join(rep, col("id") <=> col("__qg_rep_id"), "inner")
      .withColumn("reasons", concat_ws(",", reasons))
      .withColumn("n_reasons", size(reasons).cast("long"))
      .withColumn("keep", col("n_reasons") === 0L)
      .select(col("id"), col("n_tokens"), col("top_ngram_frac"),
        col("dup_ngram_frac"), col("avg_nll"), col("keep"),
        col("n_reasons"), col("reasons"))
  }

  /** Per-group cap: keeps the top `cap` rows of every group by
    * (scoreCol desc, idCol asc — the deterministic tie-break). The standard
    * per-domain quality cap in web-corpus assembly: no single domain may
    * contribute more than `cap` documents. One shuffle on the group key;
    * rank pushdown (WindowGroupLimit) keeps the sort partial. */
  def capPerGroup(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      idCol: String,
      cap: Int): DataFrame = {
    require(cap >= 1, "cap must be at least 1")
    val w = Window.partitionBy(col(groupCol)).orderBy(desc(scoreCol), asc(idCol))
    df.withColumn("rank_in_group", row_number().over(w).cast("long"))
      .filter(col("rank_in_group") <= cap)
  }

  /** Corpus version diff — the dataset-versioning primitive: one row per
    * doc id present in EITHER version with its transition status
    * (`added` | `removed` | `changed` | `unchanged`), decided by content
    * hash. This is what an incremental re-train actually wants from "the
    * corpus was updated": the changed/added slice to process, the removed
    * slice to retire, and exact counts for the audit trail.
    *
    * Presence is tracked with explicit flags, not hash nullness — a
    * present doc with NULL content still diffs correctly (its hash is NULL
    * on both sides → `unchanged` via the null-safe compare). Ids follow
    * the usual unique-per-version convention (a duplicated id would
    * fan out through the join like any keyed operator here). Scale shape:
    * both sides project to narrow (id, hash) rows before the single
    * full-outer shuffle join on id; text never moves. */
  def corpusDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      contentCol: String): DataFrame = {
    def keyed(df: DataFrame, hash: String, flag: String): DataFrame =
      df.select(col(idCol).as("id"),
        md5(col(contentCol).cast("binary")).as(hash), lit(true).as(flag))
    keyed(oldDf, "old_hash", "__old")
      .join(keyed(newDf, "new_hash", "__new"), Seq("id"), "full_outer")
      .withColumn("status",
        when(col("__old").isNull, "added")
          .when(col("__new").isNull, "removed")
          .when(!(col("old_hash") <=> col("new_hash")), "changed")
          .otherwise("unchanged"))
      .select("id", "status", "old_hash", "new_hash")
  }

  /** Deterministic EXACT-SIZE stratified sample: exactly `min(k, |stratum|)`
    * rows per stratum, chosen uniformly by ranking each stratum on the md5
    * hex digest of (id ":" salt) — a pure function of the id, so unlike
    * `sample()`/`sampleBy()` (probabilistic sizes, layout-sensitive RNG
    * draws) the selected SET is reproducible across runs, engines, and
    * cluster layouts, and the size contract is exact ("exactly 1000 eval
    * docs per language"), which probabilistic sampling cannot promise.
    * Uniformity comes from md5 being independent of any data attribute;
    * changing the salt redraws an independent sample.
    *
    * One shuffle on the stratum key; the rank-≤-k filter is pushed down as
    * a WindowGroupLimit, so each map task forwards at most k rows per
    * stratum and the post-shuffle sort is partial — per-stratum cost is
    * O(stratum) scan + O(k) retained at any corpus scale. A NULL id sorts
    * after every non-NULL digest (NULLS LAST on both keys) and so is only
    * drawn from a stratum smaller than k.
    *
    * Returns the sampled rows with their 1-based `sample_rank` within the
    * stratum (a stable shard/position label for downstream use). */
  def stratifiedSample(
      df: DataFrame,
      stratumCol: String,
      idCol: String,
      salt: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val digest = md5(concat(col(idCol).cast("string"), lit(":" + salt)))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(asc_nulls_last("__samp_digest"), asc_nulls_last(idCol))
    df.withColumn("__samp_digest", digest)
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
      .drop("__samp_digest")
  }

  /** DSIR-style importance selection — Xie et al., NeurIPS 2023 ("Data
    * Selection for Language Models via Importance Resampling"): pick the k
    * raw-pool documents whose hashed-n-gram profile most resembles a
    * TARGET corpus, via Gumbel-top-k resampling under bag-of-hashed-ngrams
    * importance weights. The curation step between blunt quality gates and
    * expensive model-based filters: "make the crawl look like Wikipedia"
    * without training a classifier.
    *
    * Mechanics: features are unigrams + bigrams hashed into `buckets` md5
    * buckets (hash collisions are the POINT — the bucketed bag is the
    * paper's tractable proxy distribution). Both pools reduce to per-bucket
    * counts; each raw doc's log importance weight is the sum over its
    * feature OCCURRENCES of log p̂_target(b) − log p̂_raw(b), add-k
    * smoothed. Resampling uses the Gumbel-top-k identity (top-k of
    * log w + Gumbel noise ≡ sampling without replacement ∝ w), with the
    * Gumbel drawn from the doc id's own md5 digest — so the "random"
    * sample is a pure function of (id, salt), reproducible across engines
    * and stable under reruns, the same trick as [[stratifiedSample]].
    *
    * DETERMINISM: per-occurrence log-ratios quantize to integer micro-nats
    * (each log rounded separately) and per-doc weights are exact integer
    * sums — order-independent at any partitioning; the Gumbel key is also
    * micro-quantized, ties broken by id, so the selected SET (not just its
    * size) is exactly oracle-derivable.
    *
    * Scale: two fully map-side-combinable bucket reduces (≤ `buckets`
    * rows each), three narrow joins per raw occurrence (bucket counts +
    * broadcast totals), one per-doc integer reduce. The k-th key threshold
    * comes from a `TakeOrderedAndProject` (per-partition top-k, O(k)
    * driver) — NO global window, no single-reducer sort. Text never
    * shuffles.
    *
    * Returns one row per raw-pool row: (id, n_feats, w_micro, g_micro,
    * key_micro, selected) — feature-less docs keep weight 0 and still draw
    * a Gumbel (they can be sampled, matching the resampling semantics).
    *
    * EAGER: building the returned frame runs Spark jobs — the k-th key
    * `collect` needs the scores, so the narrow per-doc score table (id +
    * three longs) is pinned ([[Materialize.pin]]) once and serves both
    * that probe and the caller, which owns the pin and frees it with
    * `graftbridge.freeCheckpoints` (else the ContextCleaner reclaims it). */
  def dsirSelect(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      buckets: Int = 4096,
      addK: Double = 1.0,
      salt: String = "dsir"): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val model = dsirModel(raw, target, textCol, buckets, addK)
    val u = ((conv(substring(md5(concat(col("id").cast("string"), lit(":" + salt))), 1, 8),
        16, 10).cast("long") % lit(1000000L)) + lit(0.5)) / lit(1000000.0)
    // pinned: the k-th threshold probe and the caller's consumption are
    // two executions, and without the pin each would re-tokenize and
    // re-hash every document
    val scored = Materialize.pin(dsirScoreAgainst(raw, model, idCol, textCol, buckets)
      .withColumn("g_micro", round(-log(-log(u)) * lit(1e6)).cast("long"))
      .withColumn("key_micro", col("w_micro") + col("g_micro")))
    // k-th key threshold via per-partition top-k + O(k) driver merge
    val kth = scored.select(col("key_micro"), col("id"))
      .orderBy(col("key_micro").desc, col("id").asc)
      .limit(k).collect()
    val selected =
      if (kth.length < k) lit(true) // pool smaller than k: everything samples
      else {
        val tKey = kth.last.getLong(0)
        val tId = kth.last.get(1)
        (col("key_micro") > tKey) ||
          (col("key_micro") === tKey && col("id") <= lit(tId))
      }
    scored.withColumn("selected", selected)
  }

  /** Row-local DSIR feature extraction: each doc's unigram+bigram bag as
    * md5 bucket ids — an `array<long>`, one row in, one row out. Shared by
    * the trainer, the batch scorer, and the streaming scorer, so all three
    * hash the identical feature space.
    *
    * PERFORMANCE SHAPE: callers must materialize the token array with
    * [[dsirTokens]] in a separate projection and hand
    * [[dsirBucketsFromTokens]] the column REFERENCE. Handing it the
    * tokenize expression directly is O(n²) per document: HOFs are
    * interpreted, so the bigram lambda's `element_at(toks, i)` would
    * re-evaluate the whole split-and-filter once per element (measured:
    * the audit's first cut of the declared query spent 70 s at sf0.1 on
    * exactly this — a 60× penalty over the materialized form). */
  private[graft] def dsirTokens(textCol: Column): Column =
    filter(graft.functions.TextFunctions.tokens(textCol), t => t =!= "")

  /** Bucket ids from a MATERIALIZED token-array column (see
    * [[dsirTokens]]'s performance note). */
  private[graft] def dsirBucketsFromTokens(ts: Column, buckets: Int): Column = {
    val bigrams = when(size(ts) >= 2,
      transform(sequence(lit(0), size(ts) - 2), i =>
        concat_ws(" ", element_at(ts, i + 1), element_at(ts, i + 2))))
      .otherwise(array().cast("array<string>"))
    transform(concat(ts, bigrams), g =>
      conv(substring(md5(g), 1, 8), 16, 10).cast("long") % buckets)
  }

  /** The trained DSIR model: a DENSE (b, llr_micro) table over ALL
    * `buckets` buckets — llr is the add-k-smoothed micro-nat log-ratio
    * log p̂_target(b) − log p̂_raw(b), each log rounded separately.
    * Density matters: a bucket absent from BOTH pools still carries a
    * (constant, nonzero) smoothed ratio, and the scorers index the model
    * as a map — persist it with `MetaPersist.writeModel(model, path,
    * "dsir_weights", …)` and every later batch scores against the frozen
    * distribution pair (the train-once/score-batches shape of
    * [[lmScoreAgainst]]). Two map-side-combinable bucket reduces; the
    * model is ≤ `buckets` rows of bounded metadata. */
  def dsirModel(
      raw: DataFrame,
      target: DataFrame,
      textCol: String,
      buckets: Int = 4096,
      addK: Double = 1.0): DataFrame = {
    require(buckets >= 2, "buckets must be at least 2")
    require(addK > 0, "addK must be positive (unsmoothed ratios blow up on unseen buckets)")
    def counts(df: DataFrame, name: String): DataFrame =
      df.select(dsirTokens(col(textCol)).as("__ts"))
        .select(explode(dsirBucketsFromTokens(col("__ts"), buckets)).as("b"))
        .groupBy("b").agg(count(lit(1)).as(name))
    val cp = counts(target, "cp")
    val cq = counts(raw, "cq")
    val tots = cp.agg(coalesce(sum(col("cp")), lit(0L)).as("tp"))
      .crossJoin(cq.agg(coalesce(sum(col("cq")), lit(0L)).as("tq")))
    raw.sparkSession.range(0, buckets).select(col("id").as("b"))
      .join(cp, Seq("b"), "left")
      .join(cq, Seq("b"), "left")
      .crossJoin(broadcast(tots))
      .select(col("b"),
        (round(log((coalesce(col("cp"), lit(0L)) + lit(addK)) /
             (col("tp") + lit(addK) * buckets)) * lit(1e6)).cast("long") -
         round(log((coalesce(col("cq"), lit(0L)) + lit(addK)) /
             (col("tq") + lit(addK) * buckets)) * lit(1e6)).cast("long")).as("llr_micro"))
  }

  /** Score a batch against a frozen [[dsirModel]] — STATELESS and
    * row-local: the dense model (≤ `buckets` rows of bounded metadata,
    * the same exception as the centroid collect) is collected ONCE into a
    * literal map in the plan, and each doc's weight is an integer fold
    * over its own bucket array — no join of any kind, nothing shuffles,
    * and re-executions of a downstream plan never re-derive the model.
    * The same plan runs unchanged on a STREAMING frame with zero
    * streaming state; selection (the Gumbel-top-k step) stays a batch
    * concern — a global top-k over an unbounded stream is not a
    * meaningful operator, so gate streams on `w_micro`. A NULL text
    * scores (0, 0) like the batch trainer path; a SPARSE model (not from
    * [[dsirModel]]) yields NULL weights — visible breakage, never a
    * silently wrong score. Returns one row per input row:
    * (id, n_feats, w_micro). */
  def dsirScoreAgainst(
      batch: DataFrame,
      model: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 4096): DataFrame = {
    val llr: Map[Long, Long] =
      model.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val llrLit = typedLit(llr)
    batch.select(col(idCol).as("id"), dsirTokens(col(textCol)).as("__ts"))
      .select(col("id"), dsirBucketsFromTokens(col("__ts"), buckets).as("__gb"))
      .select(col("id"),
        coalesce(size(col("__gb")), lit(0)).cast("long").as("n_feats"),
        when(col("__gb").isNull, lit(0L))
          .otherwise(aggregate(
            transform(col("__gb"), b => element_at(llrLit, b)),
            lit(0L), (acc, x) => acc + x)).as("w_micro"))
  }

  /** Per-line duplicate VERDICTS of `df` against a static corpus line
    * store — the row-local core shared by [[lineDedupAgainst]] (batch,
    * with reassembly) and streaming use (called directly on a streaming
    * frame it is an append-mode stream-static join with zero state; the
    * per-doc reassembly is an aggregation left to the batch consumer):
    * explode lines, flag each
    * occurrence whose exact line already exists ANYWHERE in the corpus
    * (corpus precedence — within-batch repeats are NOT deduped here; run
    * [[lineDedup]] over the accepted corpus for that). Lines shorter than
    * `minLineChars` are exempt. One distinct-reduce builds the store's
    * md5 set once; the batch side is an equi-join on the hash — the only
    * shuffle is hash-keyed metadata. Returns (id, idx, line, dup). */
  def lineVerdicts(
      df: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n",
      minLineChars: Int = 0): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val store = corpus.select(explode(split(coalesce(col(textCol), lit("")), sepRe)).as("line"))
      .filter(length(col("line")) >= minLineChars)
      .select(unhex(md5(col("line").cast("binary"))).as("h")).distinct()
      .withColumn("__in_store", lit(true))
    df.select(col(idCol).as("id"),
        posexplode(split(coalesce(col(textCol), lit("")), sepRe)).as(Seq("idx", "line")))
      .withColumn("h",
        when(length(col("line")) >= minLineChars, unhex(md5(col("line").cast("binary")))))
      .join(store, Seq("h"), "left")
      .select(col("id"), col("idx"), col("line"),
        coalesce(col("__in_store"), lit(false)).as("dup"))
  }

  /** Incremental [[lineDedup]]: dedup a NEW batch's lines against the
    * already-accepted corpus (corpus precedence, exempt-short-lines rule
    * unchanged) and reassemble each batch doc — the form an ingestion
    * pipeline runs per increment so the line store never re-processes
    * history. Same output schema as [[lineDedup]]. */
  def lineDedupAgainst(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n",
      minLineChars: Int = 0): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val removed = lineVerdicts(batch, corpus, idCol, textCol, sep, minLineChars)
      .filter(col("dup"))
      .groupBy("id").agg(sort_array(collect_list(col("idx"))).as("rm"))
      .withColumnRenamed("id", "__rm_id")
    val arr = split(coalesce(col(textCol), lit("")), sepRe)
    val rmArr = coalesce(col("rm"), array().cast("array<int>"))
    batch.join(removed, col(idCol) === col("__rm_id"), "left")
      .select(
        col(idCol).as("id"),
        size(arr).cast("long").as("n_lines"),
        coalesce(size(col("rm")), lit(0)).cast("long").as("n_removed_lines"),
        concat_ws(sep, filter(arr, (_, i) => !array_contains(rmArr, i))).as("text_deduped"))
  }

  /** HTML boilerplate extraction (the jusText/trafilatura-class rule
    * family — Pomikálek 2011's block link-density heuristic, the public
    * pipeline stage between "crawl" and every text operator here): strip
    * `<script>`/`<style>` payloads, split the markup into block elements
    * (`<p>`/`<div>`), and keep a block iff its tag-stripped text is long
    * enough AND its link density — anchor-text characters over total
    * characters — stays under `maxLinkDensity` (navigation, ad and footer
    * blocks are mostly anchor text; content blocks are mostly prose).
    * Kept blocks are tag-stripped, entity-unescaped (`&amp;` `&lt;` `&gt;`
    * `&quot;` `&#39;`), whitespace-collapsed, and rejoined with `\n`.
    * Character-based counts (not words) so the rules are script-agnostic —
    * a CJK paragraph has one whitespace "word" but hundreds of chars.
    *
    * Entirely row-local — one projection, regexp + higher-order array
    * functions only, no shuffle, identical plan on a streaming frame; the
    * whole rule chain is re-derivable in ANSI SQL (RE2-safe patterns: no
    * backreferences, non-greedy quantifiers only).
    *
    * Returns one row per input row: (id, n_blocks_total, n_blocks_kept,
    * extracted_text) — extracted_text empty ("") when nothing survives. */
  def htmlExtract(
      df: DataFrame,
      idCol: String,
      htmlCol: String,
      minChars: Int = 15,
      maxLinkDensity: Double = 0.4): DataFrame = {
    require(minChars >= 0, "minChars must be non-negative")
    require(maxLinkDensity >= 0.0 && maxLinkDensity <= 1.0,
      "maxLinkDensity must be in [0, 1]")
    // two single-tag passes instead of a <(script|style)>.*?</\1>
    // backreference — RE2 (the oracle side) has no backreferences
    val noScript = regexp_replace(coalesce(col(htmlCol), lit("")),
      "(?is)<script[^>]*>.*?</script>", " ")
    val cleaned = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val blocksCol = regexp_extract_all(cleaned,
      lit("(?is)<(?:p|div)[^>]*>(.*?)</(?:p|div)>"), lit(1))
    val unescape = (c: Column) =>
      Seq("&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'")
        .foldLeft(c) { case (acc, (e, ch)) => replace(acc, lit(e), lit(ch)) }
    val stripped = (b: Column) => trim(regexp_replace(
      unescape(regexp_replace(b, "<[^>]*>", " ")), "\\s+", " "))
    val anchorChars = (b: Column) => aggregate(
      regexp_extract_all(b, lit("(?is)<a[^>]*>(.*?)</a>"), lit(1)),
      lit(0L), (acc, a) => acc + length(stripped(a)).cast("long"))
    // judged once per block: (stripped_text, keep)
    val judged = transform(blocksCol, b => {
      val s = stripped(b)
      struct(
        s.as("txt"),
        (length(s) >= minChars &&
          anchorChars(b).cast("double") <=
            lit(maxLinkDensity) * greatest(length(s).cast("double"), lit(1.0)))
          .as("keep"))
    })
    df.select(
      col(idCol).as("id"),
      size(blocksCol).cast("long").as("n_blocks_total"),
      size(filter(judged, j => j.getField("keep"))).cast("long").as("n_blocks_kept"),
      array_join(transform(filter(judged, j => j.getField("keep")),
        j => j.getField("txt")), "\n").as("extracted_text"))
  }
  /** C4-style line-and-document quality filter (Raffel et al., JMLR 2020,
    * the public "Colossal Clean Crawled Corpus" rules). Line level: a line
    * is RETAINED iff it ends in a terminal punctuation mark (period,
    * exclamation, question mark, or end quote), has at least
    * `minWordsPerLine` words, and does not mention "javascript"
    * (case-insensitive). Document level: the doc is KEPT iff its raw text
    * contains no curly brace (code) and no "lorem ipsum" (placeholder
    * boilerplate), and at least `minLines` lines survive the line rules.
    * Dropped docs still report their filtered rendering so callers can
    * audit what the gate saw.
    *
    * Entirely row-local — one projection, no shuffle, no join, identical
    * plan on a streaming frame. Returns one row per input row:
    * (id, n_lines, n_kept_lines, keep, text_filtered). */
  def c4LineFilter(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minWordsPerLine: Int = 5,
      minLines: Int = 3,
      sep: String = "\n"): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val arr = split(coalesce(col(textCol), lit("")), sepRe)
    val lineOk = (l: Column) =>
      substring(rtrim(l), -1, 1).isin(".", "!", "?", "\"") &&
        (size(split(l, "\\s+")) >= minWordsPerLine) &&
        !contains(lower(l), lit("javascript"))
    // document predicate over the COALESCED text, like the line side: a
    // NULL text must yield keep=false, not keep=NULL (NULL && true = NULL
    // would break the boolean verdict contract when minLines = 0)
    val txt = coalesce(col(textCol), lit(""))
    val docOk = !contains(txt, lit("{")) &&
      !contains(lower(txt), lit("lorem ipsum"))
    // materialize the filtered array once (filter is an interpreted HOF —
    // it feeds three output columns)
    df.select(col(idCol).as("id"), size(arr).cast("long").as("n_lines"),
        filter(arr, lineOk).as("__kept"), docOk.as("__docok"))
      .select(col("id"), col("n_lines"),
        size(col("__kept")).cast("long").as("n_kept_lines"),
        (col("__docok") && size(col("__kept")) >= minLines).as("keep"),
        concat_ws(sep, col("__kept")).as("text_filtered"))
  }

  /** GPT-style sequence packing — concatenate documents in a deterministic
    * order and slice the token stream into fixed-`seqLen` training
    * sequences, emitting one row per (document × sequence) fragment. This
    * is the standard "pack then chunk" pretraining layout (no padding
    * waste); the emitted (seq_id, start_in_seq, fragment) rows are exactly
    * what a loader needs to materialize dense batches, and the fragment
    * rows carry enough to reconstruct attention-mask document boundaries.
    *
    * Order within a shard is (md5(id ":" salt), id) — the same
    * randomness-as-pure-function trick as [[stratifiedSample]]: the
    * "shuffled" packing is a pure function of the data, reproducible
    * across runs, engines, and partitionings.
    *
    * Scale: packing is per-`shardCol` (a real run shards by source ×
    * digest-bucket so each shard's window sorts independently) — the
    * cumulative-offset window is the shard's only ordered pass, the
    * explode emits ≤ 1 + n/seqLen rows per doc, and the fragment slice is
    * row-local. No global sort exists anywhere. Returns
    * (shard, id, seq_id, frag_idx, start_in_seq, n_frag_tokens,
    * frag_text); `seq_id` numbers sequences within the shard. */
  def packSequences(
      df: DataFrame,
      idCol: String,
      textCol: String,
      seqLen: Int,
      shardCol: String,
      salt: String = "pack"): DataFrame = {
    require(seqLen >= 1, "seqLen must be at least 1")
    val base = df.select(col(shardCol).as("shard"), col(idCol).as("id"),
        graft.functions.TextFunctions.tokens(coalesce(col(textCol), lit(""))).as("__ts"))
      .withColumn("__d", md5(concat(col("id").cast("string"), lit(":" + salt))))
      .withColumn("n", size(col("__ts")).cast("long"))
    val w = Window.partitionBy("shard").orderBy(col("__d"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val L = seqLen.toLong
    base.withColumn("off", sum(col("n")).over(w) - col("n"))
      .withColumn("q", explode(sequence(
        expr(s"off div $L"), expr(s"(off + n - 1) div $L"))))
      .select(col("shard"), col("id"), col("q").as("seq_id"),
        (col("q") - expr(s"off div $L")).as("frag_idx"),
        (greatest(col("off"), col("q") * L) - col("q") * L).as("start_in_seq"),
        (least(col("off") + col("n"), (col("q") + 1) * L) -
          greatest(col("off"), col("q") * L)).as("n_frag_tokens"),
        concat_ws(" ", slice(col("__ts"),
          (greatest(col("off"), col("q") * L) - col("off") + 1).cast("int"),
          (least(col("off") + col("n"), (col("q") + 1) * L) -
            greatest(col("off"), col("q") * L)).cast("int"))).as("frag_text"))
  }

  /** Blocklist (badword) filtering — the C4-family component that drops
    * documents containing any term from a curated wordlist: exact
    * case-insensitive TOKEN match (substring matching famously
    * over-blocks — the "Scunthorpe problem" — so whole tokens only).
    * Row-local: the list compiles into the plan as a literal set, one
    * HOF filter per row, no shuffle, stream-safe. Returns one row per
    * input row: (id, n_blocked_hits, blocked_terms — sorted distinct,
    * comma-joined — keep). */
  def blocklistFilter(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blocklist: Seq[String]): DataFrame = {
    require(blocklist.nonEmpty, "blocklist must not be empty")
    val terms = blocklist.map(_.toLowerCase)
    val toks = graft.functions.TextFunctions.tokens(lower(coalesce(col(textCol), lit(""))))
    df.select(col(idCol).as("id"),
        filter(toks, t => t.isin(terms.map(x => x: Any): _*)).as("__hits"))
      .select(col("id"),
        size(col("__hits")).cast("long").as("n_blocked_hits"),
        concat_ws(",", array_sort(array_distinct(col("__hits")))).as("blocked_terms"),
        (size(col("__hits")) === 0).as("keep"))
  }

  /** Per-benchmark-item LEAK REPORT — the audit twin of
    * [[decontaminateSpans]]: for every benchmark document, how many
    * corpus documents contain one of its `spanLen`-token spans verbatim,
    * and how many window occurrences in total — the artifact an eval
    * owner reads to decide which benchmark items are burned. Both sides
    * window row-locally; the only shuffle is the span-hash equi-join of
    * (hash, id) metadata and one count reduce keyed by the benchmark id.
    * Returns one row per benchmark doc:
    * (bench_id, n_leaked_docs, n_leaked_windows) — zeros for clean
    * items. */
  def decontaminationReport(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      spanLen: Int = 20): DataFrame = {
    val bw = Dedup.spanWindowsOf(benchmark, idCol, textCol, spanLen)
      .select(col("id").as("bench_id"), col("h")).distinct()
    val cw = Dedup.spanWindowsOf(corpus, idCol, textCol, spanLen)
      .select(col("id").as("corpus_id"), col("h"))
    val hits = bw.join(cw, Seq("h"))
      .groupBy("bench_id").agg(
        count_distinct(col("corpus_id")).as("n_leaked_docs"),
        count(lit(1)).as("n_leaked_windows"))
      .withColumnRenamed("bench_id", "__hit_id")
    benchmark.select(col(idCol).as("bench_id"))
      .join(hits, col("bench_id") === col("__hit_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_leaked_docs"), lit(0L)).as("n_leaked_docs"),
        coalesce(col("n_leaked_windows"), lit(0L)).as("n_leaked_windows"))
  }

  /** Vocabulary-coverage (out-of-vocabulary-rate) scoring — the gibberish
    * / wrong-domain signal: build the corpus FREQUENT vocabulary (words
    * whose count reaches `perMille`/1000 of total token occurrences — a
    * RELATIVE threshold, so the same setting means the same thing at
    * every corpus size) and score each doc by the fraction of its tokens
    * outside it. Docs full of rare tokens are OCR noise, code dumps, or
    * off-domain text; the standard cheap filter before model-based
    * scoring.
    *
    * Scale: one word-count reduce (map-side combinable, uniform md5-free
    * word keys — hot words combine), an integer threshold from one
    * broadcast total, and one (id, word)-metadata join per occurrence
    * against the frequent set (Zipf makes it small; AQE broadcasts it) —
    * document text never shuffles. Returns one row per input row:
    * (id, n_tokens, n_oov, oov_frac 6dp; empty docs score (0, 0, 0)). */
  def vocabCoverage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      perMille: Long = 1L): DataFrame = {
    require(perMille >= 0, "perMille must be non-negative")
    val occ = df.select(col(idCol).as("id"),
        explode(graft.functions.TextFunctions.tokens(coalesce(col(textCol), lit("")))).as("w"))
      .filter(col("w") =!= "")
    val counts = occ.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = counts.agg(coalesce(sum(col("c")), lit(0L)).as("__tot"))
    val vocab = counts.crossJoin(broadcast(tot))
      .filter(expr(s"c * 1000 >= __tot * $perMille"))
      .select(col("w"), lit(true).as("__in_vocab"))
    val scored = occ.join(vocab, Seq("w"), "left")
      .groupBy("id").agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumnRenamed("id", "__sc_id")
    df.join(scored, col(idCol) === col("__sc_id"), "left")
      .select(col(idCol).as("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(round(col("n_oov").cast("double") / col("n_tokens"), 6), lit(0.0))
          .as("oov_frac"))
  }

  /** The frequent-vocabulary MODEL behind [[vocabCoverage]] — the words
    * whose corpus count reaches `perMille`/1000 of total occurrences, as
    * a (w, c) table for persistence and the frozen-scorer split. The
    * relative threshold caps the model size STRUCTURALLY: at most
    * 1000/perMille words can each hold ≥ perMille/1000 of the mass, so
    * the model is bounded driver metadata by construction (1000 entries
    * at the perMille=1 default), independent of corpus size. */
  def vocabModel(
      corpus: DataFrame,
      textCol: String,
      perMille: Long = 1L): DataFrame = {
    require(perMille >= 1, "perMille must be at least 1")
    val counts = corpus
      .select(explode(graft.functions.TextFunctions.tokens(coalesce(col(textCol), lit("")))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tot = counts.agg(coalesce(sum(col("c")), lit(0L)).as("__tot"))
    counts.crossJoin(broadcast(tot))
      .filter(expr(s"c * 1000 >= __tot * $perMille"))
      .select(col("w"), col("c"))
  }

  /** Score a batch against a FROZEN [[vocabModel]] — the train-once /
    * score-streams split (same contract as the frozen-LM and DSIR
    * scorers): the model's word set (structurally ≤ 1000/perMille
    * entries) collects into the plan as a literal, and each doc's OOV
    * fraction is one row-local filter over its own tokens — no join, no
    * shuffle, no aggregation, so the identical plan runs append-mode on
    * a stream. Retraining means restarting
    * the query — mid-stream vocabulary drift must be an explicit
    * redeploy, never a silent change. Output schema matches
    * [[vocabCoverage]]. */
  def vocabCoverageAgainst(
      batch: DataFrame,
      model: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val vocab: Seq[String] = model.select("w").collect().map(_.getString(0)).toSeq
    val toks = filter(
      graft.functions.TextFunctions.tokens(coalesce(col(textCol), lit(""))), t => t =!= "")
    batch.select(col(idCol).as("id"), toks.as("__ts"))
      .select(col("id"),
        size(col("__ts")).cast("long").as("n_tokens"),
        size(filter(col("__ts"),
          t => !t.isin(vocab.map(x => x: Any): _*))).cast("long").as("n_oov"))
      .select(col("id"), col("n_tokens"), col("n_oov"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(round(col("n_oov").cast("double") / col("n_tokens"), 6))
          .as("oov_frac"))
  }

  /** Epoch-aware corpus mixing under DATA CONSTRAINTS (Muennighoff et
    * al., NeurIPS 2023 — "Scaling Data-Constrained Language Models"):
    * like [[temperatureMix]], sources contribute ∝ √n at α = 1/2, but a
    * source's quota may EXCEED its size — up to `maxEpochs` full passes —
    * because when the token budget outgrows the unique data, repeating
    * high-value sources a few epochs is worth close to fresh data (the
    * paper's core result). The quota expresses as per-doc REPEAT counts:
    * every doc gets (quota div n) repeats, and the first (quota mod n)
    * docs in md5-digest order get one more — the fractional epoch is a
    * deterministic subset, reproducible at any partitioning and across
    * engines (the [[stratifiedSample]] trick). The integer quota
    * arithmetic is exactly the [[temperatureMix]] form with the cap
    * raised from n to n·maxEpochs.
    *
    * Scale: one narrow per-source count, broadcast quotas, per-source
    * metadata window — text never shuffles. Returns one row per input
    * doc with (n_source, quota, mix_rank, n_repeats) appended;
    * `n_repeats` may be 0 (unselected under a small budget). Materialize
    * the repeated dataset with [[epochMaterialize]]. */
  def epochMix(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      salt: String,
      budget: Long,
      maxEpochs: Int): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    require(maxEpochs >= 1, "maxEpochs must be at least 1")
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
    val weighted = counts.withColumn("__w",
      round(sqrt(col("__n").cast("double")) * lit(1e6)).cast("long"))
    val tot = weighted.agg(coalesce(sum(col("__w")), lit(0L)).as("__tw"))
    val quotas = weighted.crossJoin(broadcast(tot))
      .select(col(sourceCol).as("__src"), col("__n").as("n_source"),
        least(col("__n") * maxEpochs,
          expr(s"($budget * __w) div __tw")).cast("long").as("quota"))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(asc_nulls_last("__digest"), asc_nulls_last(idCol))
    df.withColumn("__digest", md5(concat(col(idCol).cast("string"), lit(":" + salt))))
      .withColumn("mix_rank", row_number().over(w).cast("long"))
      .join(broadcast(quotas), col(sourceCol) <=> col("__src"))
      .withColumn("n_repeats",
        (expr("quota div n_source") +
          when(col("mix_rank") <= col("quota") % col("n_source"), 1L).otherwise(0L))
          .cast("long"))
      .drop("__digest", "__src")
  }

  /** Materialize an [[epochMix]] plan: one output row per (doc, epoch)
    * with `repeat_idx` in [1, n_repeats] — row-local explode, zero-repeat
    * docs drop out. The caller shuffles the result with [[stratifiedSample]]
    * -style digest keys if epoch interleaving matters downstream. */
  def epochMaterialize(planned: DataFrame): DataFrame =
    planned.filter(col("n_repeats") >= 1)
      .withColumn("repeat_idx", explode(sequence(lit(1L), col("n_repeats"))))

  /** SURGICAL decontamination: remove every `spanLen`-token span that
    * appears verbatim in the benchmark suite from each corpus document,
    * keeping the rest of the document — the scalpel to
    * [[decontaminate]]'s hammer (that flags whole documents; this excises
    * the leaked passage, the right call when a long document quotes one
    * benchmark item). Delegates to `Dedup.spanDedupAgainst` with the
    * benchmark as the span store: the benchmark is tiny by construction,
    * so its distinct span-hash set broadcasts and the corpus pass is
    * row-local windows + one broadcast join — the corpus text never
    * shuffles. Returns (id, n_tokens, n_dup_spans, n_removed_tokens,
    * text_deduped) per corpus row. */
  def decontaminateSpans(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      spanLen: Int = 20): DataFrame =
    Dedup.spanDedupAgainst(corpus, benchmark, idCol, textCol, spanLen)

  /** Deterministic score-quantile bucketing — the curriculum / quality-bin
    * assignment step (FineWeb-Edu-style quality tiers, perplexity
    * curricula): every row gets a bucket in [0, nBuckets) such that bucket
    * boundaries approximate equal-count quantiles of `scoreCol`. Exact
    * global quantiles need a global sort; the scalable contract here is
    * QUANTIZED quantiles: scores round to integer micro-units and group
    * into `binWidthMicro`-wide bins, the per-bin histogram (bounded by
    * score-range / width — e.g. 1001 bins for a [0,1] score at width
    * 1000) reduces map-side and collects as driver metadata, and
    * bucket(bin) = min(nBuckets−1, cumBefore(bin)·nBuckets div N) — pure
    * integer arithmetic, so the assignment is reproducible at any
    * partitioning and exactly oracle-derivable. Rows sharing a bin always
    * share a bucket (boundaries land between bins, never inside one);
    * buckets deviate from exact N/nBuckets counts by at most one bin's
    * population, which is the precision `binWidthMicro` buys.
    *
    * Scale: one map-side-combinable bin reduce (metadata), O(bins) on the
    * driver, one broadcast map lookup per row — the score column never
    * shuffles. Returns one row per input row: (id, score, bin, bucket). */
  def scoreBuckets(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      nBuckets: Int = 10,
      binWidthMicro: Long = 1000L): DataFrame = {
    require(nBuckets >= 1, "nBuckets must be at least 1")
    require(binWidthMicro >= 1, "binWidthMicro must be at least 1")
    val sm = round(col(scoreCol) * lit(1e6)).cast("long")
    val binned = df.withColumn("bin", floor(sm / lit(binWidthMicro.toDouble)).cast("long"))
    val hist = binned.groupBy("bin").agg(count(lit(1)).as("c")).collect()
    val n = hist.map(_.getLong(1)).sum
    var cum = 0L
    val mapping: Map[Long, Int] = hist.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .map { case (b, c) =>
        val bucket = math.min(nBuckets - 1, ((cum * nBuckets) / math.max(n, 1L)).toInt)
        cum += c
        b -> bucket
      }.toMap
    binned.select(col(idCol).as("id"), col(scoreCol).as("score"), col("bin"),
      element_at(typedLit(mapping), col("bin")).as("bucket"))
  }

  /** Per-GROUP [[scoreBuckets]] — quantile bucketing computed
    * independently inside each `groupCol` value (per-language perplexity
    * terciles, per-source quality tiers): the bin histogram reduces on
    * (group, bin), collects as driver metadata bounded by
    * groups × bins, and the per-group cumulative mapping rides back as
    * one broadcast map lookup keyed `group 0x00 bin` — same integer
    * arithmetic, same reproducibility contract, scores never shuffle.
    * Returns one row per input row: (id, group, score, bin, bucket). */
  def scoreBucketsBy(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      scoreCol: String,
      nBuckets: Int = 10,
      binWidthMicro: Long = 1000L): DataFrame = {
    require(nBuckets >= 1, "nBuckets must be at least 1")
    require(binWidthMicro >= 1, "binWidthMicro must be at least 1")
    val sm = round(col(scoreCol) * lit(1e6)).cast("long")
    val binned = df.withColumn("bin", floor(sm / lit(binWidthMicro.toDouble)).cast("long"))
    // NULL groups are a real group (they must bucket among themselves, not
    // vanish): both the histogram key and the row-side lookup key coalesce
    // the group to the same sentinel BEFORE concatenation — concat_ws would
    // silently drop a NULL column, and Scala string interpolation would
    // render it as the string "null", colliding with a group so named
    val gSafe = coalesce(col(groupCol).cast("string"), lit("<null>"))
    val hist = binned.groupBy(gSafe.as("g"), col("bin"))
      .agg(count(lit(1)).as("c")).collect()
    val mapping: Map[String, Int] = hist
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
      .toSeq
      .flatMap { case (g, rows) =>
        val n = rows.map(_._3).sum
        var cum = 0L
        rows.sortBy(_._2).map { case (_, b, c) =>
          val bucket = math.min(nBuckets - 1, ((cum * nBuckets) / math.max(n, 1L)).toInt)
          cum += c
          s"$g\u0000$b" -> bucket
        }
      }.toMap
    binned.select(col(idCol).as("id"), col(groupCol).as("group"),
      col(scoreCol).as("score"), col("bin"),
      element_at(typedLit(mapping),
        concat(gSafe, lit("\u0000"), col("bin").cast("string"))).as("bucket"))
  }

  /** Cross-source quantile normalization — the score-calibration step
    * before any GLOBAL threshold over per-source scores: a 0.7 from a
    * lenient scorer and a 0.7 from a strict one are not the same quality,
    * so each row's score is replaced by the GLOBAL distribution's value
    * at the row's WITHIN-GROUP quantile (classic quantile mapping, the
    * genomics quantile-normalization trick applied to quality scores).
    * Two rows at the same within-group rank always get the same
    * normalized value regardless of their groups' raw scales (pinned).
    *
    * Same scalable contract as [[scoreBucketsBy]]: scores quantize to
    * `binWidthMicro` bins, the (group, bin) histogram collects as driver
    * metadata (bounded by groups × bins), and every row pays one
    * broadcast map lookup — the score column never shuffles. Within-bin
    * rows share the bin's MID-RANK
    * (`((2·cumBefore + c)·1e6) div (2n)` — a single row lands at its
    * true mid position, a singleton group at 500000), and the normalized
    * value is the lower bound (`bin · binWidthMicro`) of the global bin
    * containing the mid-rank's global position — all integer, exactly
    * re-derivable in SQL. NULL groups normalize among themselves (the
    * scoreBucketsBy sentinel convention).
    *
    * Returns one row per input row:
    * (id, group, score, bin, rank_micro, normalized_score_micro). */
  def quantileNormalizeBy(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      scoreCol: String,
      binWidthMicro: Long = 1000L): DataFrame = {
    val (binned, gSafe, rows) = qnMapping(df, groupCol, scoreCol, binWidthMicro)
    val mapping: Map[String, (Long, Long)] =
      rows.map { case (g, b, r, nv) => s"$g\u0000$b" -> ((r, nv)) }.toMap
    binned
      .select(col(idCol).as("id"), col(groupCol).as("group"),
        col(scoreCol).as("score"), col("bin"),
        element_at(typedLit(mapping),
          concat(gSafe, lit("\u0000"), col("bin").cast("string"))).as("__m"))
      .select(col("id"), col("group"), col("score"), col("bin"),
        col("__m._1").as("rank_micro"),
        col("__m._2").as("normalized_score_micro"))
  }

  /** The shared [[quantileNormalizeBy]] driver computation: the binned
    * frame, the sentinel-coalesced group column, and the mapping rows
    * (group, bin, rank_micro, normalized_score_micro). */
  private def qnMapping(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      binWidthMicro: Long): (DataFrame, Column, Seq[(String, Long, Long, Long)]) = {
    require(binWidthMicro >= 1, "binWidthMicro must be at least 1")
    val sm = round(col(scoreCol) * lit(1e6)).cast("long")
    val binned = df.withColumn("bin", floor(sm / lit(binWidthMicro.toDouble)).cast("long"))
    val gSafe = coalesce(col(groupCol).cast("string"), lit("<null>"))
    val hist = binned.groupBy(gSafe.as("g"), col("bin"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // global cumulative row intervals per bin, sorted by bin
    val globalCum: Array[(Long, Long, Long)] = { // (bin, start, end)
      var cum = 0L
      hist.groupBy(_._2).view.mapValues(_.map(_._3).sum).toSeq.sortBy(_._1)
        .map { case (b, c) => val e = (b, cum, cum + c); cum += c; e }.toArray
    }
    val nTotal = globalCum.lastOption.map(_._3).getOrElse(0L)
    def globalBinAt(p: Long): Long = {
      var lo = 0
      var hi = globalCum.length - 1
      while (lo < hi) {
        val mid = (lo + hi) / 2
        if (globalCum(mid)._3 <= p) lo = mid + 1 else hi = mid
      }
      globalCum(lo)._1
    }
    val rows = hist.groupBy(_._1).toSeq.flatMap { case (g, grows) =>
      val n = grows.map(_._3).sum
      var cum = 0L
      grows.sortBy(_._2).map { case (_, b, c) =>
        val rankMicro = ((2 * cum + c) * 1000000L) / (2 * math.max(n, 1L))
        cum += c
        val p = math.min(nTotal - 1, (rankMicro * nTotal) / 1000000L)
        (g, b, rankMicro, globalBinAt(p) * binWidthMicro)
      }
    }
    (binned, gSafe, rows)
  }

  /** Point-in-time (time-travel) read over an SCD-type-2 history: the
    * dimension exactly as it stood at `version` —
    * `valid_from <= v AND (valid_to IS NULL OR valid_to > v)`, the read
    * contract [[scd2Apply]] documents, packaged so callers can't get the
    * half-open boundary backwards (a `valid_to = v` row was closed AT v
    * and must NOT appear in the v snapshot). Row-local filter — pushes
    * into the history scan, and with the history parquet partitioned or
    * z-ordered on the validity columns it prunes. */
  def scd2AsOf(dim: DataFrame, version: Long): DataFrame =
    dim.filter(col("valid_from") <= version &&
      (col("valid_to").isNull || col("valid_to") > version))

  /** Freezes the [[quantileNormalizeBy]] mapping as a MODEL TABLE —
    * (group, bin, rank_micro, normalized_score_micro), O(groups × bins)
    * rows — so the calibration trains once on a reference corpus and
    * applies at ingestion without recomputing histograms (the frozen-LM /
    * bucketModel serving convention; persist kind-tagged via
    * `MetaPersist.writeModel(..., "quantile_norm")`). The `group` column
    * carries the scoreBucketsBy NULL sentinel. */
  def quantileNormalizeModel(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      binWidthMicro: Long = 1000L): DataFrame = {
    val (_, _, rows) = qnMapping(df, groupCol, scoreCol, binWidthMicro)
    import df.sparkSession.implicits._
    rows.toDF("group", "bin", "rank_micro", "normalized_score_micro")
  }

  /** Applies a frozen [[quantileNormalizeModel]] to new rows — the serving
    * twin: per row, the model row with the LARGEST trained bin ≤ the
    * row's bin within its group carries down (an unseen bin BETWEEN
    * trained bins inherits its lower neighbor's mapping — monotone in the
    * score, the bucketModel generalization rule); rows below a group's
    * trained range, or in an untrained group, get NULL rank/normalized
    * (no evidence — visible, never guessed). One as-of carry-down join on
    * the group key; the model never rescans its training corpus. Applying
    * a model to its OWN training corpus reproduces [[quantileNormalizeBy]]
    * exactly (pinned). Returns (id, group, score, bin, rank_micro,
    * normalized_score_micro). */
  def quantileNormalizeAgainst(
      df: DataFrame,
      model: DataFrame,
      groupCol: String,
      idCol: String,
      scoreCol: String,
      binWidthMicro: Long = 1000L): DataFrame = {
    require(binWidthMicro >= 1, "binWidthMicro must be at least 1")
    val sm = round(col(scoreCol) * lit(1e6)).cast("long")
    val gSafe = coalesce(col(groupCol).cast("string"), lit("<null>"))
    val left = df.select(col(idCol).as("id"), col(groupCol).as("group"),
      col(scoreCol).as("score"), gSafe.as("__g"),
      floor(sm / lit(binWidthMicro.toDouble)).cast("long").as("bin"))
    val right = model.select(col("group").as("__g"), col("bin").as("__mbin"),
      col("rank_micro"), col("normalized_score_micro"))
    AsOfJoin.backward(left, right, "__g", "bin", "__mbin",
        Seq("rank_micro", "normalized_score_micro"))
      .select(col("id"), col("group"), col("score"), col("bin"),
        col("asof_rank_micro").as("rank_micro"),
        col("asof_normalized_score_micro").as("normalized_score_micro"))
  }

  /** CDC change application — the MERGE INTO / Delta-apply shape: a base
    * snapshot plus a change feed of (id, op ∈ upsert|delete, ts, payload)
    * rows compacts to the post-change snapshot. LATEST WINS per id by
    * `tsCol`; on an exact ts tie a delete beats an upsert (the
    * destructive-bias tiebreak — replaying an ambiguous feed must never
    * resurrect a row someone tried to remove), and among tied upserts no
    * further tiebreak exists so the caller's feed must carry distinct ts
    * per id for reproducible payloads (documented, pinned). Unknown ops
    * are rejected loudly at execution (a typo'd op must not silently
    * drop a change).
    *
    * Scale shape: one per-id window over the CHANGE FEED only (rank
    * pushes to WindowGroupLimit), one anti-join of base against the
    * touched-id set, one union — the base never shuffles beyond the
    * anti-join's key exchange, history is never rescanned. Returns the
    * base schema exactly. */
  def applyChanges(
      base: DataFrame,
      changes: DataFrame,
      idCol: String,
      opCol: String,
      tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val baseCols = base.columns.toSeq
    require(baseCols.contains(idCol), s"base must carry $idCol")
    val checked = changes.withColumn("__op",
      when(col(opCol).isin("upsert", "delete"), col(opCol))
        .otherwise(raise_error(concat(lit("applyChanges: unknown op '"),
          col(opCol), lit("'")))))
    // delete outranks upsert on an exact ts tie
    val w = Window.partitionBy(col(idCol))
      .orderBy(col(tsCol).desc, when(col("__op") === "delete", 1).otherwise(0).desc)
    val winners = checked
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
    val upserts = winners.filter(col("__op") === "upsert")
      .select(baseCols.map(col): _*)
    val touched = winners.select(col(idCol)).distinct()
    base.join(touched, Seq(idCol), "left_anti")
      .unionByName(upserts)
  }

  /** CCNet perplexity tiers (Wenzek et al., "CCNet: Extracting High
    * Quality Monolingual Datasets from Web Crawl Data", 2020) — the
    * head/middle/tail split: score every document with a FROZEN unigram
    * LM ([[lmScoreAgainst]] — train once on a trusted corpus, persist
    * via MetaPersist) and bucket into per-`groupCol` (per-language)
    * terciles. Tiering keys on `avg_nll`, which orders identically to
    * perplexity (exp is monotone) but stays in the
    * one-division-over-exact-integer-sums arithmetic that is
    * bit-reproducible across engines — `exp` itself is not correctly
    * rounded everywhere, and a 1-ulp difference at a bin boundary must
    * not move a document between tiers. Tier 0 = head (lowest
    * perplexity). Token-less documents carry NULL avg_nll and are
    * excluded (they have no language-model evidence; gate them on length
    * instead). Returns (id, group, score, bin, tier). */
  def ccnetTiers(
      df: DataFrame,
      counts: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      nTiers: Int = 3,
      binWidthMicro: Long = 1000L): DataFrame = {
    val scored = lmScoreAgainst(df, counts, idCol, textCol)
      .select(col("id").as("__sid"), col("avg_nll"))
      .filter(col("avg_nll").isNotNull)
    scoreBucketsBy(
      df.join(scored, col(idCol) === col("__sid"))
        .select(col(idCol), col(groupCol), col("avg_nll")),
      groupCol, idCol, "avg_nll", nTiers, binWidthMicro)
      .withColumnRenamed("bucket", "tier")
  }

  /** The BOUNDARY MODEL behind [[scoreBuckets]] — the first bin of each
    * POPULATED bucket ≥ 1 as a (bucket, threshold_bin) table. Thresholds
    * generalize to bins never seen in training (bucket = LABEL of the
    * largest threshold_bin ≤ bin, default 0: below-range scores land in
    * bucket 0, above-range in the largest trained label) — which a raw
    * bin→bucket map cannot do — and the table is ≤ nBuckets−1 rows of
    * integers, persistable via
    * `MetaPersist.writeModel(..., "bucket_thresholds")`.
    *
    * The bucket LABEL must ride with each threshold: when trained labels
    * are non-consecutive (any bin holding more than N/nBuckets rows —
    * tied scores — skips labels), the rank of a threshold is NOT its
    * label, so a count-of-thresholds assignment would silently relabel
    * every bucket above the skip. [[scoreBucketsAgainst]] therefore looks
    * the label up, never re-derives it from position. */
  def bucketModel(
      corpus: DataFrame,
      idCol: String,
      scoreCol: String,
      nBuckets: Int = 10,
      binWidthMicro: Long = 1000L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val assigned = scoreBuckets(corpus, idCol, scoreCol, nBuckets, binWidthMicro)
    assigned.filter(col("bucket") >= 1)
      .groupBy("bucket").agg(min(col("bin")).as("threshold_bin"))
      .select(col("bucket"), col("threshold_bin"))
  }

  /** Score a batch against a FROZEN [[bucketModel]] — the curriculum
    * twin of the frozen LM / DSIR / vocabulary scorers: the ≤ nBuckets−1
    * (threshold, label) pairs collect into the plan as literal arrays
    * and each row's bucket is the LABEL of the largest threshold_bin ≤
    * its bin (0 when none is) — one row-local fold, no join, no shuffle,
    * no aggregation, stateless on a stream.
    * Label monotonicity (labels ascend with thresholds by construction)
    * makes the lookup `labels[count(thresholds ≤ bin)]`; the count alone
    * is NOT the bucket — non-consecutive trained labels (tied scores
    * overfilling a bin) would shift every bucket above the skip. Agrees
    * with [[scoreBuckets]] on every trained bin — including skipped-label
    * histograms — and extends deterministically to unseen bins
    * (below-range → 0, above-range → largest trained label). Output
    * schema matches [[scoreBuckets]]. */
  def scoreBucketsAgainst(
      batch: DataFrame,
      model: DataFrame,
      idCol: String,
      scoreCol: String,
      binWidthMicro: Long = 1000L): DataFrame = {
    val pairs: Seq[(Long, Int)] = model.select("threshold_bin", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq.sortBy(_._1)
    val tLit = typedLit(pairs.map(_._1))
    val lLit = typedLit(pairs.map(_._2))
    val sm = round(col(scoreCol) * lit(1e6)).cast("long")
    val cnt = size(filter(tLit, t => t <= col("bin")))
    batch
      .withColumn("bin", floor(sm / lit(binWidthMicro.toDouble)).cast("long"))
      .select(col(idCol).as("id"), col(scoreCol).as("score"), col("bin"),
        when(cnt === 0, lit(0)).otherwise(element_at(lLit, cnt)).as("bucket"))
  }

  /** Token-budget corpus selection: pick documents best-first by quality
    * score until a token budget is exhausted — the "assemble exactly T
    * training tokens from the top of the quality distribution" step that
    * closes a curation pipeline. Semantics are EXACTLY the greedy prefix
    * of the global (quantized-score DESC, id ASC) order whose running
    * token total stays ≤ `budget` — which is what a single
    * `sum() OVER (ORDER BY …)` window re-derives in SQL — but computed
    * WITHOUT a global sort: scores quantize to `binWidthMicro`-wide
    * integer bins (the [[scoreBuckets]] contract), the per-bin
    * (count, token-sum) histogram reduces map-side and collects as
    * driver metadata bounded by score-range / width, the driver walks
    * bins best-first to find the BOUNDARY bin (the one the budget runs
    * out inside), and the residual ordered window is confined by a
    * SECOND histogram level: tied scores are the hazard `binWidthMicro`
    * cannot dilute (a rule-based score legitimately takes few distinct
    * values, so ONE bin can hold a large corpus fraction at any width) —
    * the boundary bin therefore sub-divides by id range into ≤ `idBins`
    * buckets from the id span pass 1 already collected, the same
    * full/boundary walk runs one level down, and only the boundary ID
    * BUCKET pays the single-task running-total window (population ≈
    * ·boundary bin·/idBins for ids roughly uniform over their own span,
    * independent of score ties). The refinement never changes a verdict
    * — id-bucket order refines id order, so the output is bit-identical
    * to the direct window and the oracle stays the defining window form.
    * Requires a numeric id for the sub-division arithmetic; non-numeric
    * ids fall back to the direct boundary-bin window. Bins above the
    * boundary select row-locally via a broadcast literal; bins below
    * never select (greedy prefix, not knapsack — a later tiny doc does
    * NOT back-fill, by design: the selection must be a prefix of the
    * quality order for curriculum reproducibility).
    *
    * NULL hardening (the curateCorpus contract): a NULL token count
    * weighs 0 toward the budget; a NULL score is unrankable in the
    * quality order, so its row carries an explicit selected=0 verdict
    * (bin NULL) instead of vanishing. Ids are assumed non-null and
    * unique (the document-id contract shared by the dedup family).
    *
    * Returns one row per input row: (id, score, bin, n_tokens,
    * selected). */
  def selectTokenBudget(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      tokensCol: String,
      budget: Long,
      binWidthMicro: Long = 1000L,
      idBins: Int = 4096): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    require(binWidthMicro >= 1, "binWidthMicro must be at least 1")
    require(idBins >= 1, "idBins must be at least 1")
    val sm = round(col(scoreCol) * lit(1e6)).cast("long")
    val idNumeric = df.schema(idCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val binned = df
      .withColumn("bin", floor(sm / lit(binWidthMicro.toDouble)).cast("long"))
      // NULL token counts contribute zero budget weight, not an NPE
      .withColumn("__tok", coalesce(col(tokensCol).cast("long"), lit(0L)))
    // A NULL score has no place in the quality order: its row keeps the
    // one-row-per-input-row contract with an explicit selected=0 verdict
    // (bin NULL in the output), and stays out of the histogram so no
    // NULL-keyed group reaches the driver getLong reads.
    val scored = binned.filter(col("bin").isNotNull)
    // pass 1: per-bin token sums PLUS each bin's id range, so a boundary
    // bin can be sub-divided without another full-table pass (id range is
    // a dummy 0 for non-numeric ids — that branch never reads it)
    val hist = scored.groupBy("bin")
      .agg(sum(col("__tok")).as("t"),
        min(if (idNumeric) col(idCol).cast("long") else lit(0L)).as("lo"),
        max(if (idNumeric) col(idCol).cast("long") else lit(0L)).as("hi"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(-_._1)
    var cum = 0L
    var boundary: Option[(Long, Long, Long)] = None // (bin, lo, hi)
    var remaining = 0L
    val fullBins = Seq.newBuilder[Long]
    hist.foreach { case (b, t, lo, hi) =>
      if (boundary.isEmpty) {
        if (cum + t <= budget) { fullBins += b; cum += t }
        else { boundary = Some((b, lo, hi)); remaining = budget - cum }
      }
    }
    val fullLit = typedLit(fullBins.result())
    val out = (frame: DataFrame, sel: Column) => frame.select(
      col(idCol).as("id"), col(scoreCol).as("score"), col("bin"),
      col("__tok").as("n_tokens"), sel.cast("long").as("selected"))
    val nullScore = out(binned.filter(col("bin").isNull), lit(false))
    val selected = boundary match {
      case None => out(scored, array_contains(fullLit, col("bin")))
      case Some((bb, lo, hi)) if !idNumeric =>
        // non-numeric id: no range arithmetic — direct boundary window
        val w = Window.orderBy(col(idCol).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val bnd = scored.filter(col("bin") === bb)
          .withColumn("__cum", sum(col("__tok")).over(w))
        out(scored.filter(col("bin") =!= bb), array_contains(fullLit, col("bin")))
          .union(out(bnd, col("__cum") <= remaining))
      case Some((bb, lo, hi)) =>
        // pass 2 — the TIED-SCORE guard: a coarse score (rule-based
        // signals legitimately take few distinct values) can put a large
        // corpus fraction into the single boundary bin, and an ordered
        // window over it would be one task sorting that whole fraction.
        // The boundary bin therefore sub-divides by ID RANGE into ≤
        // `idBins` buckets (W = span/idBins — per-bucket population ≈
        // |bin|/idBins whenever ids are roughly uniform over their own
        // span, independent of score ties) and the same full/boundary
        // walk runs one level down: only the boundary ID BUCKET pays the
        // ordered running-total window. The output is IDENTICAL to the
        // direct window (the greedy prefix is over (bin DESC, id ASC);
        // id-bucket order refines id order), so the oracle stays the
        // defining window form and `idBins` never changes a verdict.
        val bnd = scored.filter(col("bin") === bb)
        val w2 = math.max(1L, (hi - lo) / idBins + 1)
        // exact integer floor-div (ids ≥ lo, so div = floor): bucket index
        // is monotone in id, which is what makes bucket order REFINE id
        // order and keeps the output bit-identical to the direct window
        val ibOf = expr(s"(cast(`$idCol` as bigint) - ${lo}L) div ${w2}L")
        val ibHist = bnd.groupBy(ibOf.as("ib")).agg(sum(col("__tok")).as("t")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        var cum2 = 0L
        var ib2: Option[Long] = None
        var remaining2 = 0L
        val fullIbs = Seq.newBuilder[Long]
        ibHist.foreach { case (ib, t) =>
          if (ib2.isEmpty) {
            if (cum2 + t <= remaining) { fullIbs += ib; cum2 += t }
            else { ib2 = Some(ib); remaining2 = remaining - cum2 }
          }
        }
        val fullIbLit = typedLit(fullIbs.result())
        val nonBoundary =
          out(scored.filter(col("bin") =!= bb), array_contains(fullLit, col("bin")))
        ib2 match {
          case None => nonBoundary.union(out(bnd, array_contains(fullIbLit, ibOf)))
          case Some(b2) =>
            val w = Window.orderBy(col(idCol).asc)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            val tail = bnd.filter(ibOf === b2)
              .withColumn("__cum", sum(col("__tok")).over(w))
            nonBoundary
              .union(out(bnd.filter(ibOf =!= b2), array_contains(fullIbLit, ibOf)))
              .union(out(tail, col("__cum") <= remaining2))
        }
    }
    selected.union(nullScore)
  }

  /** Per-GROUP [[selectTokenBudget]] — the same greedy best-first prefix
    * computed independently inside each `groupCol` value with the SAME
    * per-group token budget (per-language training quotas: every
    * language contributes its best `budget` tokens, the equal-allocation
    * counter to proportional sampling's head-language dominance). The
    * histogram reduces on (group, bin) and collects as driver metadata
    * bounded by groups × bins; full-bin membership and the per-group
    * leftover budget ride back as broadcast literal lookups keyed
    * null-safely (`group 0x00 bin` with a sentinel for NULL groups, the
    * [[scoreBucketsBy]] contract); only each group's boundary bin pays
    * the per-group ordered running-total window. Equivalent to the
    * per-group partitioned running-total window, which is the oracle
    * form. NULL hardening as in [[selectTokenBudget]]: NULL tokens weigh
    * 0, NULL-score rows get an explicit selected=0 verdict.
    * Returns (id, group, score, bin, n_tokens, selected). */
  def selectTokenBudgetBy(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      scoreCol: String,
      tokensCol: String,
      budget: Long,
      binWidthMicro: Long = 1000L,
      idBins: Int = 4096): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    require(binWidthMicro >= 1, "binWidthMicro must be at least 1")
    require(idBins >= 1, "idBins must be at least 1")
    val sm = round(col(scoreCol) * lit(1e6)).cast("long")
    val gSafe = coalesce(col(groupCol).cast("string"), lit("<null>"))
    val idNumeric = df.schema(idCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val binned = df
      .withColumn("bin", floor(sm / lit(binWidthMicro.toDouble)).cast("long"))
      // NULL token counts contribute zero budget weight, not an NPE
      .withColumn("__tok", coalesce(col(tokensCol).cast("long"), lit(0L)))
    // NULL score → NULL bin: unrankable, explicit selected=0 verdict row
    // (one row per input row), kept out of the driver histogram
    val scored = binned.filter(col("bin").isNotNull)
    // pass 1: per-(group, bin) token sums plus each cell's id range for
    // the tied-score refinement (driver metadata: groups x bins)
    val hist = scored.groupBy(gSafe.as("g"), col("bin"))
      .agg(sum(col("__tok")).as("t"),
        min(if (idNumeric) col(idCol).cast("long") else lit(0L)).as("lo"),
        max(if (idNumeric) col(idCol).cast("long") else lit(0L)).as("hi"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val fullKeys = Seq.newBuilder[String]
    val remainingByKey = Map.newBuilder[String, Long]
    val loByKey = Map.newBuilder[String, Long]
    val wByKey = Map.newBuilder[String, Long]
    hist.groupBy(_._1).foreach { case (g, rows) =>
      var cum = 0L
      var open = true
      rows.sortBy(-_._2).foreach { case (_, b, t, lo, hi) =>
        if (open) {
          if (cum + t <= budget) { fullKeys += s"$g\u0000$b"; cum += t }
          else {
            remainingByKey += (s"$g\u0000$b" -> (budget - cum))
            loByKey += (s"$g\u0000$b" -> lo)
            wByKey += (s"$g\u0000$b" -> math.max(1L, (hi - lo) / idBins + 1))
            open = false
          }
        }
      }
    }
    val key = concat(gSafe, lit("\u0000"), col("bin").cast("string"))
    val fullLit = typedLit(fullKeys.result())
    val remLit = typedLit(remainingByKey.result())
    val isBoundary = element_at(remLit, key).isNotNull
    val out = (frame: DataFrame, sel: Column) => frame.select(
      col(idCol).as("id"), col(groupCol).as("group"), col(scoreCol).as("score"),
      col("bin"), col("__tok").as("n_tokens"), sel.cast("long").as("selected"))
    val nullScore = out(binned.filter(col("bin").isNull), lit(false))
    val w = Window.partitionBy(gSafe).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nonBoundary = out(scored.filter(!isBoundary), array_contains(fullLit, key))
    if (!idNumeric) {
      // non-numeric id: no range arithmetic - direct per-group window
      val bnd = scored.filter(isBoundary)
        .withColumn("__cum", sum(col("__tok")).over(w))
      return nonBoundary.union(out(bnd, col("__cum") <= element_at(remLit, key)))
        .union(nullScore)
    }
    // pass 2 - the per-group TIED-SCORE guard (the [[selectTokenBudget]]
    // refinement, keyed by group): each group's boundary bin sub-divides
    // by id range into <= idBins buckets (per-group lo/width ride as
    // broadcast literal maps), the full/boundary walk runs one level
    // down per group, and only each group's boundary ID BUCKET pays the
    // per-group ordered window - verdict-identical (bucket order refines
    // id order inside each group). Driver: boundary-groups x idBins.
    val loLit = typedLit(loByKey.result())
    val wLit = typedLit(wByKey.result())
    val bnd0 = scored.filter(isBoundary)
      .withColumn("__lo", element_at(loLit, key))
      .withColumn("__w", element_at(wLit, key))
    val ibOf = expr(s"(cast(`$idCol` as bigint) - __lo) div __w")
    val ibHist = bnd0.groupBy(gSafe.as("g"), ibOf.as("ib"))
      .agg(sum(col("__tok")).as("t")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // boundary keys are unique per group -> remaining is per-group too
    val remByG: scala.collection.immutable.Map[String, Long] =
      remainingByKey.result().map { case (k, v) =>
        k.substring(0, k.indexOf('\u0000')) -> v
      }
    val fullIbKeys = Seq.newBuilder[String]
    val remaining2ByKey = Map.newBuilder[String, Long]
    ibHist.groupBy(_._1).foreach { case (g, rows) =>
      var cum = 0L
      var open = true
      rows.sortBy(_._2).foreach { case (_, ib, t) =>
        if (open) {
          if (cum + t <= remByG(g)) { fullIbKeys += s"$g\u0000$ib"; cum += t }
          else { remaining2ByKey += (s"$g\u0000$ib" -> (remByG(g) - cum)); open = false }
        }
      }
    }
    val ibKey = concat(gSafe, lit("\u0000"), ibOf.cast("string"))
    val fullIbLit = typedLit(fullIbKeys.result())
    val rem2Lit = typedLit(remaining2ByKey.result())
    val isIbBoundary = element_at(rem2Lit, ibKey).isNotNull
    val tail = bnd0.filter(isIbBoundary)
      .withColumn("__cum", sum(col("__tok")).over(w))
    nonBoundary
      .union(out(bnd0.filter(!isIbBoundary), array_contains(fullIbLit, ibKey)))
      .union(out(tail, col("__cum") <= element_at(rem2Lit, ibKey)))
      .union(nullScore)
  }

  /** Soft quality sampling (the DCLM / FineWeb "don't hard-threshold"
    * recipe): keep each document with probability
    * min(1, (score/τ)^γ) — τ the score at which documents are always
    * kept, γ the sharpness dial (γ→∞ approaches the hard filter at τ,
    * γ=1 keeps documents linearly in score) — so below-threshold
    * documents still contribute mass in proportion to their quality
    * instead of vanishing at a cliff. The coin is DETERMINISTIC: the
    * uniform draw is the first 8 md5 hex digits of (id ":" saltKey) over
    * 2³², the [[splitByHash]] / sub-cell-salt pattern — a document's
    * verdict is a pure function of its id, reproducible across runs,
    * engines, and partitionings, stable under corpus growth, and
    * re-randomizable by salt. Row-local projection: no shuffle, no
    * aggregation, no driver state; stateless on a stream. γ=1 skips
    * `pow` entirely — the keep probability is then one IEEE division,
    * exactly reproducible in ANSI SQL.
    *
    * Returns one row per input row: (id, score, keep_prob, selected). */
  def softQualitySample(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      tau: Double,
      gamma: Double = 1.0,
      saltKey: String = "softsample"): DataFrame = {
    require(tau > 0, "tau must be positive")
    require(gamma > 0, "gamma must be positive")
    val ratio = col(scoreCol) / lit(tau)
    val kp = least(lit(1.0), if (gamma == 1.0) ratio else pow(ratio, lit(gamma)))
    val u = conv(substring(md5(concat(col(idCol).cast("string"), lit(":" + saltKey))), 1, 8),
      16, 10).cast("long") / lit(4294967296.0)
    df.select(
      col(idCol).as("id"),
      col(scoreCol).as("score"),
      round(kp, 6).as("keep_prob"),
      (u < kp).cast("long").as("selected"))
  }

  /** Symbol-sequence encoding shared by [[bpeTrain]] and [[bpeSegment]]:
    * a word's symbol list renders as one string with every symbol wrapped
    * in 0x1E…0x1F (record/unit separator) brackets. The bracketing makes a
    * single non-overlapping left-to-right `replace` of
    * "⟨a⟩⟨b⟩" → "⟨ab⟩" EXACTLY the greedy BPE merge step — boundary-safe
    * (a symbol can never match inside another) and with the correct
    * repeat semantics ("b b b b" merges to "bb bb", the scan resuming
    * after each replacement) — in both Spark and ANSI SQL, which is what
    * keeps the whole trainer oracle-derivable. */
  private val BpeRS = "\u001e"
  private val BpeUS = "\u001f"

  private def bpeWrapChars(w: Column): Column =
    array_join(transform(split(w, ""), c => concat(lit(BpeRS), c, lit(BpeUS))), "")

  private def bpeSyms(state: Column): Column =
    split(state.substr(lit(2), length(state) - 2), BpeUS + BpeRS)

  /** Byte-pair-encoding vocabulary training (Sennrich et al., ACL 2016) —
    * the `nMerges` highest-count adjacent-symbol merges over the corpus
    * word-frequency table, symbols starting as characters. Ties break
    * (count desc, left asc, right asc), and pair counts are exact integer
    * sums, so the learned merge TABLE is deterministic at any partitioning
    * and exactly re-derivable by unrolled SQL. No end-of-word marker (the
    * GPT-2-style simplification); words containing the 0x1E/0x1F bracket
    * chars are excluded from training (they would corrupt the encoding).
    *
    * Rounds: each round runs one pair-count pass and accepts up to
    * `batchSize` merges from it. The default `batchSize = 1` is exact
    * sequential BPE: one merge per round at freshly counted pairs. A
    * larger `batchSize` is the production-merge-count form — sequential
    * BPE is one pair-count reduce plus one driver round-trip PER MERGE, so
    * at a 32k-merge vocabulary the fixed stage latency of 32k jobs, not
    * the data, dominates. A round scans the
    * top-(candidateWindow×batchSize) pairs by (count desc, lhs, rhs) in
    * rank order and accepts a pair iff none of its {lhs, rhs, lhs+rhs}
    * symbols was already touched by an earlier acceptance this round.
    * Symbol-disjoint merges act on disjoint positions of every bracketed
    * word state — no accepted pattern can create, destroy, or overlap an
    * occurrence of another — so the round applies as one chained
    * row-local `replace` whose per-pair effect is exactly what sequential
    * greedy would have done at the ROUND-START counts.
    *
    * The trade, stated honestly: merges 2..batchSize of a round use
    * counts that sequential BPE would have refreshed, so with
    * `batchSize > 1` the learned table can diverge from the exact greedy
    * sequence (a conflicting pair whose count survives the round's earlier
    * merges would have been picked first by the sequential trainer).
    * Rounds are statically `ceil(nMerges / batchSize)` with a per-round
    * acceptance cap (the final round takes the remainder), so the round
    * structure — and therefore the unrolled-SQL oracle — does not depend
    * on the data; conflict-starved rounds under-fill. The table carries
    * fewer than `nMerges` rows when rounds under-fill or the vocabulary
    * runs out of adjacent pairs. `merge_rank` is global acceptance order
    * and `pair_count` is the round-start count.
    *
    * Scale shape: the corpus is read ONCE (word-count reduce, map-side
    * combinable, uniform hash keys); every round then runs on the WORD
    * table — vocabulary-sized, not corpus-sized — as one pair-count
    * reduce plus a `TakeOrderedAndProject` candidate window (O(candidateWindow
    * × batchSize) rows to the driver) and a row-local `replace`. The word
    * table is checkpointed each round in a [[Materialize.rounds]] scope to
    * keep lineage flat; each round frees the one before. `onRound` is a
    * measurement hook: candidates considered, accepted and
    * conflict-rejected per round. Returns the merge table (merge_rank, lhs,
    * rhs, merged, pair_count). */
  def bpeTrain(
      df: DataFrame,
      textCol: String,
      nMerges: Int,
      batchSize: Int = 1,
      candidateWindow: Int = 8,
      onRound: (Int, Int, Int) => Unit = (_, _, _) => ()): DataFrame = {
    require(nMerges >= 1, "nMerges must be at least 1")
    require(batchSize >= 1, "batchSize must be at least 1")
    require(candidateWindow >= 1, "candidateWindow must be at least 1")
    val spark = df.sparkSession
    import spark.implicits._
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    Materialize.rounds(spark) { rounds =>
      var words = rounds.next(df
        .select(explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
        .filter(col("w") =!= "" && !col("w").rlike("[\\x1e\\x1f]"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .select(bpeWrapChars(col("w")).as("state"), col("cnt")))
      val nRounds = (nMerges + batchSize - 1) / batchSize
      var round = 0
      var rank = 0
      var exhausted = false
      while (round < nRounds && !exhausted) {
        val cap = math.min(batchSize, nMerges - round * batchSize)
        val cands = words
          .select(bpeSyms(col("state")).as("syms"), col("cnt"))
          .filter(size(col("syms")) >= 2)
          .select(explode(transform(sequence(lit(0), size(col("syms")) - 2), i =>
            struct(element_at(col("syms"), i + 1).as("a"),
              element_at(col("syms"), i + 2).as("b")))).as("p"), col("cnt"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("cnt")).as("c"))
          .orderBy(col("c").desc, col("a").asc, col("b").asc)
          .limit(candidateWindow * batchSize).collect()
        if (cands.isEmpty) exhausted = true
        else {
          val used = scala.collection.mutable.Set.empty[String]
          val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
          var i = 0
          var rejected = 0
          while (i < cands.length && accepted.size < cap) {
            val (a, b, c) = (cands(i).getString(0), cands(i).getString(1), cands(i).getLong(2))
            if (!used(a) && !used(b) && !used(a + b)) {
              accepted += ((a, b, c))
              used += a; used += b; used += (a + b)
            } else rejected += 1
            i += 1
          }
          onRound(i, accepted.size, rejected)
          accepted.foreach { case (a, b, c) =>
            merges += ((rank, a, b, a + b, c)); rank += 1
          }
          words = rounds.next(words.select(
            bpeMergeAll(col("state"), accepted.toSeq.map { case (a, b, _) => (a, b) }).as("state"),
            col("cnt")))
          round += 1
        }
      }
    }
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** The merges applied to a bracketed symbol string as one `replace`
    * per merge, in the given order. */
  private def bpeMergeAll(state: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(state) { case (st, (a, b)) =>
      replace(st, lit(BpeRS + a + BpeUS + BpeRS + b + BpeUS), lit(BpeRS + a + b + BpeUS))
    }

  /** Apply a trained BPE merge table to every word of every document —
    * row-local: the merges collect to the driver (bounded vocabulary
    * metadata, like the ANN centroid collect); no join, no shuffle, and
    * the same call runs on a streaming frame in append mode with zero
    * state. The table is frozen at query start: retraining means
    * restarting the query with the new table, so a stream never changes
    * vocabulary mid-flight. Returns one row per input row: (id, n_words,
    * n_subwords, segmented) where `segmented` joins subwords with "+"
    * inside each word and words with a space — the standard
    * subword-NMT-style audit rendering. NULL text segments as empty.
    *
    * The code picks the execution path from the collected table. A table
    * that passes [[graft.expressions.BpeEncode.tableDefect]]
    * (component-monotone with unique merged outputs — both trainer modes
    * produce such tables) runs the native rank-priority loop
    * ([[graft.expressions.BpeEncode]]): O(1) rank lookup per adjacent
    * pair, cost independent of vocabulary size. Any other table runs the
    * exact chain of one codegen'd `replace` per merge over the bracketed
    * symbol string, which is the only correct path for it (the priority
    * loop could re-merge a rank the chain has already passed). Both paths
    * give the same rows on a passing table; the declared
    * `text_bpe_segment` (chain) and `text_bpe_segment_fast` (this entry)
    * share one oracle. */
  def bpeSegment(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: DataFrame): DataFrame = {
    val ms = bpeCollect(merges)
    val native = graft.expressions.BpeEncode.tableDefect(ms).isEmpty
    bpeRender(df, idCol, textCol, if (native) bpeNative(ms) else bpeChain(ms))
  }

  /** [[bpeSegment]] through the `replace` chain, whatever the table. */
  private[graft] def bpeSegmentChain(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: DataFrame): DataFrame =
    bpeRender(df, idCol, textCol, bpeChain(bpeCollect(merges)))

  /** [[bpeSegment]] through the native loop; a table failing
    * [[graft.expressions.BpeEncode.tableDefect]] throws. */
  private[graft] def bpeSegmentNative(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: DataFrame): DataFrame = {
    val ms = bpeCollect(merges)
    graft.expressions.BpeEncode.tableDefect(ms).foreach(d => throw new IllegalArgumentException(d))
    bpeRender(df, idCol, textCol, bpeNative(ms))
  }

  private def bpeCollect(merges: DataFrame): Seq[(String, String)] =
    merges.orderBy("merge_rank").select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  // token array → per-word segmented renderings (`sub+sub+…`)
  private def bpeChain(ms: Seq[(String, String)]): Column => Column =
    ts => transform(ts, w =>
      // ⟨s1⟩⟨s2⟩… → s1+s2+…
      replace(replace(replace(bpeMergeAll(bpeWrapChars(w), ms), lit(BpeUS + BpeRS), lit("+")),
        lit(BpeRS), lit("")), lit(BpeUS), lit("")))

  private def bpeNative(ms: Seq[(String, String)]): Column => Column =
    ts => graft.expressions.BpeEncode(ts, ms.map(_._1), ms.map(_._2))

  private def bpeRender(
      df: DataFrame,
      idCol: String,
      textCol: String,
      segment: Column => Column): DataFrame = {
    val ts = graft.functions.TextFunctions.tokens(coalesce(col(textCol), lit("")))
    df.select(col(idCol).as("id"), segment(ts).as("__segs"))
      .select(col("id"),
        size(col("__segs")).cast("long").as("n_words"),
        aggregate(col("__segs"), lit(0L),
          (acc, s) => acc + size(split(s, "\\+"))).as("n_subwords"),
        array_join(col("__segs"), " ").as("segmented"))
  }

  // ------------------------------------------------------------------
  // Unigram-LM (SentencePiece-style) tokenizer — Kudo 2018, the other
  // mainstream public trainer next to BPE (T5/LLaMA lineage)

  /** Unknown-piece penalty: a single character absent from the vocabulary
    * scores −20 nats (micro-quantized) — Kudo's char-fallback, which keeps
    * EVERY word segmentable without reserving vocabulary slots for the
    * whole alphabet. */
  val UnigramUnkMicro: Long = -20000000L

  /** Sentinel for pieces that are in the vocabulary table but unusable
    * (multi-char piece absent from the table, or an EM round counted a
    * piece zero times): large enough that no segmentation through one can
    * beat any char-fallback path (cap × |Unk| ≪ |Forbidden|), small
    * enough that maxWordLen of them can never underflow a long. */
  val UnigramForbiddenMicro: Long = -10000000000000L

  /** Viterbi segmentation of one word under a piece-score map: forward DP
    * over character positions (best score ending at p = max over the last
    * piece's start j of best(j) + score(w[j+1..p]); ties prefer the
    * SMALLER j, i.e. the longer final piece), then a backpointer walk.
    * Pure higher-order-function expression — row-local, no shuffle, runs
    * identically on batch and streaming frames; the identical recurrence
    * and tie order unrolls into the DuckDB oracle's per-position CTE
    * chain. Returns array<struct<start int, piece string>> (1-based
    * start offsets within the capped word). */
  /** Trained-vocab Viterbi per word — the native
    * [[graft.expressions.UnigramViterbi]] (plain-Scala DP, O(len·maxPieceLen)
    * hash lookups; the HOF reference below evaluates interpreted at ~10 ms
    * per word, which the 10× rehearsal surfaced as an hour straggler). */
  private def unigramViterbi(
      w: Column, scores: Map[String, Long],
      maxPieceLen: Int, maxWordLen: Int): Column =
    graft.expressions.UnigramViterbi(w, scores, maxPieceLen, maxWordLen)

  /** The HOF/aggregate reference formulation of [[unigramViterbi]] — kept
    * solely as the equivalence twin the spec pins the native expression
    * against (the charStatsHof convention). */
  private[graft] def unigramViterbiHof(
      w: Column, scores: Column, maxPieceLen: Int, maxWordLen: Int): Column = {
    val word = substring(w, 1, maxWordLen)
    val n = length(word)
    def pieceScore(piece: Column, len: Column): Column =
      coalesce(element_at(scores, piece),
        when(len === 1, lit(UnigramUnkMicro)).otherwise(lit(UnigramForbiddenMicro)))
    // forward table: entry p+1 = best (score, backpointer) at position p
    val fwd = aggregate(
      sequence(lit(1), n),
      array(struct(lit(0L).as("score"), lit(0).as("bp"))),
      (acc, p) => concat(acc, array(
        aggregate(
          sequence(greatest(lit(0), p - maxPieceLen), p - 1),
          struct(lit(Long.MinValue / 4).as("score"), lit(-1).as("bp")),
          (b, j) => {
            val cand = element_at(acc, j + 1).getField("score") +
              pieceScore(word.substr(j + 1, p - j), p - j)
            when(cand > b.getField("score"),
              struct(cand.as("score"), j.cast("int").as("bp"))).otherwise(b)
          }))))
    // backpointer walk (at most n steps; no-op once pos reaches 0)
    val walk = aggregate(
      sequence(lit(1), n),
      struct(n.cast("int").as("pos"),
        lit(Array.empty[String]).as("pieces"),
        lit(Array.empty[Int]).as("starts")),
      (st, _) => {
        val pos = st.getField("pos")
        val bp = element_at(fwd, pos + 1).getField("bp")
        when(pos > 0,
          struct(bp.as("pos"),
            concat(array(word.substr(bp + 1, pos - bp)),
              st.getField("pieces")).as("pieces"),
            concat(array(bp + 1), st.getField("starts")).as("starts")))
          .otherwise(st)
      })
    when(n === 0, typedLit(Array.empty[(Int, String)])
        .cast("array<struct<start:int,piece:string>>"))
      .otherwise(zip_with(walk.getField("starts"), walk.getField("pieces"),
        (s, p) => struct(s.as("start"), p.as("piece"))))
  }

  /** Unigram-LM tokenizer training (Kudo 2018 / SentencePiece, hard-EM
    * form): seed the vocabulary with the corpus's frequent substrings,
    * iterate E-steps that re-segment the word-frequency table by Viterbi
    * under the current piece scores and re-count piece usage, re-estimate
    * scores as micro-nat log-probabilities, then prune to `vocabSize` by
    * final count. DOCUMENTED SIMPLIFICATIONS vs the paper, each chosen
    * for exact cross-engine reproducibility: hard (Viterbi) EM instead of
    * forward–backward expected counts; count-rank pruning instead of
    * loss-based pruning (the lowest-count pieces are the lowest
    * likelihood contributors — same ordering in the common case); words
    * truncate at `maxWordLen` chars (SentencePiece caps sentence length
    * the same way); coverage comes from the −20-nat char fallback rather
    * than reserved char slots.
    *
    * DETERMINISM: counts are exact longs off the one word-frequency
    * table; each round's score quantizes ONCE (`round(ln(n/total)·1e6)`,
    * the LM micro-nat convention); seed and prune ranks tie-break on the
    * piece string. The whole trainer — seed, every EM round's DP, the
    * prune — unrolls into the DuckDB oracle.
    *
    * Scale shape: the corpus is read ONCE into the (distinct word, count)
    * table (checkpointed); every round is row-local Viterbi over that
    * table plus one piece-key reduce. Per round the bounded score table
    * (≤ seedSize + alphabet rows, the BPE merge-table convention) rides
    * to the driver and back as a literal map — never corpus data.
    *
    * Returns (piece, n, score_micro): the pruned vocabulary with final
    * counts and scores. */
  def unigramTrain(
      df: DataFrame,
      textCol: String,
      vocabSize: Int,
      maxPieceLen: Int = 3,
      emRounds: Int = 2,
      seedSize: Int = 200,
      maxWordLen: Int = 12): DataFrame = {
    require(vocabSize >= 1, "vocabSize must be at least 1")
    require(maxPieceLen >= 1, "maxPieceLen must be at least 1")
    require(emRounds >= 1, "emRounds must be at least 1")
    require(seedSize >= 1, "seedSize must be at least 1")
    require(maxWordLen >= maxPieceLen, "maxWordLen must cover maxPieceLen")
    val spark = df.sparkSession
    import spark.implicits._
    Materialize.rounds(spark) { rounds =>
      val words = rounds.invariant(df
        .select(explode(graft.functions.TextFunctions.tokens(
          coalesce(col(textCol), lit("")))).as("w0"))
        .filter(col("w0") =!= "")
        .select(substring(col("w0"), 1, maxWordLen).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt")))
      // seed: every substring of length 1..maxPieceLen weighted by word
      // count; ALL single chars + the top `seedSize` multi-char pieces
      val subs = words
        .select(explode(flatten(transform(sequence(lit(1), length(col("w"))), p =>
          transform(sequence(lit(1),
              least(lit(maxPieceLen), length(col("w")) - p + 1)),
            l => col("w").substr(p, l))))).as("piece"), col("cnt"))
        .groupBy("piece").agg(sum(col("cnt")).as("n"))
      val seed = subs.filter(length(col("piece")) === 1)
        .unionAll(subs.filter(length(col("piece")) > 1)
          .orderBy(col("n").desc, col("piece").asc).limit(seedSize))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      def toScores(counts: Array[(String, Long)],
          membership: Array[String]): Map[String, Long] = {
        val m = counts.toMap
        val total = counts.map(_._2).sum.toDouble
        membership.map { p =>
          p -> m.get(p).filter(_ > 0L)
            .map(c => math.round(math.log(c / total) * 1e6))
            .getOrElse(UnigramForbiddenMicro)
        }.toMap
      }
      val membership = seed.map(_._1)
      var scores = toScores(seed, membership)
      var lastCounts = seed
      (1 to emRounds).foreach { _ =>
        lastCounts = words
          .select(explode(unigramViterbi(col("w"), scores, maxPieceLen, maxWordLen))
            .as("sp"), col("cnt"))
          .groupBy(col("sp.piece").as("piece")).agg(sum(col("cnt")).as("n"))
          .collect().map(r => (r.getString(0), r.getLong(1)))
        scores = toScores(lastCounts, membership)
      }
      // prune: top vocabSize by (final count desc, piece asc) among the
      // membership pieces actually used in the last round, scores
      // re-quantized over the pruned total
      val inVocab = membership.toSet
      val kept = lastCounts.filter { case (p, n) => inVocab(p) && n > 0 }
        .sortBy { case (p, n) => (-n, p) }.take(vocabSize)
      val keptTotal = kept.map(_._2).sum.toDouble
      kept.toSeq.map { case (p, n) =>
        (p, n, math.round(math.log(n / keptTotal) * 1e6))
      }.toDF("piece", "n", "score_micro")
    }
  }

  /** The persisted-model kind tag for a trained unigram vocabulary. */
  val UnigramKind = "unigram_vocab"

  /** The persisted-model kind tag for a trained BPE merge table. */
  val BpeKind = "bpe_merges"

  /** Persist a trained BPE merge table ([[bpeTrain]] output)
    * kind-tagged through [[graft.sources.MetaPersist.writeModel]] — the
    * same served-model contract every other frozen artifact here has
    * (LM counts, IVF centroids, PQ codebooks, DSIR weights): a
    * segmenter handed the wrong artifact fails loudly at LOAD, never
    * silently segments under the wrong vocabulary (r15 verdict #4). */
  def writeBpeModel(
      merges: DataFrame,
      path: String,
      params: Map[String, Any] = Map.empty): Unit =
    graft.sources.MetaPersist.writeModel(merges, path, BpeKind, params)

  /** Load a [[writeBpeModel]] artifact, refusing any other model kind.
    * The merge table round-trips exact (strings + longs through parquet),
    * so a reloaded table segments BIT-IDENTICALLY to the in-session one
    * (pinned in PipelineOpsSpec). */
  def readBpeModel(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.sources.MetaPersist.readModel(spark, path, BpeKind).df

  /** Persist a trained unigram vocabulary ([[unigramTrain]] output) —
    * the [[writeBpeModel]] contract for the unigram tokenizer. */
  def writeUnigramModel(
      vocab: DataFrame,
      path: String,
      params: Map[String, Any] = Map.empty): Unit =
    graft.sources.MetaPersist.writeModel(vocab, path, UnigramKind, params)

  /** Load a [[writeUnigramModel]] artifact, refusing any other model
    * kind. Piece scores are exact micro longs, so a reloaded vocabulary
    * segments bit-identically (pinned in PipelineOpsSpec). */
  def readUnigramModel(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.sources.MetaPersist.readModel(spark, path, UnigramKind).df

  /** Viterbi segmentation of a corpus under a trained [[unigramTrain]]
    * vocabulary — one output row per PIECE: (id, word_idx, piece_start,
    * piece), `word_idx` 1-based over the text's whitespace tokens,
    * `piece_start` the piece's 1-based char offset within the (capped)
    * word. Vocabulary scores ride a literal map (bounded table, the BPE
    * convention), frozen at query start.
    *
    * On a batch frame the DP runs once per DISTINCT word (the Zipf
    * shortcut of [[unigramFertility]]) and joins back onto the
    * occurrences. On a streaming frame (`df.isStreaming`) it runs
    * row-local per occurrence instead — no distinct, no join, so zero
    * streaming state and append mode; the distinct+join would carry
    * unbounded word state on a stream, while micro-batches are small
    * enough that the per-occurrence DP is the right trade. The DP is a
    * pure function of the word form, so both paths give bit-equal rows
    * (stream ≡ batch pinned in StreamingSpec). */
  def unigramSegment(
      df: DataFrame,
      idCol: String,
      textCol: String,
      vocab: DataFrame,
      maxPieceLen: Int = 3,
      maxWordLen: Int = 12): DataFrame = {
    val scores = vocab.select("piece", "score_micro").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ts = graft.functions.TextFunctions.tokens(coalesce(col(textCol), lit("")))
    val occ = df.select(col(idCol).as("id"), posexplode(ts))
      .filter(col("col") =!= "")
      .select(col("id"), (col("pos") + 1).cast("long").as("word_idx"),
        col("col").as("__w"))
    val viterbi = unigramViterbi(col("__w"), scores, maxPieceLen, maxWordLen).as("__sps")
    val spans =
      if (df.isStreaming) occ.select(col("id"), col("word_idx"), viterbi)
      else occ.join(occ.select(col("__w")).distinct().select(col("__w"), viterbi), Seq("__w"))
    spans.select(col("id"), col("word_idx"), explode(col("__sps")).as("sp"))
      .select(col("id"), col("word_idx"),
        col("sp.start").cast("long").as("piece_start"), col("sp.piece").as("piece"))
  }

  /** Tokenizer fertility report by group (typically language): pieces per
    * word under a trained [[unigramTrain]] vocabulary — THE standard
    * multilingual-tokenizer health metric (a language whose fertility far
    * exceeds the corpus mean is being shredded into chars, pays more
    * sequence length per content, and trains worse; SentencePiece/BPE
    * papers report exactly this number). Per group: word occurrences,
    * total pieces, `fertility_micro = round((pieces·1e6)/words)` and
    * `chars_per_piece_micro = round((chars·1e6)/pieces)` over the capped
    * words — one quantization each, exactly re-derivable.
    *
    * Scale shape: row-local Viterbi per word occurrence (the segmenter's
    * DP), one group-key reduce; the vocabulary rides the usual bounded
    * literal map. */
  def unigramFertility(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      vocab: DataFrame,
      maxPieceLen: Int = 3,
      maxWordLen: Int = 12): DataFrame = {
    val scores = vocab.select("piece", "score_micro").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // ZIPF SHORTCUT (the 10×-rehearsal straggler fix): the Viterbi DP is a
    // pure function of the word FORM, and word forms repeat with Zipf mass
    // — so the corpus reduces to (group, word, occurrences) first and the
    // expensive DP runs ONCE PER DISTINCT WORD (a table orders of
    // magnitude smaller than the occurrence stream), then weights back in
    // by the exact occurrence counts. Same integers, same output.
    val occ = df.select(col(groupCol).as("grp"),
        explode(graft.functions.TextFunctions.tokens(
          coalesce(col(textCol), lit("")))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("grp"), col("w"))
      .agg(count(lit(1)).as("__n"))
    val perWord = occ.select(col("w")).distinct()
      .select(col("w"),
        length(substring(col("w"), 1, maxWordLen)).cast("long").as("nc"),
        size(unigramViterbi(col("w"), scores, maxPieceLen, maxWordLen)).cast("long").as("np"))
    occ.join(perWord, Seq("w"))
      .groupBy(col("grp"))
      .agg(sum(col("__n")).as("n_words"),
        sum(col("np") * col("__n")).as("n_pieces"),
        sum(col("nc") * col("__n")).as("n_chars"))
      .select(col("grp").as(groupCol), col("n_words"), col("n_pieces"),
        round((col("n_pieces").cast("double") * lit(1e6)) / col("n_words"))
          .cast("long").as("fertility_micro"),
        round((col("n_chars").cast("double") * lit(1e6)) / col("n_pieces"))
          .cast("long").as("chars_per_piece_micro"))
  }

  /** Default category set for [[redactPiiAudited]] (Dolma-style masking):
    * (rule name, regex, replacement token), applied in order. The email
    * pattern is [[graft.functions.TextFunctions.EmailPattern]] verbatim —
    * one pattern definition across the fixed scrub and the audited form;
    * phone and IP join it. All patterns are lookaround-free so the same
    * regex runs identically under Java's engine (Spark) and RE2
    * (DuckDB/the oracle) — cross-engine reproducibility beats marginal
    * recall here, and the masking tokens are greppable in the output. */
  val DefaultPiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", graft.functions.TextFunctions.EmailPattern, "<EMAIL>"),
    ("phone", "\\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}", "<PHONE>"),
    ("ip", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"))

  /** Category-audited PII redaction — the configurable form of the fixed
    * [[graft.functions.TextFunctions.redactPii]] scrub (email + long digit
    * runs): callers supply named (pattern, token) rules and get a
    * PER-CATEGORY audit count alongside the rewrite, which is what a
    * 100 TB masking run reports per slice. Each pattern's matches are
    * counted on the ORIGINAL text and then replaced in pattern order
    * (each rule sees the previous rule's rewrites, so a phone number
    * inside an already-masked email is not double-replaced; the chain
    * order is part of the contract and the oracle re-derives it
    * literally). One row in, one row out, pure row-local regex work — a
    * map over the corpus scan at any scale. Returns
    * (id, n_<rule> per pattern, n_pii total, text_redacted). */
  def redactPiiAudited(
      df: DataFrame,
      idCol: String,
      textCol: String,
      patterns: Seq[(String, String, String)] = DefaultPiiPatterns): DataFrame = {
    require(patterns.nonEmpty, "at least one PII pattern is required")
    val txt = coalesce(col(textCol), lit(""))
    def count(re: String): Column =
      size(regexp_extract_all(txt, lit(re), lit(0))).cast("long")
    val countCols = patterns.map { case (name, re, _) => count(re).as(s"n_$name") }
    val total = patterns.map { case (_, re, _) => count(re) }.reduce(_ + _).as("n_pii")
    val redacted = patterns.foldLeft(txt) { case (t, (_, re, token)) =>
      regexp_replace(t, re, token)
    }.as("text_redacted")
    df.select(col(idCol).as("id") +: countCols :+ total :+ redacted: _*)
  }

  /** The Gopher stopword set (Rae et al. 2021, Appendix A1: a document
    * must contain at least two of these to survive the stopword rule). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The full Gopher document-quality rule set (Rae et al., "Scaling
    * Language Models: Methods, Analysis & Insights from Training Gopher",
    * 2021, Appendix A1) — the row-local complement to [[qualityGate]]
    * (which carries the n-gram repetition and LM signals): word-count
    * bounds, mean-word-length band, symbol-to-word ratios (# and
    * ellipsis), bullet-start and ellipsis-end line fractions, alphabetic
    * word fraction, minimum distinct stopwords, and the within-document
    * duplicate line/paragraph fractions by count and by character mass.
    *
    * Every signal is an exact integer count and every threshold compares
    * by integer cross-multiplication (`100·count > pct·total`), so the
    * keep/drop SET is bit-reproducible across engines and partitionings —
    * the whole rule set is exact-oracle-checkable. One row in, one row
    * out, no shuffle anywhere: at 100 TB this is a pure map over the
    * corpus scan. `reasons` lists the failed rules in rule order (empty
    * string = keep), mirroring [[qualityGate]]'s auditable-verdict shape.
    *
    * Duplicate-fraction definitions: a line/paragraph occurrence is a
    * duplicate iff an identical one occurs earlier in the SAME document;
    * the char-mass numerator is total chars minus one copy of each
    * distinct line/paragraph (`Σ(count−1)·len`), the fraction-of-
    * characters-in-duplicates form of the paper's rule. */
  def gopherRules(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Long = 50L,
      maxWords: Long = 100000L,
      minMeanWordLen: Long = 3L,
      maxMeanWordLen: Long = 10L,
      maxSymbolPct: Long = 10L,
      maxBulletLinePct: Long = 90L,
      maxEllipsisLinePct: Long = 30L,
      minAlphaWordPct: Long = 80L,
      minStopwords: Long = 2L,
      maxDupLinePct: Long = 30L,
      maxDupParaPct: Long = 30L,
      maxDupLineCharPct: Long = 20L,
      maxDupParaCharPct: Long = 20L,
      sep: String = "\n"): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val paraRe = sepRe + sepRe
    val txt = coalesce(col(textCol), lit(""))
    val words = filter(split(txt, "\\s+"), w => w =!= "")
    val lines = split(txt, sepRe)
    val paras = split(txt, paraRe)
    val charSum = (a: Column) => aggregate(a, lit(0L), (acc, x) => acc + length(x))
    val bulletHead = (l: Column) =>
      ltrim(l).startsWith("•") || ltrim(l).startsWith("-") || ltrim(l).startsWith("*")
    val ellipsisTail = (l: Column) =>
      rtrim(l).endsWith("...") || rtrim(l).endsWith("…")
    val base = df.select(
      col(idCol).as("id"),
      size(words).cast("long").as("n_words"),
      charSum(words).as("word_chars"),
      (length(txt) - length(replace(txt, lit("#"), lit("")))).cast("long").as("n_hash"),
      ((length(txt) - length(replace(txt, lit("..."), lit("")))) / 3 +
        (length(txt) - length(replace(txt, lit("…"), lit(""))))).cast("long").as("n_ellipsis"),
      size(lines).cast("long").as("n_lines"),
      size(filter(lines, bulletHead)).cast("long").as("n_bullet_lines"),
      size(filter(lines, ellipsisTail)).cast("long").as("n_ellipsis_lines"),
      size(filter(words, w => w.rlike("[a-zA-Z]"))).cast("long").as("n_alpha_words"),
      size(array_intersect(transform(words, lower _),
        typedLit(GopherStopwords))).cast("long").as("n_stopwords"),
      (size(lines) - size(array_distinct(lines))).cast("long").as("n_dup_lines"),
      charSum(lines).as("line_chars"),
      (charSum(lines) - charSum(array_distinct(lines))).as("dup_line_chars"),
      size(paras).cast("long").as("n_paras"),
      (size(paras) - size(array_distinct(paras))).cast("long").as("n_dup_paras"),
      charSum(paras).as("para_chars"),
      (charSum(paras) - charSum(array_distinct(paras))).as("dup_para_chars"))
    val reasons = filter(array(
        when(col("n_words") < minWords || col("n_words") > maxWords,
          lit("bad_word_count")),
        when(col("word_chars") < lit(minMeanWordLen) * col("n_words") ||
          col("word_chars") > lit(maxMeanWordLen) * col("n_words"),
          lit("bad_mean_word_length")),
        when(lit(100L) * col("n_hash") > lit(maxSymbolPct) * col("n_words"),
          lit("too_many_hashes")),
        when(lit(100L) * col("n_ellipsis") > lit(maxSymbolPct) * col("n_words"),
          lit("too_many_ellipses")),
        when(lit(100L) * col("n_bullet_lines") > lit(maxBulletLinePct) * col("n_lines"),
          lit("too_many_bullet_lines")),
        when(lit(100L) * col("n_ellipsis_lines") > lit(maxEllipsisLinePct) * col("n_lines"),
          lit("too_many_ellipsis_lines")),
        when(lit(100L) * col("n_alpha_words") < lit(minAlphaWordPct) * col("n_words"),
          lit("too_few_alpha_words")),
        when(col("n_stopwords") < minStopwords, lit("too_few_stopwords")),
        when(lit(100L) * col("n_dup_lines") > lit(maxDupLinePct) * col("n_lines"),
          lit("dup_lines")),
        when(lit(100L) * col("dup_line_chars") > lit(maxDupLineCharPct) * col("line_chars"),
          lit("dup_line_chars")),
        when(lit(100L) * col("n_dup_paras") > lit(maxDupParaPct) * col("n_paras"),
          lit("dup_paragraphs")),
        when(lit(100L) * col("dup_para_chars") > lit(maxDupParaCharPct) * col("para_chars"),
          lit("dup_paragraph_chars"))),
      x => x.isNotNull)
    base
      .withColumn("reasons", concat_ws(",", reasons))
      .withColumn("n_reasons", size(reasons).cast("long"))
      .withColumn("keep", col("n_reasons") === 0L)
  }

  /** Character-level statistics — the Dolma-style gibberish signals that
    * complement the token-level families: per document, the four
    * char-class counts (alpha, digit, whitespace, other/punct — exact and
    * disjoint, so they sum to `n_chars`) and the Shannon entropy of the
    * character distribution in integer micro-nats: each distinct
    * character contributes `count × (−round(ln(count/total)·1e6))`, the
    * same quantize-then-exact-integer-sum trick as the LM scorers, so the
    * entropy is bit-reproducible across engines and partition layouts
    * (one `ln` per DISTINCT character, summed exactly). Low entropy flags
    * repeated-character junk; a near-zero alpha fraction flags binary
    * spill — both cheap row-local gates a 100 TB ingest wants before any
    * tokenization. One row in, one row out, no shuffle. Returns
    * (id, n_chars, n_alpha, n_digit, n_space, n_other,
    * entropy_micro_nats). */
  def charStats(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val txt = coalesce(col(textCol), lit(""))
    val sig = graft.expressions.CharClassStats(txt)
    df.select(
      col(idCol).as("id"),
      sig.getField("n_chars").as("n_chars"),
      sig.getField("n_alpha").as("n_alpha"),
      sig.getField("n_digit").as("n_digit"),
      sig.getField("n_space").as("n_space"),
      sig.getField("n_other").as("n_other"),
      sig.getField("entropy_micro_nats").as("entropy_micro_nats"))
  }

  /** Flesch reading-ease readability — the classic surface-form
    * difficulty score (`206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words)`), the curriculum/audience signal the quality
    * stack lacks (C4/Gopher gate on FORM, the LM scorers on
    * DISTRIBUTION; readability grades comprehension difficulty).
    *
    * Counting heuristics, documented because no tokenless syllable count
    * is exact: sentences = runs of `[.!?]` (min 1); words = whitespace
    * tokens (min 1 via the NULL/empty guard); syllables = vowel-group
    * runs `[aeiouy]+` in the lowercased text, clamped UP to the word
    * count (every word has ≥1 syllable — the standard per-word clamp,
    * applied globally). All three are exact integer regexp counts, the
    * score quantizes once to micro units, and the band thresholds (≥70
    * easy, ≥50 standard, else difficult) compare the quantized long —
    * everything re-derives in ANSI SQL.
    *
    * Scale shape: row-local regexp counts, no shuffle, one row in/out.
    * Returns (id, words, sentences, syllables, flesch_micro, band). */
  def readability(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val txt = coalesce(col(textCol), lit(""))
    val words = greatest(lit(1L),
      size(filter(split(txt, "\\s+"), t => t =!= "")).cast("long"))
    val sentences = greatest(lit(1L), regexp_count(txt, lit("[.!?]+")).cast("long"))
    val syllables = greatest(words,
      regexp_count(lower(txt), lit("[aeiouy]+")).cast("long"))
    val flesch = round((lit(206.835) -
      lit(1.015) * (words.cast("double") / sentences.cast("double")) -
      lit(84.6) * (syllables.cast("double") / words.cast("double"))) * lit(1e6))
      .cast("long")
    df.select(col(idCol).as("id"),
        words.as("words"), sentences.as("sentences"), syllables.as("syllables"),
        flesch.as("flesch_micro"))
      .withColumn("band",
        when(col("flesch_micro") >= 70000000L, lit("easy"))
          .when(col("flesch_micro") >= 50000000L, lit("standard"))
          .otherwise(lit("difficult")))
  }

  /** Zipf-law fit over the corpus frequency spectrum: the OLS slope of
    * `ln(freq)` against `ln(rank)` over the top `topN` terms — natural
    * text sits near −1; a slope far off flags template/boilerplate floods
    * (too steep) or synthetic/shuffled text (too flat). THE one-number
    * corpus-health check next to the entropy and repetition families.
    *
    * DETERMINISM: term counts are exact longs; each ln quantizes ONCE to
    * micro units; the slope computes from four exact LONG sums of the
    * quantized points with one final division (the trendSlope
    * convention). Overflow bound: with micro-lns ≤ ~2.8·10⁷ (counts to
    * 10¹²), `n·Σxy` stays inside Long for topN ≤ ~200 — the spectrum
    * HEAD is the Zipf signal, so the default 100 is the intended dial.
    *
    * Scale shape: one term-key reduce with map-side partials, the top-N
    * cut is orderBy+limit (TakeOrderedAndProject — never a global sort),
    * and the rank window runs over the N surviving rows only. One row
    * out.
    *
    * Returns (n_terms, top_count, slope_micro) — slope NULL on a
    * degenerate (<2 distinct ranks) spectrum. */
  def zipfFit(
      df: DataFrame,
      textCol: String,
      topN: Int = 100): DataFrame = {
    require(topN >= 2, "topN must be at least 2")
    // hard contract, not just a doc note: past 200 points the n·Σxy sum
    // can leave Long at the documented 1e12 count ceiling and the slope
    // would silently go wrong (r15 ADVICE). The Zipf signal lives in the
    // spectrum head anyway — a wider fit wants DECIMAL sums, not topN.
    require(topN <= 200,
      s"topN=$topN exceeds the long-exact fit bound (200); the micro-ln " +
        "OLS sums overflow Long beyond it at large corpus counts")
    val counts = df
      .select(explode(split(coalesce(col(textCol), lit("")), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("term").asc).limit(topN)
    // rank window over the ≤ topN survivors only (bounded by construction)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("term").asc)
    val pts = top
      .withColumn("r", row_number().over(w).cast("long"))
      .select(round(log(col("r").cast("double")) * lit(1e6)).cast("long").as("x"),
        round(log(col("cnt").cast("double")) * lit(1e6)).cast("long").as("y"),
        col("cnt"))
    val sums = pts.agg(count(lit(1)).as("n_terms"), max(col("cnt")).as("top_count"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val denom = col("n_terms") * col("sxx") - col("sx") * col("sx")
    sums.select(col("n_terms"), col("top_count"),
      when(denom =!= 0L,
        round(((col("n_terms") * col("sxy") - col("sx") * col("sy")) * lit(1e6)) /
          denom).cast("long")).as("slope_micro"))
  }

  /** The HOF/regex reference formulation of [[charStats]] — kept solely as
    * the equivalence twin the spec pins the native expression against
    * (same pattern as the PQ and rotation `*Hof` references). */
  private[graft] def charStatsHof(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val txt = coalesce(col(textCol), lit(""))
    def classCount(re: String): Column =
      (length(txt) - length(regexp_replace(txt, re, ""))).cast("long")
    val chars = filter(split(txt, ""), c => c =!= "")
    val total = size(chars).cast("long")
    val perDistinct = transform(array_distinct(chars), c =>
      struct(size(filter(chars, x => x === c)).cast("long").as("c")))
    val entropy = aggregate(perDistinct, lit(0L), (acc, s) =>
      acc + s.getField("c") *
        (-round(log(s.getField("c").cast("double") / total.cast("double")) * lit(1e6))
          .cast("long")))
    df.select(
      col(idCol).as("id"),
      length(txt).cast("long").as("n_chars"),
      classCount("[A-Za-z]").as("n_alpha"),
      classCount("[0-9]").as("n_digit"),
      classCount("\\s").as("n_space"),
      (length(txt) - classCount("[A-Za-z]") - classCount("[0-9]") -
        classCount("\\s")).cast("long").as("n_other"),
      coalesce(entropy, lit(0L)).as("entropy_micro_nats"))
  }

  /** Default Gopher A1.1 thresholds, in integer percent, keyed by the n of
    * the rule: top-n-gram char fraction for n = 2,3,4 and
    * duplicate-n-gram char fraction for n = 5..10 (Rae et al. 2021). */
  val GopherRepetitionThresholdPct: Map[String, Long] = Map(
    "top_2gram" -> 20L, "top_3gram" -> 18L, "top_4gram" -> 16L,
    "dup_5gram" -> 15L, "dup_6gram" -> 14L, "dup_7gram" -> 13L,
    "dup_8gram" -> 12L, "dup_9gram" -> 11L, "dup_10gram" -> 10L)

  /** The complete Gopher A1.1 repetition family — the multi-n complement
    * to [[repetitionStats]] (which carries one n's count fractions) and
    * the within-doc side of [[gopherRules]]: all nine signals — top-n-gram
    * char mass for n = 2,3,4 and duplicate-n-gram COVERAGE char mass
    * (overlaps counted once) for n = 5..10 — computed by ONE row-local
    * native expression over the doc's own token arrays
    * ([[graft.expressions.GopherRepetition]]), so the entire family is a
    * shuffle-free map over the corpus scan. Character mass = token char
    * lengths, separators excluded on both sides of every fraction (see
    * the expression's Scaladoc for the two documented decisions).
    * Thresholds compare by integer cross-multiplication
    * (`100·mass > pct·total`) so the keep/drop SET is bit-reproducible;
    * `reasons` lists failed rules in (top 2,3,4, dup 5..10) order. */
  def gopherRepetition(
      df: DataFrame,
      idCol: String,
      textCol: String,
      thresholdPct: Map[String, Long] = GopherRepetitionThresholdPct): DataFrame = {
    val toks = filter(
      split(coalesce(col(textCol), lit("")), "\\s+"), w => w =!= "")
    val sig = graft.expressions.GopherRepetition(
      transform(toks, t => xxhash64(t)),
      transform(toks, t => length(t).cast("long")))
    val ruleNames =
      graft.expressions.GopherRepetition.TopNs.map(n => (s"top_${n}gram", s"top${n}_chars")) ++
        graft.expressions.GopherRepetition.DupNs.map(n => (s"dup_${n}gram", s"dup${n}_chars"))
    val base = df.select(col(idCol).as("id"), sig.as("__sig"))
      .select(col("id") +: col("__sig.total_chars").as("total_chars") +:
        ruleNames.map { case (_, f) => col(s"__sig.$f").as(f) }: _*)
    val withFracs = ruleNames.foldLeft(base) { case (b, (_, f)) =>
      b.withColumn(s"${f.stripSuffix("_chars")}_frac",
        when(col("total_chars") > 0,
          col(f).cast("double") / col("total_chars").cast("double")).otherwise(0.0))
    }
    val reasons = filter(array(ruleNames.map { case (rule, f) =>
        when(lit(100L) * col(f) > lit(thresholdPct(rule)) * col("total_chars"), lit(rule))
      }: _*), x => x.isNotNull)
    withFracs
      .withColumn("reasons", concat_ws(",", reasons))
      .withColumn("n_reasons", size(reasons).cast("long"))
      .withColumn("keep", col("n_reasons") === 0L)
  }

  /** The unified per-document quality PROFILE — one call joining the four
    * signal families into the corpus-profiling row a 100 TB filter run
    * reports per slice: the full Gopher A1 document rules
    * ([[gopherRules]], verdicts prefixed `rules_`), the complete A1.1
    * repetition family ([[gopherRepetition]], prefixed `rep_`), the
    * char-class/entropy stats ([[charStats]]) and the FROZEN unigram LM
    * score ([[lmScoreAgainst]] — train once, profile every batch;
    * `avg_nll`/`ppl` rendered at 6 decimals, the audit convention of the
    * declared LM query). `keep` = both rule families pass (the LM score
    * is reported, not gated — its threshold is corpus-dependent; gate it
    * with [[qualityGateAgainst]]). Each family is a separately
    * scale-safe pass (three shuffle-free projections + the LM's
    * scoring join); the composite joins one narrow row per doc per
    * family on the id. One row in, one row out. */
  def qualityProfile(
      df: DataFrame,
      counts: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val rules = gopherRules(df, idCol, textCol)
      .withColumnRenamed("reasons", "rules_reasons")
      .withColumnRenamed("n_reasons", "rules_n_reasons")
      .withColumnRenamed("keep", "rules_keep")
    val rep = gopherRepetition(df, idCol, textCol)
      .withColumnRenamed("reasons", "rep_reasons")
      .withColumnRenamed("n_reasons", "rep_n_reasons")
      .withColumnRenamed("keep", "rep_keep")
    val cs = charStats(df, idCol, textCol)
    val lm = lmScoreAgainst(df, counts, idCol, textCol)
      .select(col("id"), col("n_tokens"),
        round(col("avg_nll"), 6).as("avg_nll"), round(col("ppl"), 6).as("ppl"))
    rules
      .join(rep, Seq("id"))
      .join(cs, Seq("id"))
      .join(lm, Seq("id"))
      .withColumn("keep", col("rules_keep") && col("rep_keep"))
  }

  /** Corpus-wide LINE-level exact dedup — the CCNet / RefinedWeb curation
    * step that exact-document dedup misses: boilerplate lines (headers,
    * cookie banners, navigation chrome) repeat across millions of pages
    * whose full texts are all distinct. A line occurrence SURVIVES iff it is
    * the first global occurrence of that exact line, "first" meaning the
    * smallest (id, line index) pair — a pure function of the data, so the
    * kept set is reproducible at any partitioning and exactly
    * oracle-derivable. Repeats within one document dedup too (global order
    * subsumes document order). Lines shorter than `minLineChars` are exempt
    * (always kept): dedup of one-word lines destroys lists and headings —
    * the CCNet convention.
    *
    * Scale shape: the line text never shuffles. The split is row-local;
    * the shuffle carries (16-byte binary md5, id, idx) triples only — one
    * map-side-combinable min-reduce on the line hash (uniform keys
    * regardless of boilerplate skew: a line repeated a billion times is ONE
    * group whose min is map-side combined) — and the removal set rejoins
    * the corpus as (id, sorted int array), a per-doc metadata row that AQE
    * broadcasts when small. Reassembly is a row-local index filter over the
    * original split. MEASURED vs the naive window-over-exploded-lines form
    * (`MeasureProps --line-dedup`, sf0.1, identical removal checksums):
    * shuffle-write bytes 1.3× smaller at 8-token lines, 4.1× at 48-token
    * lines — the gap is the line text itself and grows with line length,
    * which is what matters at 100 TB (local wall time favors the naive
    * form at toy scale where fixed stage overhead dominates). Returns one
    * row per input row: (id, n_lines, n_removed_lines, text_deduped). */
  def lineDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n",
      minLineChars: Int = 0): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val lines = df
      .select(col(idCol).as("id"),
        posexplode(split(coalesce(col(textCol), lit("")), sepRe)).as(Seq("idx", "line")))
      .filter(length(col("line")) >= minLineChars)
      .select(col("id"), col("idx"), unhex(md5(col("line").cast("binary"))).as("h"))
    val keepers = lines.groupBy("h")
      .agg(min(struct(col("id"), col("idx"))).as("keeper"), count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
    val removed = lines.join(keepers, "h")
      .filter(!(col("id") === col("keeper.id") && col("idx") === col("keeper.idx")))
      .groupBy("id").agg(sort_array(collect_list(col("idx"))).as("rm"))
      .withColumnRenamed("id", "__rm_id")
    val arr = split(coalesce(col(textCol), lit("")), sepRe)
    val rmArr = coalesce(col("rm"), array().cast("array<int>"))
    df.join(removed, col(idCol) === col("__rm_id"), "left")
      .select(
        col(idCol).as("id"),
        size(arr).cast("long").as("n_lines"),
        coalesce(size(col("rm")), lit(0)).cast("long").as("n_removed_lines"),
        concat_ws(sep, filter(arr, (_, i) => !array_contains(rmArr, i))).as("text_deduped"))
  }

  /** Per-source corpus PROFILE (the WIMBD-style "what's in my big data"
    * report, Elazar et al., arXiv:2310.20707 — corpus-level analytics a
    * curation run opens with): document count, whitespace-token and
    * character volume, language spread, and the EXACT-duplicate rate
    * (documents whose full-text md5 occurs more than once ANYWHERE in the
    * corpus — cross-source duplication counted, because that is the
    * contamination question), one row per source.
    *
    * Scale shape: per-doc signals are row-local; duplication is one
    * groupBy on the 16-byte text digest (never the text — the same
    * narrow-key discipline as [[lineDedup]]) whose df>1 survivors rejoin
    * as a semi-joinable digest set; the final reduce is one per-source
    * aggregate with map-side combine. No window, no driver collect. */
  def corpusReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      langCol: String): DataFrame = {
    val txt = coalesce(col(textCol), lit(""))
    val perDoc = df.select(
      col(idCol).as("id"),
      col(sourceCol).as("source"),
      col(langCol).as("lang"),
      unhex(md5(txt.cast("binary"))).as("__h"),
      size(split(txt, "\\s+")).cast("long").as("__tok"),
      length(txt).cast("long").as("__chars"))
    val dupDigests = perDoc.groupBy("__h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > 1).select(col("__h"), lit(1L).as("__dup"))
    perDoc.join(dupDigests, Seq("__h"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("n_tokens"),
        sum(col("__chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        sum(coalesce(col("__dup"), lit(0L))).as("n_exact_dup_docs"))
      .withColumn("dup_frac",
        round(col("n_exact_dup_docs").cast("double") / col("n_docs"), 6))
  }

  /** Corpus snapshot diff (the dataset-versioning primitive behind
    * "what changed between crawl N and crawl N+1"): a full-outer join of
    * two snapshots on the document id, classifying every id as
    * added / removed / changed / unchanged by NULL-SAFE per-column
    * comparison (`<=>`) over `compareCols` — no serialization-dependent
    * row hashing, so the verdict is exact for any column type and NULL
    * pattern, and re-derivable in ANSI SQL (`IS NOT DISTINCT FROM`).
    *
    * Ids are assumed unique per snapshot (the document-id contract); a
    * duplicated id fans out through the join like any pk violation would.
    *
    * Scale shape: ONE co-partitioned shuffle join on the id — both sides
    * hash-partition on the same key, comparison is row-local, nothing
    * collects. At 100 TB the two snapshots would be bucketed on the id so
    * the exchange disappears entirely ([[graft.sources.Bucketing]]).
    *
    * Returns one row per id in either snapshot:
    * (id, status, n_changed_cols) — n_changed_cols NULL for added/removed
    * rows, else the exact count of differing compare columns. */
  def snapshotDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "compareCols must be non-empty")
    val o = oldDf.select(col(idCol).as("id") +:
      lit(1).as("__in_o") +: compareCols.map(c => col(c).as(s"__o_$c")): _*)
    val n = newDf.select(col(idCol).as("id") +:
      lit(1).as("__in_n") +: compareCols.map(c => col(c).as(s"__n_$c")): _*)
    val same = compareCols.map(c => col(s"__o_$c") <=> col(s"__n_$c")).reduce(_ && _)
    val nChanged = compareCols
      .map(c => when(col(s"__o_$c") <=> col(s"__n_$c"), 0L).otherwise(1L))
      .reduce(_ + _)
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("__in_o").isNull, "added")
          .when(col("__in_n").isNull, "removed")
          .when(same, "unchanged")
          .otherwise("changed").as("status"),
        when(col("__in_o").isNotNull && col("__in_n").isNotNull, nChanged)
          .otherwise(lit(null).cast("long")).as("n_changed_cols"))
  }

  /** Start an SCD-type-2 history table from a first snapshot: every row
    * opens at `version` (valid_to NULL = current). Schema:
    * (id, compareCols…, valid_from, valid_to). */
  def scd2Init(
      snapshot: DataFrame,
      idCol: String,
      compareCols: Seq[String],
      version: Long): DataFrame = {
    require(compareCols.nonEmpty, "compareCols must be non-empty")
    snapshot.select(col(idCol).as("id") +: compareCols.map(col): _*)
      .withColumn("valid_from", lit(version))
      .withColumn("valid_to", lit(null).cast("long"))
  }

  /** Apply the next snapshot to an SCD-type-2 history (Kimball slowly-
    * changing dimension, the warehouse twin of [[snapshotDiff]]): open
    * rows whose id changed or disappeared close at `version`
    * (valid_to = version), changed/new ids open a fresh row
    * (valid_from = version), unchanged open rows and all already-closed
    * rows pass through untouched — so point-in-time reads are
    * `valid_from <= v AND (valid_to IS NULL OR valid_to > v)` and the
    * whole history is reconstructible from any run. Change detection is
    * the same NULL-safe per-column `<=>` as [[snapshotDiff]] — no row
    * hashing, exact for any type/NULL pattern.
    *
    * Scale shape: one co-partitioned full-outer join of the OPEN slice
    * against the snapshot on the id; closed history is a pass-through
    * union branch that never joins or shuffles.
    *
    * Ids are assumed unique per snapshot and per open slice (the
    * document-id / pk contract). */
  def scd2Apply(
      dim: DataFrame,
      snapshot: DataFrame,
      idCol: String,
      compareCols: Seq[String],
      version: Long): DataFrame = {
    require(compareCols.nonEmpty, "compareCols must be non-empty")
    val closed = dim.filter(col("valid_to").isNotNull)
    val open = dim.filter(col("valid_to").isNull)
    val o = open.select(col("id") +: lit(1).as("__in_o") +: col("valid_from").as("__vf") +:
      compareCols.map(c => col(c).as(s"__o_$c")): _*)
    val n = snapshot.select(col(idCol).as("id") +: lit(1).as("__in_n") +:
      compareCols.map(c => col(c).as(s"__n_$c")): _*)
    val j = o.join(n, Seq("id"), "full_outer")
    val same = compareCols.map(c => col(s"__o_$c") <=> col(s"__n_$c")).reduce(_ && _)
    // old rows survive: unchanged stay open, changed/removed close now
    val oldRows = j.filter(col("__in_o").isNotNull)
      .select(col("id") +: compareCols.map(c => col(s"__o_$c").as(c)) :+
        col("__vf").as("valid_from") :+
        when(col("__in_n").isNotNull && same, lit(null).cast("long"))
          .otherwise(lit(version)).as("valid_to"): _*)
    // new/changed ids open a fresh row at this version
    val newRows = j.filter(col("__in_n").isNotNull && !(col("__in_o").isNotNull && same))
      .select(col("id") +: compareCols.map(c => col(s"__n_$c").as(c)) :+
        lit(version).as("valid_from") :+ lit(null).cast("long").as("valid_to"): _*)
    closed.select(col("id") +: compareCols.map(col) :+ col("valid_from") :+ col("valid_to"): _*)
      .unionByName(oldRows)
      .unionByName(newRows)
  }

  /** Canary-string scan (training-data hygiene: secret-detection canaries,
    * benchmark watermark strings, licensing sentinels): exact occurrence
    * counts of each literal `canaries` entry per document. The count is the
    * replace-length quotient — (len(text) − len(replace(text, c))) / len(c)
    * — exact integers, counting NON-OVERLAPPING occurrences left to right.
    *
    * Scale shape: fully row-local — the canary list rides as a plan literal
    * exploded against each row (no join, no shuffle); only documents with
    * at least one hit survive, so the output is proportional to leakage,
    * not corpus size.
    *
    * Returns one row per (document, canary) with hits ≥ 1:
    * (id, canary, hits). */
  def canaryScan(
      df: DataFrame,
      idCol: String,
      textCol: String,
      canaries: Seq[String]): DataFrame = {
    require(canaries.nonEmpty, "canaries must be non-empty")
    require(canaries.forall(_.nonEmpty), "canary strings must be non-empty")
    require(canaries.distinct.length == canaries.length, "canaries must be distinct")
    val txt = coalesce(col(textCol), lit(""))
    df.select(col(idCol).as("id"), txt.as("__t"),
        explode(typedLit(canaries)).as("canary"))
      .withColumn("hits",
        ((length(col("__t")) - length(replace(col("__t"), col("canary")))) /
          length(col("canary"))).cast("long"))
      .filter(col("hits") >= 1L)
      .select(col("id"), col("canary"), col("hits"))
  }
}
