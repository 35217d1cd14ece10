package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Corpus-scale deduplication operators (SURVEY.md §2.3).
  *
  * Every operator is a pure DataFrame→DataFrame transform built from
  * expressions + joins + aggregations, so Catalyst/AQE keep planning freedom
  * (skew splitting, partition coalescing). Nothing collects to the driver;
  * the only quadratic work is confined to within-bucket/within-block
  * candidate sets, which is the standard way to make near-dedup feasible at
  * 100 TB (LSH banding instead of an O(n²) cross join).
  */
object Dedup {

  /** Exact dedup with canonical-row election: groups by a content hash and
    * keeps min(id) as the canonical document. One shuffle on the hash —
    * at cluster scale the groupBy key is the md5, so data distributes
    * uniformly regardless of document skew. */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol).cast("binary")).as("content_hash"))
      .agg(
        min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("dup_count"))

  /** [[exact]] over the CANONICAL rendering of the content — Unicode NFC +
    * casefold + whitespace collapse ([[graft.expressions.NormalizeText]])
    * before hashing, so composed-vs-decomposed accents, case variation,
    * and whitespace runs collapse into one dedup key (the CCNet-style
    * normalize-then-hash convention; raw `md5(text)` treats each rendering
    * as distinct content). Same plan shape as [[exact]]: the normalization
    * is row-local inside the pre-shuffle project, one uniform-key shuffle. */
  def exactNormalized(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(
        md5(graft.functions.TextFunctions.normalizeText(col(contentCol)).cast("binary"))
          .as("content_hash"))
      .agg(
        min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("dup_count"))

  /** MinHash + LSH banding near-dedup.
    *
    * Pipeline (all distributed, 2 shuffles):
    *  1. per-doc MinHash signature over w-token shingles (row-local);
    *  2. split the signature into `bands` bands, hash each band → explode
    *     to (band_id, band_hash, id);
    *  3. group by band key: docs sharing any band are candidates — elect
    *     min(id) per band group;
    *  4. join back and take each doc's min over its bands as `cluster_id`.
    *
    * Step 4 is a single-pass approximation of connected components: exact
    * for clique-like near-dup clusters (the overwhelmingly common case);
    * chains longer than one hop need the iteration in [[refineClusters]].
    */
  /** (id, band_id, band_hash) band keys shared by [[minHashLsh]] and
    * [[incrementalNearDup]]. Stage 1 hashes each TOKEN once, then rolls
    * w-gram shingle hashes and all k minima in one codegen'd pass
    * (MinHashSignature). Shingle strings are never built — concatenating
    * them dominated the whole pipeline ~6× at sf0.1. The repartition puts
    * an Exchange between the signature projection and the band lambdas —
    * without it CollapseProject inlines the per-row loop into every one of
    * the `bands` band-key lambdas and recomputes b times per row. Stage 2
    * hashes each band's r-minima slice into one key. */
  private[graft] def bandKeys(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, shingleWidth: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into equal bands")
    val r = numHashes / bands
    val sigs = df.select(
      col(idCol),
      graft.expressions.MinHashSignature.minhashSignature(
        transform(tokens(col(textCol)), t => xxhash64(t)), numHashes, shingleWidth).as("sig"))
      .repartition(col(idCol))
    sigs.select(
      col(idCol),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        j => xxhash64(j, slice(col("sig"), j * lit(r) + lit(1), lit(r))))))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_hash")
  }

  def minHashLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      bands: Int = 8,
      shingleWidth: Int = 3): DataFrame = {
    val banded = bandKeys(df, idCol, textCol, numHashes, bands, shingleWidth)
    val bandGroups = banded
      .groupBy("band_id", "band_hash")
      .agg(min(col(idCol)).as("band_min"), count(lit(1)).as("band_size"))
    banded.join(bandGroups, Seq("band_id", "band_hash"))
      .groupBy(col(idCol))
      .agg(
        min(col("band_min")).as("cluster_id"),
        max(col("band_size") > 1).as("has_candidate"))
  }

  /** Incremental near-dedup: matches a NEW batch of documents against an
    * existing corpus — the daily-ingestion shape at 100 TB. Band keys are
    * computed for both sides ([[bandKeys]], row-local + one shuffle on the
    * band key), candidates are batch×corpus band collisions ONLY — the
    * corpus never self-joins, so ingesting B docs against a corpus of N
    * costs O(N + B + candidates), not O(N²). Candidates are confirmed with
    * exact shingle-set Jaccard (row-local set arithmetic on the rolled
    * 64-bit shingle hashes, quadratic work confined to the candidate set),
    * making false matches structurally impossible modulo hash collisions.
    *
    * Returns one row per batch doc: (id, matched_id, best_jaccard) —
    * `matched_id` the smallest corpus doc with confirmed Jaccard ≥
    * `minJaccard`, null when the doc is genuinely new. */
  def incrementalNearDup(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      bands: Int = 8,
      shingleWidth: Int = 3,
      minJaccard: Double = 0.8): DataFrame = {
    val bBands = bandKeys(batch, idCol, textCol, numHashes, bands, shingleWidth)
      .select(col(idCol).as("batch_id"), col("band_id"), col("band_hash"))
    val cBands = bandKeys(corpus, idCol, textCol, numHashes, bands, shingleWidth)
      .select(col(idCol).as("corpus_id"), col("band_id"), col("band_hash"))
    val cand = bBands.join(cBands, Seq("band_id", "band_hash"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    val matched = confirmedMatches(cand, batch, corpus, idCol, textCol, shingleWidth, minJaccard)
      .groupBy(col("batch_id"))
      .agg(min(col("corpus_id")).as("matched_id"), max(col("jaccard")).as("best_jaccard"))
    batch.select(col(idCol).as("id"))
      .join(matched, col("id") === col("batch_id"), "left")
      .select(col("id"), col("matched_id"), round(col("best_jaccard"), 6).as("best_jaccard"))
  }

  /** Row-local exact Jaccard of two distinct-hash-set arrays. r18: the
    * union size is `|A| + |B| − |A∩B|` — exact on distinct inputs — so
    * only ONE hash-set build per pair (the intersect) instead of two;
    * `array_union` additionally materialized the merged array just to
    * take its size. Bit-identical result (integer arithmetic on exact
    * set sizes), measurably cheaper on every candidate-confirm path. */
  private def setJaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = (size(a) + size(b)).cast("double") - inter
    when(uni === 0.0, 0.0).otherwise(inter / uni)
  }

  /** (id, distinct rolled-shingle-hash set) projection shared by the
    * confirm step below and [[winnowNearDup]]. */
  private def shingleSets(
      df: DataFrame, idCol: String, textCol: String, shingleWidth: Int, out: String): DataFrame =
    df.select(
      col(idCol).as(out),
      array_distinct(graft.expressions.MinHashSignature.shingleHashes(
        transform(tokens(col(textCol)), t => xxhash64(t)), shingleWidth)).as(s"${out}_sh"))

  /** Exact-Jaccard confirmation of (batch_id, corpus_id) candidate pairs:
    * row-local set arithmetic on rolled shingle hashes, quadratic work
    * confined to the candidate set. Returns pairs with `jaccard` ≥
    * `minJaccard`. Shared by [[incrementalNearDup]] and
    * [[winnowIncremental]]. */
  private def confirmedMatches(
      cand: DataFrame, batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, shingleWidth: Int, minJaccard: Double): DataFrame =
    confirmedMatchesFromSets(cand,
      shingleSets(batch, idCol, textCol, shingleWidth, "b_id"),
      shingleSets(corpus, idCol, textCol, shingleWidth, "c_id"),
      minJaccard)

  /** [[confirmedMatches]] over PRE-COMPUTED shingle-set frames — the r18
    * split that lets a self-dedup caller ([[winnowNearDup]]) tokenize and
    * shingle each document ONCE instead of once per join side: `bSets`
    * must carry (b_id, b_id_sh), `cSets` (c_id, c_id_sh), both as
    * [[shingleSets]] produces them. */
  private def confirmedMatchesFromSets(
      cand: DataFrame, bSets: DataFrame, cSets: DataFrame,
      minJaccard: Double): DataFrame =
    cand
      .join(bSets, col("batch_id") === col("b_id"))
      .join(cSets, col("corpus_id") === col("c_id"))
      .withColumn("jaccard", setJaccard(col("b_id_sh"), col("c_id_sh")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))

  /** One pointer-jumping round for cluster refinement: each row follows its
    * current representative's own pointer and keeps the smaller of the two
    * (`cluster_id := least(cluster_id, cluster_id[cluster_id])`). Iterating
    * until fixpoint contracts every pointer TREE to its root's minimum in
    * O(log depth) rounds — each round is ONE self-join shuffle on the
    * representative id. Note this refines the pointer graph only: edges
    * already collapsed away upstream (e.g. minHashLsh's min-over-bands)
    * cannot be recovered here — use [[connectedComponents]] on the raw
    * candidate PAIRS when exact components are required. */
  def refineClusters(assignments: DataFrame, idCol: String): DataFrame = {
    val reps = assignments.select(
      col(idCol).as("__rep_id"), col("cluster_id").as("__rep_cluster"))
    assignments
      .join(reps, assignments("cluster_id") === reps("__rep_id"), "left")
      .select(
        assignments(idCol),
        least(
          assignments("cluster_id"),
          coalesce(col("__rep_cluster"), assignments("cluster_id"))).as("cluster_id"))
  }

  /** Iterates [[refineClusters]] to fixpoint (bounded by `maxRounds`).
    * Convergence is checked with one count per round; pointer jumping halves
    * the pointer depth each round, so log2(longest chain) rounds suffice.
    * Rounds run in a [[Materialize.rounds]] scope: checkpointed, the
    * previous round's storage freed, everything freed on failure. Fail-loud
    * like [[connectedComponents]]: throws if the round budget is exhausted
    * before the fixpoint — silently returning partially-refined labels
    * would hand callers unconverged cluster ids with no signal.
    *
    * The result is a projection of the final round's checkpoint, so a
    * caller owning the whole result reclaims that checkpoint with
    * `graftbridge.freeCheckpoints(result)`; `freeCheckpoint(result)` is a
    * no-op on a projection. */
  def refineToFixpoint(assignments: DataFrame, idCol: String, maxRounds: Int = 10): DataFrame =
    Materialize.rounds(assignments.sparkSession) { rounds =>
      var cur = rounds.next(assignments)
      var round = 0
      var changed = true
      while (changed && round < maxRounds) {
        // the round carries the previous label as __old so the
        // convergence diff is a row-local predicate counted in the SAME
        // job that materializes the round's checkpoint
        val reps = cur.select(
          col(idCol).as("__rep_id"), col("cluster_id").as("__rep_cluster"))
        val step = cur.select(col(idCol), col("cluster_id").as("__old"))
          .join(reps, col("__old") === col("__rep_id"), "left")
          .select(col(idCol),
            least(col("__old"), coalesce(col("__rep_cluster"), col("__old")))
              .as("cluster_id"),
            col("__old"))
        val (next, diff) = rounds.nextCounting(step, col("cluster_id") =!= col("__old"))
        changed = diff > 0L
        cur = next
        round += 1
      }
      if (changed) throw new IllegalStateException(
        s"refineToFixpoint did not converge within $maxRounds rounds — " +
          "raise maxRounds (rounds needed ≈ log2 of the longest pointer chain)")
      rounds.keep().select(col(idCol), col("cluster_id"))
    }

  /** Exact connected components over an undirected candidate-pair edge list
    * (the output shape of [[simhashNearDup]] / [[embeddingNearDup]]):
    * min-label propagation accelerated with pointer jumping — each round
    * every vertex takes the min label over itself and its neighbors, then
    * follows its new label's own label one hop. The combination converges in
    * O(log diameter) rounds of two shuffles each. Unlike [[refineClusters]]
    * this consumes the raw EDGES, so components connected only through a
    * shared non-minimum document merge correctly. Rounds run in a
    * [[Materialize.rounds]] scope (checkpointed, the previous round and the
    * edge list freed, everything freed on failure); throws instead of
    * silently returning partial labels if `maxRounds` is hit before the
    * fixpoint.
    *
    * The result is a projection of the final round's checkpoint, so a
    * caller owning the whole result reclaims that checkpoint with
    * `graftbridge.freeCheckpoints(result)`; `freeCheckpoint(result)` is a
    * no-op on a projection. */
  def connectedComponents(
      pairs: DataFrame, srcCol: String, dstCol: String, maxRounds: Int = 20): DataFrame =
    Materialize.rounds(pairs.sparkSession) { rounds =>
      val edges = rounds.invariant(
        pairs.select(col(srcCol).as("src"), col(dstCol).as("dst"))
          .union(pairs.select(col(dstCol).as("src"), col(srcCol).as("dst")))
          .distinct())
      var labels = rounds.next(
        edges.select(col("src").as("id")).distinct()
          .withColumn("component", col("id")))
      var round = 0
      var changed = true
      while (changed && round < maxRounds) {
        val neighborMin = edges
          .join(labels, edges("dst") === labels("id"))
          .groupBy(edges("src").as("id2"))
          .agg(min(col("component")).as("nbr_min"))
        // carry the previous label as __old so the convergence diff is a
        // row-local predicate counted in the SAME job that materializes
        // the round's checkpoint
        val propagated = labels
          .join(neighborMin, labels("id") === col("id2"), "left")
          .select(labels("id"),
            least(labels("component"),
              coalesce(col("nbr_min"), labels("component"))).as("component"),
            labels("component").as("__old"))
        // pointer jump: component := least(component, component[component])
        val reps = propagated.select(
          col("id").as("__rep_id"), col("component").as("__rep_component"))
        val step = propagated
          .join(reps, propagated("component") === reps("__rep_id"), "left")
          .select(propagated("id"),
            least(propagated("component"),
              coalesce(col("__rep_component"), propagated("component"))).as("component"),
            col("__old"))
        val (next, diff) = rounds.nextCounting(step, col("component") =!= col("__old"))
        changed = diff > 0L
        labels = next
        round += 1
      }
      if (changed) throw new IllegalStateException(
        s"connectedComponents did not converge within $maxRounds rounds — " +
          "raise maxRounds (rounds needed ≈ log2 of the largest component's diameter)")
      // rounds ≥ 1 carry the __old diff column in the checkpoint — the
      // public contract stays (id, component)
      rounds.keep().select(col("id"), col("component"))
    }

  /** SimHash near-dedup: 64-bit signature, banded into four 16-bit keys;
    * docs sharing any band are candidates, confirmed by Hamming distance.
    * Returns candidate pairs (idA < idB) with their Hamming distance. */
  def simhashNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 8): DataFrame = {
    val sigs = df.select(col(idCol).as("id"), simhash64(textCol).as("sh"))
    val banded = sigs.select(
      col("id"), col("sh"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sh"), b * 16).bitwiseAND(lit(0xffffL))): _*)))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_key")
    val a = banded.select(col("band_id"), col("band_key"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band_id"), col("band_key"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("band_id", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming64(col("sh_a"), col("sh_b")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Per-doc simhash signature + coarse bucket (top 16 bits) — the cheap
    * observable building block for the banded pipeline above. The signature
    * expression is bound ONCE and the bucket derived from the bound column,
    * so a single SimHash64 evaluation per row is guaranteed by construction
    * (not rescued by codegen subexpression elimination). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), simhash64(textCol).as("simhash"))
      .select(col(idCol), col("simhash"), shiftright(col("simhash"), 48).as("bucket"))

  /** Explicit opt-out of the df cut for the Jaccard / fingerprint families:
    * pass as `maxShingleDf` / `maxFpDf` to get the unconditional exact
    * semantics (every posting list self-joins, however hot). The declared
    * exact oracles pass this explicitly; production defaults are finite. */
  val Exact: Long = Long.MaxValue

  /** Production default document-frequency cap for the n-gram shingle
    * inverted index ([[ngramJaccardBestMatch]] / [[ngramJaccardPairs]]) —
    * the same safe-by-default pattern as the winnow family's
    * [[DefaultMaxFpDf]]. Measured headroom (MeasureProps `--ngram-df`):
    * max corpus-wide shingle df is 9 at sf0.001, 7 at sf0.01, 25 at sf0.1
    * (p999 21; per-(lang, shingle) — BestMatch's actual key — max 14), and
    * Amplify's per-replica token bijection keeps the amplified sf1 df at
    * the sf0.1 level, so a 1000 cap has ≥40× headroom at every tested
    * scale, never engages there, and the exact-recall oracles hold under
    * it — while at 100 TB a boilerplate
    * shingle shared by millions of docs (license headers, nav chrome) is
    * dropped instead of turning its (block, shingle) reduce key into a
    * quadratic hot spot: per-key join work is bounded at cap²/2 = 500k
    * rows. Capped Jaccard is a lower bound of exact (intersections count
    * surviving shingles, set sizes stay full); pass [[Exact]] for the
    * unconditional semantics. */
  val DefaultMaxShingleDf: Long = 1000L

  /** Production default cell-size cap for [[semanticDedup]]'s within-cell
    * pair join. A cell at the cap contributes ≤ cap²/2 = 5·10⁷ candidate
    * pairs per sub-cell — one heavy-but-bounded task — and a cell of any
    * size s beyond it splits into ⌈s/cap⌉ salted sub-cells, making
    * per-cell work ~s·cap/2 + (s/cap)²/2: LINEAR in s at fixed cap, vs
    * the uncapped s²/2 (a 10⁷-row spam cell would otherwise emit 5·10¹³
    * pairs). Measured (MeasureProps `--semantic-cell`, the declared k=8
    * iters=2 quantizer): max cell 71 at sf0.01, 259 at sf0.1, 2544 at
    * amplified sf1 — 140.8× / 38.6× / 3.9× headroom. Cells grow as
    * corpus/k, so at FIXED toy k the headroom shrinks linearly with the
    * corpus; a production run grows k with the corpus (the paper trains
    * 100k clusters for web scale), keeping healthy cells far below the
    * cap — which exists purely to stop the skew catastrophe k cannot
    * prevent (duplicate masses all landing in one cell). Pass [[Exact]]
    * to opt out. */
  val DefaultMaxCellSize: Long = 10000L

  /** Document-frequency cut for an exploded inverted index: drops every
    * shingle whose posting list exceeds `maxDf` before the index self-joins.
    * The cut joins against the OVER-cap key set, which is tiny by
    * construction (over-cap keys are the boilerplate outliers — at most
    * total_postings/maxDf of them), so with AQE the anti join broadcasts
    * from runtime stats and the index itself never reshuffles for the cut;
    * the df count collapses to distinct keys map-side before its one small
    * shuffle. (The first formulation semi-joined against the KEPT set —
    * nearly every key — which reshuffled the whole index twice and showed
    * up as a 3.3 s / +60% overhead on the isolated sf1 audit row.)
    * Skipped entirely at the exact opt-out. */
  private def capDf(inv: DataFrame, keyCols: Seq[String], maxDf: Long): DataFrame =
    if (maxDf == Long.MaxValue) inv
    else {
      val hot = inv.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxDf)
        .select(keyCols.map(col): _*)
      inv.join(hot, keyCols, "left_anti")
    }

  /** N-gram Jaccard best match via an inverted shingle index.
    *
    * Instead of materializing every within-block pair and intersecting two
    * shingle arrays per pair (O(block² · |shingles|) — the naive
    * reference in PipelineOpsSpec), explode each doc's distinct shingles
    * and self-join on (block, shingle): only pairs that actually SHARE a shingle appear, and
    * `count(*)` per pair IS the intersection size. Union size follows from
    * the per-doc shingle counts (|a|+|b|−|a∩b|). Cost is Σ_shingle freq² —
    * for natural text (shingles are near-unique) orders of magnitude below
    * the pairwise product, and the join key (block, shingle) distributes
    * uniformly at cluster scale. Docs sharing no shingle with anyone fall
    * back to the smallest other id in their block with jaccard 0, exactly
    * matching the naive all-pairs ranking.
    *
    * `maxShingleDf` caps per-shingle document frequency (within the block):
    * a boilerplate shingle shared by millions of documents — license
    * headers, navigation chrome, the normal case in web corpora — turns its
    * Σ freq² reduce key into a quadratic hot spot, and a shingle that common
    * carries ~zero Jaccard signal anyway. Shingles above the cap are dropped
    * BEFORE the self-join (the standard df-cut), bounding per-key join work
    * at cap². Intersections then count surviving shingles only while set
    * sizes stay full, so capped Jaccard is a lower bound of the exact value
    * — recall of high-Jaccard pairs is unaffected in practice because
    * near-dup pairs share many rare shingles, but scores can only shrink.
    * The default is the finite [[DefaultMaxShingleDf]] (safe-by-default, as
    * for the winnow family's [[DefaultMaxFpDf]]); pass [[Exact]] for the
    * unconditional exact semantics. */
  def ngramJaccardBestMatch(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      shingleWidth: Int = 3,
      maxShingleDf: Long = DefaultMaxShingleDf): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // shingle IDENTITY is all the set arithmetic needs, so shingles travel
    // as rolled 64-bit hashes (ShingleHashes) — no string concatenation on
    // the CPU and 8-byte join keys on the wire instead of w-token strings.
    // The repartition is an Exchange barrier: five plan branches below
    // consume `toks`, and without it each branch re-tokenizes and re-hashes
    // every document; with it they all read the reused shuffle output.
    val toks = df.select(
      col(idCol).as("id"),
      col(blockCol).as("block"),
      array_distinct(graft.expressions.MinHashSignature.shingleHashes(
        transform(tokens(col(textCol)), t => xxhash64(t)), shingleWidth)).as("sh"))
      .repartition(col("id"))
    val sizes = toks.select(col("id"), col("block"), size(col("sh")).as("nsh"))
    val inv = capDf(
      toks.select(col("block"), col("id"), explode(col("sh")).as("s")),
      Seq("block", "s"), maxShingleDf)
    val overlaps = inv.select(col("block"), col("id").as("id_a"), col("s"))
      .join(inv.select(col("block"), col("id").as("id_b"), col("s")), Seq("block", "s"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("block", "id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    val scored = overlaps
      .join(sizes.select(col("id").as("id_a"), col("nsh").as("nsh_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("nsh").as("nsh_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("nsh_a") + col("nsh_b") - col("inter")).cast("double"))
    val w = Window.partitionBy(col("id_a")).orderBy(desc("jaccard"), asc("id_b"))
    val best = scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id_a").as("id"), col("id_b").as("best_match"),
        round(col("jaccard"), 6).as("jaccard"))
    // zero-overlap fallback: best over an all-0 candidate row is the block's
    // smallest other id (the naive version's tie-break on id_b)
    val mins = toks.select(col("block"), col("id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("block")).orderBy(asc("id"))))
      .filter(col("rn") <= 2)
      .groupBy("block")
      .agg(
        min(when(col("rn") === 1, col("id"))).as("m1"),
        min(when(col("rn") === 2, col("id"))).as("m2"))
    val lonely = toks.select(col("block"), col("id"))
      .join(best.select(col("id")), Seq("id"), "left_anti")
      .join(mins, Seq("block"))
      .filter(col("m2").isNotNull) // singleton blocks have no partner at all
      .select(col("id"),
        when(col("id") === col("m1"), col("m2")).otherwise(col("m1")).as("best_match"),
        lit(0.0).as("jaccard"))
    best.unionByName(lonely)
  }

  /** All document pairs with shingle-set Jaccard ≥ `minJaccard`, via the
    * same inverted shingle index as [[ngramJaccardBestMatch]] (cost
    * Σ_shingle freq², never block²). This is the standard dedup primitive —
    * the exact ground-truth pair set the LSH paths are verified against in
    * the declared property queries. No blocking column: only docs that
    * actually share a shingle meet, and at a high threshold the survivor
    * set is tiny.
    *
    * `maxShingleDf`: same df-cut dial as [[ngramJaccardBestMatch]] (here the
    * frequency is corpus-wide — there is no block). The finite
    * [[DefaultMaxShingleDf]] default means a user taking defaults on a web
    * corpus cannot hit the quadratic hot key; the exact declared oracles
    * opt in to [[Exact]] explicitly. Capped Jaccard is a lower bound, so
    * with a threshold query the trade is possible false negatives among
    * pairs whose overlap is mostly boilerplate — which are exactly the
    * pairs a near-dup pass should not surface anyway. */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double,
      shingleWidth: Int = 3,
      maxShingleDf: Long = DefaultMaxShingleDf): DataFrame = {
    val toks = df.select(
      col(idCol).as("id"),
      array_distinct(graft.expressions.MinHashSignature.shingleHashes(
        transform(tokens(col(textCol)), t => xxhash64(t)), shingleWidth)).as("sh"))
      .repartition(col("id"))
    val sizes = toks.select(col("id"), size(col("sh")).as("nsh"))
    val inv = capDf(toks.select(col("id"), explode(col("sh")).as("s")), Seq("s"), maxShingleDf)
    inv.select(col("id").as("id_a"), col("s"))
      .join(inv.select(col("id").as("id_b"), col("s")), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_a"), col("nsh").as("nsh_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("nsh").as("nsh_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("nsh_a") + col("nsh_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs — the quote-inclusion detector
    * Jaccard structurally misses: a short document fully embedded in a
    * long one has containment(A in B) = |sh(A) ∩ sh(B)| / |sh(A)| ≈ 1
    * while its Jaccard ≈ |A|/|B| can sit far below any dedup threshold
    * (Broder 1997's "containment", the resemblance's asymmetric sibling).
    * Emits BOTH directions per candidate pair — containment is not
    * symmetric and which side is the quote matters downstream.
    *
    * Scale shape: identical to [[ngramJaccardPairs]] — the same capped
    * inverted shingle index (Σfreq² over shingle keys, never corpus²; the
    * `maxShingleDf` boilerplate cut), the same distinct-shingle size
    * table joined back onto AGGREGATED pair rows — plus one row-local
    * union that mirrors each undirected candidate into its two directed
    * verdicts.
    *
    * Returns (id_a, id_b, containment) with containment of id_a's
    * shingles inside id_b, rounded to 6dp; only pairs at or above
    * `minContainment`. */
  def ngramContainment(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minContainment: Double,
      shingleWidth: Int = 3,
      maxShingleDf: Long = DefaultMaxShingleDf): DataFrame = {
    require(minContainment > 0 && minContainment <= 1,
      "minContainment must be in (0, 1]")
    val toks = df.select(
      col(idCol).as("id"),
      array_distinct(graft.expressions.MinHashSignature.shingleHashes(
        transform(tokens(col(textCol)), t => xxhash64(t)), shingleWidth)).as("sh"))
      .repartition(col("id"))
    val sizes = toks.select(col("id"), size(col("sh")).as("nsh"))
    val inv = capDf(toks.select(col("id"), explode(col("sh")).as("s")), Seq("s"), maxShingleDf)
    val undirected = inv.select(col("id").as("id_a"), col("s"))
      .join(inv.select(col("id").as("id_b"), col("s")), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    val directed = undirected
      .union(undirected.select(col("id_b").as("id_a"), col("id_a").as("id_b"),
        col("inter")))
    directed
      .join(sizes.select(col("id").as("id_a"), col("nsh").as("nsh_a")), Seq("id_a"))
      .withColumn("containment",
        col("inter").cast("double") / col("nsh_a").cast("double"))
      .filter(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), round(col("containment"), 6).as("containment"))
  }

  /** Embedding-cosine near-dup: random-hyperplane LSH bucketing (row-local
    * signature, one shuffle) restricts pairwise cosine to within-bucket
    * candidates. Returns pairs above `threshold`. Recall/cost dial: fewer
    * bits → bigger buckets → higher recall, more pairwise work.
    *
    * `nbits` IS SIZED WITH THE CORPUS BY DEFAULT ([[recommendedNbits]]
    * over one cheap `count()` — the [[DefaultMaxFpDf]] "safe by default"
    * rule): within-bucket work is Σ occupancy², so a FIXED nbits degrades
    * quadratically as the corpus grows (measured: the sf1 audit ratio
    * drifted 11.4× → 16.0× on byte-unchanged code as the 2-bit test
    * buckets filled), and a user taking defaults on a growing corpus must
    * not inherit that quadratic. Auto-sizing keeps expected occupancy —
    * and so per-bucket pair cost — bounded at ~[[DefaultTargetBucketSize]]
    * rows per bucket at ANY corpus size. The price is single-table recall
    * (measured dial 0.35/0.22/0.12 at nbits 2/3/4 on the sf0.01 fixture);
    * pass an explicit `nbits` to pin the dial, or recover pair recall
    * with multiple tables / the banding families if the threshold demands
    * it. The chosen bit count is emitted on every output row (`nbits`)
    * so an audit can always see which dial setting produced the pairs. */
  def embeddingNearDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      nbits: Int = AutoNbits): DataFrame = {
    require(nbits == AutoNbits || nbits >= 1,
      s"nbits must be >= 1 (or AutoNbits = $AutoNbits for occupancy-aware sizing)")
    val bits =
      if (nbits == AutoNbits) recommendedNbits(df.count()) else nbits
    val bucketed = df.select(
      col(idCol).as("id"),
      col(vecCol).as("vec"),
      lshBucket(col(vecCol), bits, dim).as("bucket"))
    val a = bucketed.select(col("bucket"), col("id").as("id_a"), col("vec").as("vec_a"))
    val b = bucketed.select(col("bucket"), col("id").as("id_b"), col("vec").as("vec_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"),
        lit(bits).as("nbits"))
  }

  /** Sentinel default for [[embeddingNearDup]]'s `nbits`: auto-size via
    * [[recommendedNbits]] over the corpus count. */
  val AutoNbits: Int = -1

  /** Expected-occupancy target the auto-sizing aims at. */
  val DefaultTargetBucketSize: Long = 1024L

  /** Occupancy-aware `nbits` for [[embeddingNearDup]]: the smallest bit
    * count keeping EXPECTED bucket occupancy at or below
    * `targetBucketSize` under the uniform-bucket approximation —
    * `ceil(log2(n / target))`, floored at 2 (below that the "index" is
    * one bucket). Within-bucket pair work is then bounded per bucket as
    * the corpus scales; the price is single-table recall (see the
    * operator's dial numbers). Pure integer math on the driver —
    * call it with a known corpus size or a cheap `count()`. */
  def recommendedNbits(
      corpusSize: Long,
      targetBucketSize: Long = DefaultTargetBucketSize): Int = {
    require(corpusSize >= 0, "corpusSize must be non-negative")
    require(targetBucketSize >= 1, "targetBucketSize must be at least 1")
    val buckets = math.max(1.0, corpusSize.toDouble / targetBucketSize)
    math.max(2, math.ceil(math.log(buckets) / math.log(2.0)).toInt)
  }

  /** Sentinel default for [[embeddingNearDupMultiTable]]'s `tables`:
    * auto-size via [[recommendedLshTables]] from (nbits, threshold). */
  val AutoTables: Int = -1

  /** Recall half of the (nbits, K) auto-sizing contract: the table count
    * K such that OR-amplified recall `1 − (1 − p^nbits)^K` reaches
    * `targetRecall` for pairs AT the cosine threshold, where
    * `p = 1 − acos(threshold)/π` is the per-hyperplane sign-agreement
    * probability of a pair at angle acos(threshold) (Charikar 2002 —
    * public SimHash analysis; pairs above the threshold collide more, so
    * the bound is the worst case over the accepted set). The model is
    * tight in practice: it predicts 0.356 single-table recall at
    * (nbits=2, threshold=0.3) vs 0.35 measured on the sf0.01 fixture.
    * Pure driver-side math; capped at 32 tables so a near-orthogonal
    * threshold (p^nbits → 0) can't demand an absurd fleet — at the cap
    * the caller is told the dial is out of range by the recall numbers
    * themselves, not by an opaque explosion of cost. */
  def recommendedLshTables(
      nbits: Int,
      threshold: Double,
      targetRecall: Double = 0.8): Int = {
    require(nbits >= 1, "nbits must be at least 1")
    require(threshold > -1.0 && threshold < 1.0, "threshold must be in (-1, 1)")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      "targetRecall must be in (0, 1)")
    val p = 1.0 - math.acos(threshold) / math.Pi
    val perTable = math.pow(p, nbits.toDouble)
    if (perTable >= targetRecall) 1
    else if (perTable <= 0.0) 32
    else math.min(32,
      math.ceil(math.log1p(-targetRecall) / math.log1p(-perTable)).toInt)
  }

  /** OR-amplified multi-table twin of [[embeddingNearDup]] — the recall
    * fix for the auto-sized single table: occupancy-aware `nbits` keeps
    * cost bounded but sinks single-table recall exactly as the corpus
    * grows (the operator's measured dial: 0.35/0.22/0.12 at nbits 2/3/4).
    * K INDEPENDENT hyperplane tables (disjoint plane sets —
    * [[graft.functions.VectorFunctions.lshBucketTable]]) each propose
    * within-bucket candidate pairs; the candidate set is their UNION, so
    * recall amplifies as `1 − (1 − r)^K` while per-table cost keeps the
    * same Σ occupancy² bound (total = K × single-table candidate work).
    * Both dials auto-size by default: `nbits` from the corpus count
    * ([[recommendedNbits]] — occupancy side), `tables` from
    * (nbits, threshold) ([[recommendedLshTables]] — recall side), so a
    * user taking defaults gets bounded cost AND ≥ ~0.8 expected pair
    * recall at ANY corpus size.
    *
    * Scale shape: the table×bucket join moves (id, bucket) rows ONLY —
    * vectors never enter the Σ occupancy² join (unlike the single-table
    * operator, K-way duplication makes carrying payloads unaffordable);
    * candidates dedupe across tables BEFORE the exact-cosine confirm,
    * which re-attaches vectors via two id-key joins (the lshTopK
    * pattern). Zero false positives is structural — every surviving pair
    * passed the exact cosine.
    *
    * COST DIAL (`targetBucketSize`, measured at the 100× rehearsal):
    * candidate volume is LINEAR at ~n · targetBucketSize · K rows, so the
    * dial IS the per-vector comparison budget — ~7.5·10⁸ candidate rows
    * at 200k vectors under the 1024 default, a cluster-scale shuffle
    * (fine across executors' aggregate disk, over a single box's).
    * Turning it down raises `nbits` and the K auto-sizing compensates
    * for per-table recall UNTIL the K ≤ 32 cap: at low thresholds the
    * per-table collision probability p^nbits collapses fast (t = 0.3,
    * nbits 12 → p ≈ 0.002, and even 32 tables reach ~6% recall), so
    * treat a small dial + low threshold as an explicit recall trade,
    * not a free cost cut.
    *
    * Returns (id_a, id_b, cos, nbits, n_tables), pairs once (id_a<id_b). */
  def embeddingNearDupMultiTable(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      nbits: Int = AutoNbits,
      tables: Int = AutoTables,
      targetRecall: Double = 0.8,
      targetBucketSize: Long = DefaultTargetBucketSize): DataFrame = {
    require(nbits == AutoNbits || nbits >= 1,
      s"nbits must be >= 1 (or AutoNbits = $AutoNbits for occupancy-aware sizing)")
    require(tables == AutoTables || tables >= 1,
      s"tables must be >= 1 (or AutoTables = $AutoTables for recall-aware sizing)")
    // candidate volume is ~n · targetBucketSize · K (linear, but the
    // CONSTANT is the shuffle budget: 1024·K comparisons per vector at
    // the default). The 100x single-box rehearsal showed ~7.5e8 candidate
    // rows at n=200k under the default dial — fine on a cluster's
    // aggregate disk, over a single box's. Lowering targetBucketSize
    // raises nbits (fewer, smaller buckets) and the K auto-sizing grows
    // tables to hold the recall target, trading per-table recall for
    // bounded per-vector work: the documented single-box / cost dial.
    val bits = if (nbits == AutoNbits) recommendedNbits(df.count(), targetBucketSize) else nbits
    val k =
      if (tables == AutoTables) recommendedLshTables(bits, threshold, targetRecall)
      else tables
    val ids = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // one row-local pass computes all K bucket signatures; the explode
    // keys candidates by (table, bucket) so tables never cross-pollinate
    val bucketed = ids.select(
      col("id"),
      posexplode(array((0 until k).map(t =>
        graft.functions.VectorFunctions.lshBucketTable(col("vec"), bits, dim, t)): _*)))
      .select(col("id"), col("pos").as("tbl"), col("col").as("bucket"))
    val candidates = bucketed.select(col("tbl"), col("bucket"), col("id").as("id_a"))
      .join(bucketed.select(col("tbl"), col("bucket"), col("id").as("id_b")),
        Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    candidates
      .join(ids.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(ids.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .withColumn("cos", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"),
        lit(bits).as("nbits"), lit(k).as("n_tables"))
  }

  /** Sentinel default for [[embeddingNearDupMultiProbe]]'s `probes`:
    * equal-candidate-budget sizing — the same count
    * [[recommendedLshTables]] would pick for the multi-table operator at
    * this (nbits, threshold), so the two recall strategies spend the same
    * ~n·occupancy·T candidate volume and differ only in WHERE they spend
    * it (smart neighboring buckets vs independent rehashes). */
  val AutoProbes: Int = -1

  /** The step-wise multi-probe schedule (Lv et al., VLDB 2007 §4.1's
    * query-directed sequence under the standard rank-score simplification):
    * subsets of margin RANKS (0 = the bit with the smallest |projection
    * margin|) ordered by Σ(rank+1) — flipping the single lowest-margin bit
    * first, then the second, and so on — ties by fewer flips (a score-3
    * single flip of the third-ranked bit precedes the {0,1} two-bit
    * flip), then lexicographic. Pure driver-side math; the first `count`
    * subsets become the extra probes. */
  def perturbationSets(nbits: Int, count: Int): Seq[Seq[Int]] = {
    require(nbits >= 1, "nbits must be at least 1")
    require(count >= 0, "count must be non-negative")
    val ranks = 0 until math.min(nbits, 16) // 2^16 candidate subsets max
    val all = ranks.toSet.subsets().filter(_.nonEmpty)
      .map(_.toSeq.sorted).toSeq
      .sortBy(s => (s.map(_ + 1).sum, s.length, s.mkString(",")))
    all.take(count)
  }

  /** Hard ceiling on the TOTAL probe count (base bucket + perturbations)
    * at a given `nbits`: [[perturbationSets]] draws from the non-empty
    * subsets of min(nbits, 16) margin ranks, so only 2^min(nbits,16) − 1
    * distinct extra probes exist. A requested `probes`/auto-sized T above
    * this would silently truncate (the schedule runs out of subsets) while
    * the output still reported the requested T — so the multi-probe
    * operators clamp to this and REPORT THE CLAMP in `n_probes`, keeping
    * the dial on the rows equal to what actually ran. */
  def maxProbes(nbits: Int): Int = 1 << math.min(nbits, 16)

  /** Multi-probe twin of [[embeddingNearDupMultiTable]] — the fix for the
    * multi-table recall strategy's growing index: instead of K independent
    * hash tables (index = K·n rows, and the r16 scale audit measured the
    * auto-K candidate bound growing superlinearly as occupancy-sizing
    * raises nbits with the corpus), ONE table is probed at T buckets per
    * vector — the base bucket plus the T−1 buckets reached by flipping the
    * sign bits with the smallest |projection margin| (Lv et al., VLDB 2007:
    * a near neighbor that misses the base bucket almost always sits across
    * one of the LOWEST-margin hyperplanes, so margin-ranked neighboring
    * buckets buy far more recall per candidate than an independent rehash).
    *
    * Scale shape: the INDEX stays O(n) rows at any T (the fixed-index
    * property multi-table lacks — its index is O(K·n) and K grows with the
    * corpus under the recall contract); probe rows are n·T ids-only longs;
    * join work is ~n·T·occupancy — the same budget as K=T tables, spent on
    * margin-ranked buckets instead. The probe count is a pure per-query
    * dial: turning T up reads more buckets of the SAME index, so serving
    * and incremental paths never rebuild anything. Pair (a,b) surfaces if
    * b's base bucket is among a's probes OR vice versa (both sides probe);
    * candidates dedupe before the exact-cosine confirm, zero false
    * positives structural.
    *
    * Returns (id_a, id_b, cos, nbits, n_probes), pairs once (id_a < id_b). */
  def embeddingNearDupMultiProbe(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      nbits: Int = AutoNbits,
      probes: Int = AutoProbes,
      targetRecall: Double = 0.8,
      targetBucketSize: Long = DefaultTargetBucketSize): DataFrame = {
    require(nbits == AutoNbits || nbits >= 1,
      s"nbits must be >= 1 (or AutoNbits = $AutoNbits for occupancy-aware sizing)")
    require(probes == AutoProbes || probes >= 1,
      s"probes must be >= 1 (or AutoProbes = $AutoProbes for equal-budget sizing)")
    val bits = if (nbits == AutoNbits) recommendedNbits(df.count(), targetBucketSize) else nbits
    // clamp to the schedule's capacity so n_probes reports what actually ran
    val t = math.min(
      if (probes == AutoProbes) recommendedLshTables(bits, threshold, targetRecall)
      else probes,
      maxProbes(bits))
    val ids = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val coded = ids.select(col("id"),
      graft.functions.VectorFunctions.lshProbeBuckets(
        col("vec"), bits, dim, perturbationSets(bits, t - 1)).as("pb"))
    // ONE index row per vector (probe position 1 = the base bucket)...
    val index = coded.select(element_at(col("pb"), 1).as("bucket"), col("id").as("id_b"))
    // ...probed at T buckets per vector; ids-only longs through the join
    val probe = coded.select(col("id").as("id_a"), explode(col("pb")).as("bucket"))
    val candidates = probe.join(index, Seq("bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    candidates
      .join(ids.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(ids.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .withColumn("cos", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"),
        lit(bits).as("nbits"), lit(t).as("n_probes"))
  }

  /** Incremental (batch-vs-corpus) multi-probe embedding near-dedup — the
    * multi-probe recall fix applied to the serving shape: a BATCH of new
    * vectors matched against a STATIC corpus, never self-joining the
    * corpus. This is exactly the path multi-probe was built for: the
    * corpus index is ONE base-bucket row per vector (O(n) at any probe
    * count — same planes and sign convention as the batch operator's
    * probe-1 code), and only the NEW side probes at T margin-ranked
    * buckets, so raising recall is a pure per-batch dial: no corpus
    * re-bucketing, no index rebuild, T can differ batch to batch against
    * the SAME index. Candidate rows are ids-only longs through the one
    * equi-join; every candidate confirms with the row-local exact cosine,
    * so zero false positives is structural.
    *
    * Recall model (one-sided probing): pair (b, c) surfaces iff c's base
    * bucket is among b's T probes. The base bucket is probe 1, so at any
    * T ≥ 1 this DOMINATES the single-table stream path's recall
    * (`lshBucket` collisions are exactly the probe-1 hits), and at
    * T = [[maxProbes]](nbits) the probe set covers every bucket — output
    * equals the exact straddling cosine pairs. `nbits` auto-sizes from
    * the CORPUS count (the side whose growth fills buckets; a `count()`
    * of the static frame is legal even when the batch side streams);
    * `probes` auto-sizes to the equal-budget T and clamps to the
    * schedule capacity, reported in `n_probes`.
    *
    * No distinct is needed between candidates and confirm — probe codes
    * per vector are pairwise distinct (base XOR distinct non-zero masks)
    * and the index holds one row per corpus vector, so each (batch,
    * corpus) pair joins at most once. That is what makes this SAME plan
    * legal under Structured Streaming append mode with a streaming
    * `batch`: no streaming dedup state, no aggregate. `probes = 1` is the
    * single-table serving path (`lshBucket` collisions, same planes and
    * signs); StreamingSpec pins stream ≡ batch across micro-batches.
    *
    * Returns (id, matched_id, cos, nbits, n_probes) — one row per
    * confirmed (batch, corpus) pair. */
  def embeddingNearDupMultiProbeIncremental(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      nbits: Int = AutoNbits,
      probes: Int = AutoProbes,
      targetRecall: Double = 0.8,
      targetBucketSize: Long = DefaultTargetBucketSize): DataFrame = {
    require(nbits == AutoNbits || nbits >= 1,
      s"nbits must be >= 1 (or AutoNbits = $AutoNbits for occupancy-aware sizing)")
    require(probes == AutoProbes || probes >= 1,
      s"probes must be >= 1 (or AutoProbes = $AutoProbes for equal-budget sizing)")
    val bits =
      if (nbits == AutoNbits) recommendedNbits(corpus.count(), targetBucketSize) else nbits
    val t = math.min(
      if (probes == AutoProbes) recommendedLshTables(bits, threshold, targetRecall)
      else probes,
      maxProbes(bits))
    // O(n) index: one base-bucket row per corpus vector (probe 1 of the
    // schedule — identical planes/signs to the batch side's codes)
    val index = corpus.select(
      element_at(graft.functions.VectorFunctions.lshProbeBuckets(
        col(vecCol), bits, dim, Seq.empty), 1).as("__bucket"),
      col(idCol).as("matched_id"), col(vecCol).as("__c_vec"))
    val probed = batch.select(
      col(idCol).as("id"), col(vecCol).as("__b_vec"),
      explode(graft.functions.VectorFunctions.lshProbeBuckets(
        col(vecCol), bits, dim, perturbationSets(bits, t - 1))).as("__bucket"))
    probed.join(index, Seq("__bucket"))
      .withColumn("cos", cosine(col("__b_vec"), col("__c_vec")))
      .filter(col("cos") >= threshold)
      .select(col("id"), col("matched_id"), round(col("cos"), 6).as("cos"),
        lit(bits).as("nbits"), lit(t).as("n_probes"))
  }

  /** Winnowing-based near-dup candidate pairs: documents sharing at least
    * one winnow fingerprint ([[graft.functions.TextFunctions
    * .winnowFingerprints]]) are candidates — the substring-level
    * complement to the set-level MinHash banding: the winnowing guarantee
    * makes any shared token run of ≥ w+k−1 tokens produce a shared
    * fingerprint, so long verbatim overlaps cannot be missed, at
    * ~2/(w+1) of the full shingle index's size.
    *
    * Scale shape is the inverted shingle index's: Σfreq² over fingerprint
    * keys, never corpus², with the same document-frequency cap dial —
    * `maxFpDf` drops boilerplate fingerprints shared by too many docs,
    * bounding per-key join work at cap² (the 100 TB web-corpus defense).
    * Fingerprints are 8-byte keys; ids-only rows go through the join.
    * `gramHash` defaults to codegen'd xxhash64 (fast path); pass
    * [[graft.functions.TextFunctions.md5Hash56]] when engine-portable
    * fingerprints are needed.
    *
    * Returns candidate pairs (id_a < id_b), each pair once. */
  /** Production default for the winnow fingerprint df cap: a FINITE cap
    * by default, because the unsafe behavior (one boilerplate fingerprint
    * shared by f docs → f²/2 join rows) is exactly what a user taking
    * defaults on a web corpus must not get. Sized ~40× above natural-text
    * fingerprint document frequencies (measured max df on the shipped
    * corpora: 7 at sf0.01, 24 at sf0.1; the amplified sf1 token-bijects
    * replicas, so it stays ~24), so the cap never engages at the tested
    * scales and the exact-recall oracles hold with defaults — while at
    * 100 TB a license-header fingerprint shared by millions of docs is
    * dropped instead of turning its join key into a quadratic hot spot
    * (cap²/2 = 500k join rows per hot key, bounded). The winnowing recall
    * guarantee is conditional on a pair sharing at least one fingerprint
    * UNDER the cap; boilerplate-only overlaps are the pairs a near-dup
    * pass should not surface anyway. Pass Long.MaxValue for the
    * unconditional guarantee. */
  val DefaultMaxFpDf: Long = 1000L

  def winnowPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      maxFpDf: Long = DefaultMaxFpDf,
      gramHash: Column => Column = xxhash64(_)): DataFrame = {
    require(maxFpDf >= 1, "maxFpDf must be at least 1")
    val fps = df.select(col(idCol).as("id"),
      explode(graft.functions.TextFunctions.winnowFingerprints(
        col(textCol), k, w, gramHash)).as("fp"))
    // fingerprints are distinct per doc, so the per-fp count IS document
    // frequency; the cap filter is one small reduce reused by the join
    val kept = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("__df")).filter(col("__df") <= maxFpDf),
      Seq("fp"))
    kept.select(col("fp"), col("id").as("id_a"))
      .join(kept.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** One-call winnowing near-dedup: [[winnowPairs]] candidates → exact
    * shingle-Jaccard confirm (row-local set arithmetic, quadratic work
    * confined to the candidate set — the same [[confirmedMatches]] engine
    * the incremental path uses) → exact [[connectedComponents]] over the
    * confirmed pairs. The winnow counterpart of [[minHashLsh]]'s
    * clustering, with DETERMINISTIC candidate recall (the winnowing
    * guarantee: any shared run ≥ w+k−1 tokens is a candidate) instead of
    * probabilistic banding, and with false positives structurally
    * impossible (every emitted duplicate passed the exact confirm).
    *
    * Returns one row per input doc: (id, cluster_id, confirmed_dup) —
    * cluster_id the smallest id in the doc's confirmed-duplicate
    * component (its own id when unique). NULL-id docs never pair (the
    * id_a < id_b candidate filter drops NULL comparisons) and keep a NULL
    * cluster_id. */
  def winnowNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      minJaccard: Double = 0.8,
      maxFpDf: Long = DefaultMaxFpDf,
      shingleWidth: Int = 3): DataFrame = {
    val cand = winnowPairs(df, idCol, textCol, k, w, maxFpDf)
      .select(col("id_a").as("batch_id"), col("id_b").as("corpus_id"))
    // r18: the confirm joins the SAME frame's shingle sets on both pair
    // ends — compute the tokenize+shingle projection once and pin it
    // instead of re-deriving it per join side. Storage bound: O(corpus
    // distinct-shingle bytes) in executor-local blocks, reclaimed by the
    // ContextCleaner when the frame is GC'd (see [[Materialize.pin]]).
    val ss = Materialize.pin(shingleSets(df, idCol, textCol, shingleWidth, "b_id"))
    val confirmed = confirmedMatchesFromSets(cand, ss,
      ss.select(col("b_id").as("c_id"), col("b_id_sh").as("c_id_sh")), minJaccard)
    val comps = connectedComponents(confirmed, "batch_id", "corpus_id")
    df.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("cluster_id"),
        col("component").isNotNull.as("confirmed_dup"))
  }

  /** Incremental winnowing near-dedup: matches a NEW batch of documents
    * against an existing corpus — the deterministic-recall twin of
    * [[incrementalNearDup]]. Banding recall is probabilistic (a pair can
    * miss every band); the winnowing guarantee is not: any shared token run
    * of ≥ w+k−1 tokens yields a shared fingerprint (fingerprints under the
    * df cap), so long verbatim overlaps between batch and corpus cannot be
    * missed. Candidates are batch×corpus fingerprint collisions ONLY — the
    * corpus never self-joins, so ingesting B docs against N costs
    * O(N + B + candidates). Candidates are confirmed with exact shingle-set
    * Jaccard (row-local set arithmetic, quadratic work confined to the
    * candidate set), so reported matches are structurally exact.
    *
    * `maxFpDf` caps a fingerprint's COMBINED (batch + corpus) document
    * frequency before the collision join — the same boilerplate defense as
    * [[winnowPairs]], bounding per-key join work at cap²/4.
    *
    * Returns one row per batch doc: (id, matched_id, best_jaccard) —
    * matched_id the smallest corpus doc with confirmed Jaccard ≥
    * `minJaccard`, null when the doc is genuinely new. */
  def winnowIncremental(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      minJaccard: Double = 0.8,
      maxFpDf: Long = DefaultMaxFpDf,
      shingleWidth: Int = 3): DataFrame = {
    require(maxFpDf >= 1, "maxFpDf must be at least 1")
    def fps(df: DataFrame, out: String): DataFrame =
      df.select(col(idCol).as(out),
        explode(graft.functions.TextFunctions.winnowFingerprints(
          col(textCol), k, w)).as("fp"))
    // r18: with the df cut active, each side's fingerprint explosion feeds
    // TWO consumers (the combined-df reduce and the collision join) — a
    // bare projection has no exchange for reuse to latch onto, so without
    // the pin the text is tokenized and winnowed twice per side; the pin
    // materializes it once (ids+8-byte fps only, never the text — O(docs ×
    // fingerprints) executor-local bytes, ContextCleaner-reclaimed). At the
    // uncapped setting each side is consumed once and the pin would be a
    // pure extra materialization — skip it.
    val usePin = maxFpDf != Long.MaxValue
    def sideFps(df: DataFrame, out: String): DataFrame =
      if (usePin) Materialize.pin(fps(df, out)) else fps(df, out)
    val bFps = sideFps(batch, "batch_id")
    val cFps = sideFps(corpus, "corpus_id")
    // combined-df cut: fingerprints are distinct per doc, so the count over
    // both sides IS total document frequency; skipped at the uncapped default
    def capped(side: DataFrame): DataFrame =
      if (maxFpDf == Long.MaxValue) side
      else {
        val kept = bFps.select(col("fp")).union(cFps.select(col("fp")))
          .groupBy("fp").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxFpDf)
          .select("fp")
        side.join(kept, Seq("fp"), "left_semi")
      }
    val cand = capped(bFps).join(capped(cFps), Seq("fp"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    val matched = confirmedMatches(cand, batch, corpus, idCol, textCol, shingleWidth, minJaccard)
      .groupBy(col("batch_id"))
      .agg(min(col("corpus_id")).as("matched_id"), max(col("jaccard")).as("best_jaccard"))
    batch.select(col(idCol).as("id"))
      .join(matched, col("id") === col("batch_id"), "left")
      .select(col("id"), col("matched_id"), round(col("best_jaccard"), 6).as("best_jaccard"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication",
    * arXiv:2303.09540): cluster the embedding corpus with a coarse k-means
    * quantizer, call two documents semantic duplicates when their exact
    * cosine meets `threshold` AND they land in the same cluster, group the
    * duplicates with connected components, and keep ONE representative per
    * group — the member with the LOWEST cosine to its cluster centroid
    * (the paper's rule: prefer the outlier, it carries the most marginal
    * information), id-ascending tiebreak.
    *
    * Scale shape is the paper's own argument plus a finite guard of our
    * own: the quadratic term is confined within clusters (Σ|cell|²
    * instead of corpus²), the centroid set is a broadcast array scored
    * row-locally ([[Similarity.topCellsLocal]] — no corpus×k fan-out),
    * and the pair join is one shuffle on the cell key. The paper's "k
    * grows with the corpus so cells stay bounded" is aspirational —
    * duplicates cluster together BY CONSTRUCTION (that is the operator's
    * premise), so a spam-heavy domain can pour millions of rows into one
    * cell. `maxCellSize` (default [[DefaultMaxCellSize]], the
    * [[DefaultMaxShingleDf]] safe-by-default pattern) bounds that cell:
    * a cell of size s > maxCellSize splits into m = ⌈s/maxCellSize⌉
    * md5-salted sub-cells (a pure row-local function of the id — exactly
    * re-derivable in SQL, unlike an xxhash LSH prefix), pairs form
    * within each sub-cell PLUS a boundary band pairing the min-id
    * REPRESENTATIVE of every sub-cell against the others' — so per-cell
    * pair work drops from s²/2 to ~s·maxCellSize/2 + (s/maxCellSize)²/2,
    * linear in s at fixed cap. The approximation is one-sided: every
    * emitted pair still passes the exact cosine confirm (components can
    * never merge wrongly), only cross-sub-cell pairs between non-
    * representatives are lost, so a true component can at worst SPLIT —
    * keeping MORE representatives than exact, never fewer per component.
    * The hard case the cap exists for — a dense mass of near-identical
    * vectors — reconnects through the band (its representatives are
    * mutual duplicates), collapsing the mass to one keeper as exact
    * semantics would. Pass [[Exact]] for the unconditional all-pairs
    * semantics. Components converge in O(log diameter) checkpointed
    * pointer-jumping rounds. Every stage is deterministic double/integer
    * arithmetic, so the whole pipeline — training and sub-splitting
    * included — is exactly re-derivable in SQL.
    *
    * Returns one row per corpus document:
    * (id, cell, component, cent_cos, keep). */
  def semanticDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centroidIdCol: String,
      centroidVecCol: String,
      threshold: Double,
      maxRounds: Int = 20,
      maxCellSize: Long = DefaultMaxCellSize,
      saltKey: String = "semsplit"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxCellSize >= 1, "maxCellSize must be at least 1")
    val cents = Similarity.centroidArray(centroids, centroidIdCol, centroidVecCol)
    // assignment computed once, carrying the vector for the pair stage.
    // r18: PINNED — a bare projection has no exchange for reuse to latch
    // onto, and this frame feeds the cell-count reduce, the sub-split
    // join, and the final label join; unpinned, the corpus was re-scanned
    // and re-scored against the centroid array three times per run.
    // Storage bound: O(corpus × dim) executor-local bytes (the pin carries
    // the full vector column for the pair stage), ContextCleaner-reclaimed
    // — the deliberate §5 trade of one materialization vs three scorings.
    val assigned = Materialize.pin(assignCells(corpus, idCol, vecCol, cents, "id", "__vec"))
    // sub-cell split of oversized cells: m = ceil(n / maxCellSize) salted
    // sub-cells (m = 1 — the expected case — reproduces the uncapped plan
    // bit-for-bit: every row lands in sub-cell 0)
    val cellCounts = assigned.groupBy("cell").agg(count(lit(1)).as("__n"))
    val withSub =
      if (maxCellSize == Exact) assigned.withColumn("__m", lit(1L)).withColumn("__sub", lit(0L))
      else assigned.join(broadcast(cellCounts), Seq("cell"))
        .withColumn("__m", expr(s"(__n + ${maxCellSize - 1}L) div ${maxCellSize}L"))
        .withColumn("__sub",
          conv(substring(md5(concat(col("id").cast("string"), lit(":" + saltKey))), 1, 8),
            16, 10).cast("long") % col("__m"))
    // within-sub-cell candidate pairs (id_a < id_b) — the bounded quadratic
    val a = withSub.select(col("cell"), col("__sub"), col("id").as("id_a"),
      col("__vec").as("__va"))
    val b = withSub.select(col("cell"), col("__sub"), col("id").as("id_b"),
      col("__vec").as("__vb"))
    val within = a.join(b, Seq("cell", "__sub"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("__va"), col("id_b"), col("__vb"))
    // boundary band: the min-id representative of each sub-cell of a SPLIT
    // cell, all-pairs across its sub-cells — ≤ m²/2 extra candidates
    val reps = withSub.filter(col("__m") > 1L)
      .groupBy("cell", "__sub")
      .agg(min(col("id")).as("id"), min_by(col("__vec"), col("id")).as("__vec"))
    val band = reps.select(col("cell"), col("id").as("id_a"), col("__vec").as("__va"))
      .join(reps.select(col("cell"), col("id").as("id_b"), col("__vec").as("__vb")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("__va"), col("id_b"), col("__vb"))
    // confirmed by exact cosine — identical confirm for both candidate kinds
    val pairs = within.union(band)
      .filter(cosine(col("__va"), col("__vb")) >= threshold)
      .select("id_a", "id_b")
    val comps = connectedComponents(pairs, "id_a", "id_b", maxRounds)
    // singletons (no duplicate partner) label themselves; a singleton's id
    // can never collide with a component label, because labels are min-ids
    // of pair members, which are never singletons
    val labeled = assigned
      .join(comps.withColumnRenamed("id", "__cid"), col("id") === col("__cid"), "left")
      .select(col("id"), col("cell"), col("cent_cos"),
        coalesce(col("component"), col("id")).as("component"))
    val w = Window.partitionBy(col("component")).orderBy(asc("cent_cos"), asc("id"))
    labeled
      .withColumn("keep", (row_number().over(w) === 1).cast("long"))
      .select("id", "cell", "component", "cent_cos", "keep")
  }

  /** Incremental SemDeDup: a NEW batch of embeddings matched against an
    * existing (already-deduplicated) corpus under a FROZEN coarse
    * quantizer — the ingestion-time twin of [[semanticDedup]], completing
    * the incremental family ([[incrementalNearDup]] for MinHash banding,
    * [[winnowIncremental]] for winnowing, this for semantic). Both sides
    * assign row-locally to their best cell against the broadcast centroid
    * array (train once via `Similarity.trainCentroids`, persist via
    * MetaPersist — re-training per batch would shift every cell
    * boundary); candidates are batch×store rows sharing a cell ONLY —
    * the store never self-joins, so ingesting B docs against N costs
    * O(N + B + Σ_cell |B_cell|·|S_cell|), and every candidate passes the
    * exact cosine confirm.
    *
    * The 100 TB guard is `maxCellStore` (default [[DefaultMaxCellSize]],
    * the [[semanticDedup]] cap pattern): a store cell larger than the cap
    * keeps only its `maxCellStore` MOST CENTRAL members (cent_cos
    * descending, id tiebreak) as match candidates — duplicate masses
    * live in the dense center of a cell, which is what an oversized cell
    * is made of, so the retained prefix is where a new duplicate's
    * partner sits. The approximation is one-sided: a match against a
    * dropped low-centrality outlier can be missed (batch doc reported
    * new), a reported match is always exact-cosine-confirmed. The
    * expected case (every cell under the cap) adds no sort — cells at or
    * under the cap bypass the ranking window entirely, reproducing the
    * uncapped plan; pass [[Exact]] for unconditional semantics.
    *
    * Returns one row per batch doc: (id, cell, cent_cos, matched_id,
    * best_cos) — matched_id the smallest store doc with confirmed cosine
    * ≥ `threshold`, NULL when the doc is semantically new. */
  def semanticDedupIncremental(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centroidIdCol: String,
      centroidVecCol: String,
      threshold: Double,
      maxCellStore: Long = DefaultMaxCellSize): DataFrame = {
    require(maxCellStore >= 1, "maxCellStore must be at least 1")
    val cents = Similarity.centroidArray(centroids, centroidIdCol, centroidVecCol)
    // r18: both assignments pinned (the [[semanticDedup]] fix) — the
    // store side feeds the cell-count reduce plus both cap branches, the
    // batch side the match join plus the final re-attach; unpinned each
    // consumer re-ran the scan + centroid scoring. Storage bound:
    // O((batch + store) × dim) executor-local bytes (full vector columns),
    // ContextCleaner-reclaimed (see [[Materialize.pin]]).
    val b = Materialize.pin(assignCells(batch, idCol, vecCol, cents, "id", "__bv"))
    val assigned = Materialize.pin(assignCells(corpus, idCol, vecCol, cents, "corpus_id", "__cv"))
    // the maxCellStore cap, count-gated: only oversized cells pay the
    // ranking window
    val store =
      if (maxCellStore == Exact) assigned.select("cell", "corpus_id", "__cv")
      else {
        val counts = assigned.groupBy("cell").agg(count(lit(1)).as("__n"))
        val withN = assigned.join(broadcast(counts), Seq("cell"))
        val small = withN.filter(col("__n") <= maxCellStore)
          .select("cell", "corpus_id", "__cv")
        val w = Window.partitionBy(col("cell")).orderBy(desc("cent_cos"), asc("corpus_id"))
        val capped = withN.filter(col("__n") > maxCellStore)
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= maxCellStore)
          .select("cell", "corpus_id", "__cv")
        small.union(capped)
      }
    val matched = b.select(col("id").as("__bid"), col("cell"), col("__bv"))
      .join(store, Seq("cell"))
      .withColumn("__cos", cosine(col("__bv"), col("__cv")))
      .filter(col("__cos") >= threshold)
      .groupBy(col("__bid"))
      .agg(min(col("corpus_id")).as("matched_id"),
        round(max(col("__cos")), 6).as("best_cos"))
    b.select(col("id"), col("cell"), col("cent_cos"))
      .join(matched, col("id") === col("__bid"), "left")
      .select(col("id"), col("cell"), col("cent_cos"), col("matched_id"), col("best_cos"))
  }

  /** Row-local best-cell assignment against a broadcast 1-row centroid
    * array ([[Similarity.centroidArray]]): (idOut, vecOut, cell,
    * cent_cos), cent_cos rounded to 6 places. Shared by [[semanticDedup]]
    * and [[semanticDedupIncremental]]. */
  private def assignCells(
      df: DataFrame, idCol: String, vecCol: String, cents: DataFrame,
      idOut: String, vecOut: String): DataFrame =
    df.crossJoin(broadcast(cents))
      .select(col(idCol), col(vecCol),
        explode(Similarity.topCellsLocal(col(vecCol), 1)).as("__best"))
      .select(col(idCol).as(idOut), col(vecCol).as(vecOut),
        col("__best.cell").as("cell"), round(col("__best.cos"), 6).as("cent_cos"))

  /** D4 data selection (Tirumala et al., "D4: Improving LLM Pretraining
    * via Document De-Duplication and Diversification", arXiv:2308.12284):
    * SemDeDup first removes semantic near-duplicates, then SSL-prototype
    * pruning (Sorscher et al. 2022) drops the `dropPct`% most PROTOTYPICAL
    * survivors per cluster — dedup kills redundancy between documents,
    * diversification thins the dense cluster cores the dedup pass cannot
    * see. One deliberate divergence from the paper, documented here: the
    * paper re-clusters the survivors between the two stages; this operator
    * reuses the ONE frozen quantizer for both (re-clustering is a
    * `Similarity.trainCentroids` call over the survivors away, but a
    * frozen quantizer keeps the whole composite deterministic from raw
    * vectors — every stage exactly re-derivable in SQL — and matches how
    * a production pipeline amortizes one trained quantizer across stages).
    *
    * Scale shape is the two components' own: [[semanticDedup]]'s capped
    * within-cell machinery (`maxCellSize`) plus one per-cell window over
    * the survivor METADATA rows (id, cell, cent_cos) — vectors never enter
    * the second stage, and the prototype rank reuses the centroid cosine
    * the assignment pass already computed (Sorscher's prototypicality
    * score IS cosine-to-centroid, so no second embedding pass exists).
    *
    * Returns one row per input document: (id, cell, component, cent_cos,
    * sem_keep, proto_rank, cell_size, keep) — `sem_keep` the SemDeDup
    * verdict, `proto_rank`/`cell_size` NULL for documents SemDeDup
    * dropped, `keep` the final D4 verdict (survived dedup AND outside the
    * pruned prototype quota). */
  def d4Select(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centroidIdCol: String,
      centroidVecCol: String,
      threshold: Double,
      dropPct: Int,
      maxRounds: Int = 20,
      maxCellSize: Long = DefaultMaxCellSize): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dropPct >= 0 && dropPct <= 100, "dropPct must be in [0, 100]")
    val sem = semanticDedup(corpus, idCol, vecCol, centroids, centroidIdCol,
      centroidVecCol, threshold, maxRounds, maxCellSize)
    // stage 2 over survivor metadata only: round-then-rank on the 6dp
    // centroid cosine (id tiebreak) with the integer drop quota — the
    // exact prototypePrune arithmetic, on the dedup survivors
    val w = Window.partitionBy(col("cell")).orderBy(col("cent_cos").desc, col("id").asc)
    val ranked = sem.filter(col("keep") === 1L)
      .withColumn("proto_rank", row_number().over(w).cast("long"))
      .withColumn("cell_size", count(lit(1)).over(Window.partitionBy(col("cell"))))
      .select(col("id"), col("proto_rank"), col("cell_size"),
        expr(s"proto_rank > (cell_size * $dropPct) div 100").as("__d4"))
    sem.select(col("id"), col("cell"), col("component"), col("cent_cos"),
        col("keep").as("sem_keep"))
      .join(ranked, Seq("id"), "left")
      .select(col("id"), col("cell"), col("component"), col("cent_cos"),
        col("sem_keep"), col("proto_rank"), col("cell_size"),
        coalesce(col("__d4"), lit(false)).as("keep"))
  }

  /** Canonical-member election by SCORE: within each cluster keep the
    * highest-scoring member (ties to the smaller id) — the step after any
    * near-dedup clustering in a production pipeline, where "first seen"
    * is the wrong keeper and "highest quality" is the right one. Works
    * over any (id, cluster) assignment — minhash/winnow clusters,
    * connected components, semantic cells. One per-cluster window over
    * score metadata; text and vectors never enter the shuffle. Appends
    * (elect_rank, keep) to the input row. */
  def electBest(
      assignments: DataFrame,
      idCol: String,
      clusterCol: String,
      scoreCol: String): DataFrame = {
    val w = Window.partitionBy(col(clusterCol)).orderBy(col(scoreCol).desc, col(idCol).asc)
    assignments
      .withColumn("elect_rank", row_number().over(w).cast("long"))
      .withColumn("keep", col("elect_rank") === 1)
  }

  /** Exact SUBSTRING dedup at token granularity — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better") removal
    * semantics: any token span of length `spanLen` that occurs more than
    * once in the corpus is removed from every document EXCEPT at its first
    * global occurrence (smallest (id, start)), and overlapping duplicated
    * spans remove the union of their token positions. This catches what
    * document- and line-level dedup both miss: long quoted passages,
    * licenses, and templated paragraphs embedded inside otherwise-distinct
    * documents. The reference implementation builds a corpus-wide suffix
    * array; the Spark-native equivalent is an overlapping-window inverted
    * index — same removal decision for spans of exactly `spanLen`, no
    * global sorted structure.
    *
    * Scale shape: the text never shuffles. Each doc row-locally emits its
    * (n − spanLen + 1) overlapping windows as (md5(span), id, start)
    * triples — fixed-width metadata, ~spanLen × the token count, the same
    * byte budget the suffix-array approach pays for its pointer arrays.
    * One map-side-combinable min/count reduce on the 128-bit span hash
    * (hot spans — a license repeated everywhere — are ONE group, min
    * combines map-side), one hash join back to the window triples, one
    * per-doc int-array reduce, and a final (id, sorted starts) metadata
    * join to the corpus that AQE broadcasts when small. Coverage removal
    * is a row-local position filter against the doc's own sorted start
    * array. Docs shorter than `spanLen` have no windows and pass through
    * unchanged. Returns one row per input row:
    * (id, n_tokens, n_dup_spans, n_removed_tokens, text_deduped). */
  def spanDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanLen: Int = 20): DataFrame = {
    require(spanLen >= 2, "spanLen must be at least 2")
    val toks = df.select(col(idCol).as("id"), coalesce(col(textCol), lit("")).as("__orig"),
      tokens(coalesce(col(textCol), lit(""))).as("__ts"))
    val wins = toks
      .filter(size(col("__ts")) >= spanLen)
      .select(col("id"), col("__ts"),
        explode(sequence(lit(0), size(col("__ts")) - spanLen)).as("s"))
      .select(col("id"), col("s"),
        unhex(md5(concat_ws(" ", slice(col("__ts"), col("s") + 1, lit(spanLen))).cast("binary"))).as("h"))
    val keepers = wins.groupBy("h")
      .agg(min(struct(col("id"), col("s"))).as("keeper"), count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
    val removed = wins.join(keepers, "h")
      .filter(!(col("id") === col("keeper.id") && col("s") === col("keeper.s")))
      .groupBy("id").agg(sort_array(collect_list(col("s"))).as("rm"))
      .withColumnRenamed("id", "__rm_id")
    removeSpans(toks, removed, spanLen)
  }

  /** Row-local token windows of `df` as (id, s, h) triples — the shared
    * map stage of the span-dedup family (md5 over the space-joined
    * `spanLen`-token slice; docs shorter than `spanLen` emit nothing). */
  private def spanWindows(df: DataFrame, idCol: String, textCol: String,
      spanLen: Int): DataFrame = spanWindowsOf(df, idCol, textCol, spanLen)

  /** Package-visible window projection for the report/audit consumers
    * (`Corpus.decontaminationReport`). */
  private[operators] def spanWindowsOf(df: DataFrame, idCol: String, textCol: String,
      spanLen: Int): DataFrame =
    df.select(col(idCol).as("id"), tokens(coalesce(col(textCol), lit(""))).as("__ts"))
      .filter(size(col("__ts")) >= spanLen)
      .select(col("id"), col("__ts"),
        explode(sequence(lit(0), size(col("__ts")) - spanLen)).as("s"))
      .select(col("id"), col("s"),
        unhex(md5(concat_ws(" ", slice(col("__ts"), col("s") + 1, lit(spanLen))).cast("binary"))).as("h"))

  /** Coverage-union removal + reassembly shared by [[spanDedup]] and
    * [[spanDedupAgainst]]: `toks` = (id, __ts), `removed` = (__rm_id,
    * rm sorted starts). The filtered array materializes once
    * (filter/exists are interpreted HOFs — referencing the expression
    * twice would run the coverage scan twice per row). */
  private def removeSpans(toks: DataFrame, removed: DataFrame, spanLen: Int): DataFrame = {
    val rmArr = coalesce(col("rm"), array().cast("array<int>"))
    toks.join(removed, col("id") === col("__rm_id"), "left")
      .select(col("id"), col("__ts"), col("__orig"), col("rm"),
        coalesce(size(col("rm")), lit(0)).cast("long").as("n_dup_spans"),
        filter(col("__ts"), (_, p) =>
          !exists(rmArr, st => st <= p && p < st + spanLen)).as("__kept"))
      .select(
        col("id"),
        size(col("__ts")).cast("long").as("n_tokens"),
        col("n_dup_spans"),
        (size(col("__ts")) - size(col("__kept"))).cast("long").as("n_removed_tokens"),
        // untouched docs pass through BYTE-IDENTICAL (whitespace structure
        // preserved — load-bearing when a line-dedup stage feeds this one);
        // only excised docs reassemble as the space-joined token stream
        when(col("rm").isNull, col("__orig"))
          .otherwise(concat_ws(" ", col("__kept"))).as("text_deduped"))
  }

  /** Per-window duplicate VERDICTS of a batch against a STATIC corpus span
    * store — the row-local core of incremental [[spanDedup]] and its
    * streaming use (called directly on a streaming frame; the
    * coverage-union reassembly stays with the batch consumer
    * [[spanDedupAgainst]]): a batch window is `dup`
    * iff its exact `spanLen`-token span occurs ANYWHERE in the corpus
    * (corpus precedence; within-batch repeats are not deduped here). The
    * store reduces to distinct 128-bit span hashes once; the batch side
    * is one equi-join on the hash — append-mode-safe on a stream, no
    * aggregation. Returns (id, s, dup) per batch window. */
  def spanVerdicts(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      spanLen: Int = 20): DataFrame = {
    require(spanLen >= 2, "spanLen must be at least 2")
    val store = spanWindows(corpus, idCol, textCol, spanLen)
      .select("h").distinct().withColumn("__in_store", lit(true))
    spanWindows(batch, idCol, textCol, spanLen)
      .join(store, Seq("h"), "left")
      .select(col("id"), col("s"), coalesce(col("__in_store"), lit(false)).as("dup"))
  }

  /** Incremental [[spanDedup]]: remove from a NEW batch every
    * `spanLen`-token span already present in the accepted corpus
    * (coverage union, corpus precedence), reassembling each batch doc —
    * also the SURGICAL DECONTAMINATION primitive when `corpus` is a
    * benchmark suite (remove the leaked passage, keep the document; see
    * `Corpus.decontaminateSpans`). Same output schema as [[spanDedup]];
    * batch docs shorter than `spanLen` pass through byte-identical. */
  def spanDedupAgainst(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      spanLen: Int = 20): DataFrame = {
    val removed = spanVerdicts(batch, corpus, idCol, textCol, spanLen)
      .filter(col("dup"))
      .groupBy("id").agg(sort_array(collect_list(col("s"))).as("rm"))
      .withColumnRenamed("id", "__rm_id")
    val toks = batch.select(col(idCol).as("id"), coalesce(col(textCol), lit("")).as("__orig"),
      tokens(coalesce(col(textCol), lit(""))).as("__ts"))
    removeSpans(toks, removed, spanLen)
  }
}
