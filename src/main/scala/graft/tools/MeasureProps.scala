package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Dedup, Retrieval, Similarity}
import graft.sources.Tables

/** Dev-only measurement run backing the property-oracle bounds declared in
  * PipelineQueries: prints, at a given SF dir, the empirical recall /
  * accuracy numbers for the hash-family operators so the declared bounds sit
  * safely below the deterministic measured values. Not part of the library.
  * Run: `sbt "runMain graft.tools.MeasureProps /root/testdata/sf0.01"`. */
object MeasureProps {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")

    // ---- n-gram shingle document-frequency profile (sizes the
    // Dedup.DefaultMaxShingleDf production cap exactly as the winnow fp
    // profile below sizes DefaultMaxFpDf: the cap must never engage at the
    // test SFs so the exact-recall oracles hold with defaults). Both the
    // corpus-wide df (ngramJaccardPairs' key) and the per-(block, shingle)
    // df (ngramJaccardBestMatch's key, block = lang) are profiled; the
    // corpus-wide one is the upper bound.
    // ---- hybrid-retrieval channel comparison: mean recall@10 / nDCG@10 of
    // the sparse (bm25), dense (brute cosine), and RRF-fused lists against
    // the same-label qrels — the number behind the fusion premise. The
    // label ground truth is the embedding clusters, so dense is the strong
    // channel by construction; what the measurement shows is whether fusing
    // the weak lexical channel DILUTES it (the k0=60 damping question).
    if (args.contains("--hybrid-eval")) {
      val qs = docs.filter(col("doc_id") % 100 === 3)
        .select(col("doc_id").as("qid"),
          array_join(slice(split(col("text"), "\\s+"), 1, 5), " ").as("qtext"))
      val dq = emb.filter(col("vec_id") % 100 === 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
          col("label").as("qlabel"))
      // apples-to-apples: evaluate every channel on the query set BOTH
      // channels cover (doc_id space outgrows vec_id space at larger sfs)
      val sparse = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "qid", "qtext", k = 10)
        .join(dq.select(col("query_id")), Seq("query_id"), "left_semi")
        .select("query_id", "rank", "doc_id")
      val dense = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          dq.select("query_id", "query_vec"), "query_id", "query_vec", k = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
      val fused = Retrieval.rrfFuse(Seq(sparse, dense), k = 10)
        .select("query_id", "rank", "doc_id")
      val qrels = dq.select("query_id", "qlabel")
        .join(emb.select(col("vec_id").as("doc_id"), col("label")),
          col("label") === col("qlabel") && col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"), lit(1L).as("rel"))
      for ((nm, lst) <- Seq("bm25" -> sparse, "dense" -> dense, "rrf" -> fused)) {
        val e = Retrieval.evalRanking(lst, qrels, k = 10)
          .agg(avg(col("recall_micro")).as("r"), avg(col("ndcg_micro")).as("n"),
            count(lit(1)).as("q")).collect()(0)
        println(f"[measure] hybrid-eval $nm%-6s queries=${e.getLong(2)} " +
          f"mean recall@10=${e.getDouble(0) / 1e6}%.4f mean ndcg@10=${e.getDouble(1) / 1e6}%.4f")
      }
    }

    if (args.contains("--ngram-df")) {
      val shg = docs.select(col("doc_id"), col("lang"),
        explode(array_distinct(graft.expressions.MinHashSignature.shingleHashes(
          transform(TextFunctions.tokens(col("text")), t => xxhash64(t)), 3))).as("s"))
      val global = shg.groupBy("s").agg(count(lit(1)).as("df"))
        .agg(max(col("df")).as("max_df"), expr("percentile(df, 0.999)").as("p999"),
          count(lit(1)).as("n")).collect()(0)
      val perBlock = shg.groupBy("lang", "s").agg(count(lit(1)).as("df"))
        .agg(max(col("df")).as("max_df"), expr("percentile(df, 0.999)").as("p999"),
          count(lit(1)).as("n")).collect()(0)
      println(s"[measure] $sfDir ngram shingle df corpus-wide: max=${global.get(0)} " +
        s"p999=${global.get(1)} distinct=${global.get(2)}")
      println(s"[measure] $sfDir ngram shingle df per (lang, shingle): max=${perBlock.get(0)} " +
        s"p999=${perBlock.get(1)} distinct=${perBlock.get(2)}")
      spark.stop(); return
    }

    // ---- semantic-dedup cell-size profile (sizes Dedup.DefaultMaxCellSize
    // the way --ngram-df sizes DefaultMaxShingleDf: the cap must never
    // engage on healthy data at the test SFs — it exists for the skew
    // catastrophe — so measure the largest cell the declared k=8 quantizer
    // actually produces and report the headroom under the default).
    if (args.contains("--semantic-cell")) {
      val centroids = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
      val cents = Similarity.centroidArray(centroids, "cell", "cvec")
      val cellSizes = emb.crossJoin(broadcast(cents))
        .select(col("vec_id"),
          explode(Similarity.topCellsLocal(col("embedding"), 1)).as("__best"))
        .select(col("__best.cell").as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(max(col("n")).as("max_cell"), expr("percentile(n, 0.99)").as("p99"),
          count(lit(1)).as("n_cells"), sum(col("n")).as("n_rows")).collect()(0)
      val maxCell = cellSizes.getLong(0)
      println(s"[measure] $sfDir semantic cells (k=8, iters=2): max=${maxCell} " +
        s"p99=${cellSizes.get(1)} cells=${cellSizes.get(2)} rows=${cellSizes.get(3)} " +
        f"headroom_vs_default=${Dedup.DefaultMaxCellSize.toDouble / maxCell}%.1fx")
      spark.stop(); return
    }

    // ---- native-vs-HOF PQ kernel timing (backs the NOTES_r11 claim that
    // the codegen'd PqEncode/PqAdcScore beat the interpreted HOF folds
    // they replaced; both variants must also produce identical checksums —
    // the equivalence the ExtensionsSpec pin asserts row-for-row, re-checked
    // here on the aggregate). ksub=64 sizes the encode argmin realistically;
    // the ADC scan scores every corpus row against 32 query LUTs.
    if (args.contains("--pq-kernel")) {
      import graft.expressions.PqExpressions
      val embK = Tables.load(spark, sfDir, "embeddings").cache()
      val nRows = embK.count()
      val m = 8; val ksub = 64; val dim = 64
      val cb = Similarity.trainPqCodebooks(embK, "vec_id", "embedding", dim, m, ksub, iters = 1)
      val cbArr = Similarity.pqCodebookArray(cb)
      val queries = embK.limit(32)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val luts = Similarity.pqLuts(queries, "qid", "qv", cb).cache()
      luts.count(): Unit
      val encoded = embK.crossJoin(broadcast(cbArr))
        .select(col("vec_id"), Similarity.pqCodesLocal(col("embedding"), m, dim / m).as("codes"))
        .cache()
      encoded.count(): Unit
      def timeIt(mk: () => org.apache.spark.sql.DataFrame): (Double, Any) = {
        var last: Any = null
        mk().collect() // warm (codegen + JIT)
        val ts = (1 to 5).map { _ =>
          val t0 = System.nanoTime()
          last = mk().collect()(0).get(0)
          (System.nanoTime() - t0) / 1e9
        }.sorted
        (ts(2), last)
      }
      val (encNative, sN) = timeIt(() => embK.crossJoin(broadcast(cbArr))
        .agg(sum(element_at(Similarity.pqCodesLocal(col("embedding"), m, dim / m), 1))))
      val (encHof, sH) = timeIt(() => embK.crossJoin(broadcast(cbArr))
        .agg(sum(element_at(Similarity.pqCodesLocalHof(col("embedding"), m, dim / m), 1))))
      require(sN == sH, s"encode checksum mismatch: $sN vs $sH")
      val (adcNative, aN) = timeIt(() => encoded
        .join(broadcast(luts), col("vec_id") =!= col("qid"))
        .agg(sum(PqExpressions.adcScore(col("__lut"), col("codes"), ksub))))
      val (adcHof, aH) = timeIt(() => encoded
        .join(broadcast(luts), col("vec_id") =!= col("qid"))
        .agg(sum(Similarity.adcScoreColHof("codes", m, ksub))))
      require(aN == aH, s"adc checksum mismatch: $aN vs $aH")
      println(f"[measure] $sfDir pq-kernel rows=$nRows m=$m ksub=$ksub: " +
        f"encode native=$encNative%.2fs hof=$encHof%.2fs (${encHof / encNative}%.1fx)  " +
        f"adc(32q) native=$adcNative%.2fs hof=$adcHof%.2fs (${adcHof / adcNative}%.1fx)")
      spark.stop(); return
    }

    // ---- pre-transform recall, 4 arms × 3 corpora (backs
    // sim_topk_pq_permuted/_rotated and the trainOpqRotation doc): pure
    // ADC recall@10 vs exact cosine — raw layout, variance-balanced
    // permutation, Hadamard rotation, trained OPQ — at the same (m=8,
    // ksub=64) budget. Corpora: the REAL embeddings (near-isotropic —
    // expect ≈ no change, the honest null), a variance-SKEWED variant
    // (first subspace ×4, rest ×0.5 — the OPQ paper's axis-aligned
    // failure mode), and the ANISOTROPIC fixture (the same spectrum
    // mixed OFF-axis through Amplify's generic fixed rotation — the
    // correlated covariance trained OPQ nominally exists for). Measured
    // r12 conclusion (recorded at Similarity.trainOpqRotation): Hadamard
    // wins or ties every corpus; OPQ's reconstruction objective does not
    // transfer to recall at this corpus/ksub ratio. Cosine is
    // permutation/rotation-invariant, so the exact ground truth is
    // computed once per corpus and shared by all arms.
    if (args.contains("--pq-permute")) {
      val embR = Tables.load(spark, sfDir, "embeddings").cache()
      embR.count(): Unit
      val skewed = embR.select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i < 8, x * lit(4.0f)).otherwise(x * lit(0.5f)).cast("float"))
          .as("embedding")).cache()
      skewed.count(): Unit
      // third corpus: the ANISOTROPIC fixture — the skew mixed through a
      // fixed dense orthogonal matrix, so the dominant directions are
      // correlated and non-axis-aligned: the covariance trained OPQ exists
      // for, which neither the permutation (axis-bound) nor the data-blind
      // Hadamard can undo
      val mixed = embR.select(col("vec_id"),
        Amplify.anisotropize(col("embedding")).as("embedding")).cache()
      mixed.count(): Unit
      // per-coordinate variance spread (max/min over coordinates): the
      // honest-null context — "real" is near-isotropic, "skewed" puts the
      // spread ON axes, "mixed" hides the same spectrum OFF axes
      for ((label, corpus) <- Seq(("real", embR), ("skewed", skewed), ("mixed", mixed))) {
        val vars = corpus
          .select(explode(transform(col("embedding"),
            (x, i) => struct(i.as("i"), x.cast("double").as("x")))).as("e"))
          .groupBy(col("e.i")).agg(var_pop(col("e.x")).as("v"))
          .agg(max(col("v")).as("mx"), min(col("v")).as("mn")).collect()(0)
        println(f"[measure] $sfDir pq-permute [$label] per-coordinate variance " +
          f"spread = ${vars.getDouble(0) / vars.getDouble(1)}%.2fx")
      }
      for ((label, corpus) <- Seq(("real", embR), ("skewed", skewed), ("mixed", mixed))) {
        val qs = corpus.limit(32)
          .select(col("vec_id").as("query_id"), col("embedding").as("query_vec")).cache()
        val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
            qs, "query_id", "query_vec", k = 10)
          .select("query_id", "neighbor_id").collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        def adcRecall(c: org.apache.spark.sql.DataFrame): Double = {
          val q2 = c.limit(32)
            .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
          val cb = Similarity.trainPqCodebooks(c, "vec_id", "embedding",
            dim = 64, m = 8, ksub = 64, iters = 2)
          val got = Similarity.pqTopK(c, "vec_id", "embedding", cb,
              dim = 64, m = 8, ksub = 64, q2, "query_id", "query_vec", k = 10)
            .select("query_id", "neighbor_id").collect()
            .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
          val rs = exact.map { case (q, ids) =>
            got.get(q).map(g => (g intersect ids).size.toDouble / ids.size).getOrElse(0.0) }
          rs.sum / rs.size
        }
        val perm = Similarity.pqBalancedPermutation(corpus, "embedding", dim = 64, m = 8)
        val permuted = corpus.select(col("vec_id"),
          Similarity.permuteVec(col("embedding"), perm).as("embedding"))
        // third arm: the training-free structured rotation (sign-flipped
        // Walsh–Hadamard). Exact top-k ground truth carries over: the
        // rotation is orthogonal, so cosine ranking is preserved (to float
        // rounding — recall ties the raw ground truth on these corpora).
        val rotated = corpus.select(col("vec_id"),
          Similarity.rotateVec(col("embedding")).as("embedding"))
        // fourth arm: the TRAINED OPQ rotation (alternating minimization;
        // orthogonal like the Hadamard arm, so the ground truth carries)
        val opqR = Similarity.trainOpqRotation(corpus, "vec_id", "embedding",
          dim = 64, m = 8, ksub = 64, opqIters = 3, pqIters = 2)
        val opqRotated = corpus.select(col("vec_id"),
          Similarity.applyRotation(col("embedding"), opqR).as("embedding"))
        val rRaw = adcRecall(corpus)
        val rPerm = adcRecall(permuted)
        val rRot = adcRecall(rotated)
        val rOpq = adcRecall(opqRotated)
        println(f"[measure] $sfDir pq-permute [$label] ADC recall@10 m=8 ksub=64: " +
          f"raw=$rRaw%.3f permuted=$rPerm%.3f rotated=$rRot%.3f opq=$rOpq%.3f (32 queries)")
      }
      spark.stop(); return
    }

    // ---- IVFPQ recall dial (backs the declared sim_topk_ivfpq defaults
    // the way the LSH property oracle backs lshTopK): recall@10 of the
    // composite vs the exact cosine top-10, swept over (nprobe, shortlist).
    // Losses decompose into the coarse probe (wrong cell) and the ADC
    // shortlist (code-space ranking error) — the sweep shows which dial
    // buys recall at each point.
    if (args.contains("--ivfpq-recall")) {
      val embR = Tables.load(spark, sfDir, "embeddings").cache()
      embR.count(): Unit
      val qs = embR.limit(32)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec")).cache()
      val cents = Similarity.trainCentroids(embR, "vec_id", "embedding", k = 16, iters = 2)
      val cbR = Similarity.trainPqCodebooks(embR, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 64, iters = 2)
      // residual codebooks at the IDENTICAL budget (m=8, ksub=64): the
      // recall delta at equal code bytes is the whole argument for
      // residual encoding
      val resR = Similarity.ivfResiduals(embR, "vec_id", "embedding",
        cents, "cell", "cvec").cache()
      val cbRes = Similarity.trainPqCodebooks(resR, "vec_id", "residual",
        dim = 64, m = 8, ksub = 64, iters = 2)
      val exact = Similarity.bruteForceTopK(embR, "vec_id", "embedding",
          qs, "query_id", "query_vec", k = 10)
        .select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      for ((nprobe, shortlist) <- Seq((1, 20), (2, 50), (4, 100), (8, 200))) {
        def recallOf(cb: org.apache.spark.sql.DataFrame, residual: Boolean): (Double, Double) = {
          val got = Similarity.ivfPqTopK(embR, "vec_id", "embedding",
              cents, "cell", "cvec", cb, dim = 64, m = 8, ksub = 64,
              qs, "query_id", "query_vec", k = 10, nprobe = nprobe,
              shortlist = shortlist, residual = residual)
            .select("query_id", "neighbor_id").collect()
            .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
          val rs = exact.map { case (q, ids) =>
            got.get(q).map(g => (g intersect ids).size.toDouble / ids.size).getOrElse(0.0) }
          (rs.sum / rs.size, rs.min)
        }
        val (rawMean, rawMin) = recallOf(cbR, residual = false)
        val (resMean, resMin) = recallOf(cbRes, residual = true)
        println(f"[measure] $sfDir ivfpq recall@10 nprobe=$nprobe%d shortlist=$shortlist%d: " +
          f"raw mean=$rawMean%.3f min=$rawMin%.3f | residual mean=$resMean%.3f min=$resMin%.3f " +
          f"(32 queries, 16 cells, m=8 ksub=64)")
      }
      spark.stop(); return
    }

    // ---- store-compaction cadence (backs the NOTES_r11 §10 candidate
    // with numbers): the ingestion composite's linear term is the
    // per-batch store/audit writes, and the LONG-RUN cost is the store
    // fragmenting into one batch_id=N partition per micro-batch — every
    // later batch's vs-store dedup re-reads all of them. Feed 16
    // micro-batches under (a) no compaction and (b) compact-every-4, and
    // report ingest wall time, final parquet file count, and the
    // median-of-3 full-store read time each policy leaves behind.
    // ---- line-dedup formulation (backs Corpus.lineDedup's design note):
    // the production ids-only-shuffle form vs the naive window-over-
    // exploded-lines form (which shuffles every line's TEXT). Same
    // removal checksum required; reports median wall time AND total
    // shuffle-write bytes — the byte column is the one that matters at
    // 100 TB (the text payload dwarfs the md5+id triples).
    if (args.contains("--line-dedup")) {
      import graft.operators.Corpus
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
      def render(lineTokens: Int) = docs.select(col("doc_id"),
        concat_ws("\n", transform(
          graft.functions.TextFunctions.tokenChunks(col("text"), lineTokens, lineTokens),
          c => c.getField("chunk_text"))).as("ml_text")).cache()
      class Bytes extends SparkListener {
        @volatile var written = 0L
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null)
            written += te.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
      def timeIt(mk: () => DataFrame): (Double, Long, Long) = {
        var chk = 0L
        mk().agg(sum(col("n_removed_lines"))).collect() // warm
        val lst = new Bytes
        spark.sparkContext.addSparkListener(lst)
        val ts = (1 to 5).map { _ =>
          val t0 = System.nanoTime()
          chk = mk().agg(sum(col("n_removed_lines"))).collect()(0).getLong(0)
          (System.nanoTime() - t0) / 1e9
        }.sorted
        Thread.sleep(500) // let the async listener bus drain task-end events
        spark.sparkContext.removeSparkListener(lst)
        (ts(2), chk, lst.written / 5)
      }
      def naive(ml: DataFrame): DataFrame = {
        val lines = ml.select(col("doc_id"),
          posexplode(split(col("ml_text"), "\n")).as(Seq("idx", "line")))
        val w = Window.partitionBy("line").orderBy("doc_id", "idx")
        lines.withColumn("rn", row_number().over(w))
          .groupBy("doc_id").agg(
            count(lit(1)).cast("long").as("n_lines"),
            sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_removed_lines"),
            concat_ws("\n", transform(
              array_sort(collect_list(when(col("rn") === 1, struct(col("idx"), col("line"))))),
              s => s.getField("line"))).as("text_deduped"))
      }
      for (lineTokens <- Seq(8, 48)) {
        val ml = render(lineTokens)
        val nDocs = ml.count()
        val (prodT, prodChk, prodB) = timeIt(() => Corpus.lineDedup(ml, "doc_id", "ml_text"))
        val (naiveT, naiveChk, naiveB) = timeIt(() => naive(ml))
        require(prodChk == naiveChk, s"formulations disagree: $prodChk vs $naiveChk")
        println(f"[measure] $sfDir line-dedup lineTokens=$lineTokens docs=$nDocs removed=$prodChk: " +
          f"prod=$prodT%.2fs ${prodB / 1e6}%.1fMB-shuffled  " +
          f"naive=$naiveT%.2fs ${naiveB / 1e6}%.1fMB-shuffled " +
          f"(bytes ratio ${naiveB.toDouble / prodB}%.1fx)")
        ml.unpersist(): Unit
      }
      spark.stop(); return
    }

    // ---- BPE at production merge counts: sequential (one driver
    // round-trip per merge) vs batched (one per batchSize merges) wall
    // time, plus the honesty metric — how much of the exact greedy
    // sequential table the batched variant reproduces (the stale-count
    // approximation's measured cost).
    if (args.contains("--bpe-scale")) {
      import graft.operators.Corpus
      val n = args.lift(args.indexOf("--bpe-scale") + 1).flatMap(_.toIntOption).getOrElse(256)
      def time[T](f: => T): (T, Double) = {
        val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
      }
      Corpus.bpeTrain(docs, "text", nMerges = 2).collect() // warm
      // per-round conflict accounting rides the trainer's dev hook:
      // (considered, accepted, conflict-rejected) per round
      def statsHook(buf: scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]) =
        (c: Int, a: Int, r: Int) => { buf += ((c, a, r)); () }
      val st16 = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      val (batT, batSecs) = time(
        Corpus.bpeTrainBatched(docs, "text", n, batchSize = 16, onRound = statsHook(st16))
          .collect())
      val (seqT, seqSecs) = time(Corpus.bpeTrain(docs, "text", n).collect())
      val seqSet = seqT.map(r => (r.getString(1), r.getString(2))).toSet
      val batSet = batT.map(r => (r.getString(1), r.getString(2))).toSet
      val overlap = seqSet.intersect(batSet).size
      println(f"[measure] $sfDir bpe n=$n: sequential=$seqSecs%.1fs (${seqT.length} merges) " +
        f"batched16=$batSecs%.1fs (${batT.length} merges) speedup=${seqSecs / batSecs}%.1fx " +
        f"table-overlap=$overlap/${seqT.length}")
      // conflict-rejection rate vs batchSize (same nMerges budget): the
      // batched trade's other axis — bigger rounds propose more stale
      // candidates, so the within-round conflict rate is the honest
      // measure of how far from sequential greedy each setting sits
      for (b <- Seq(4, 16, 64)) {
        val stb = if (b == 16) st16 else {
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
          Corpus.bpeTrainBatched(docs, "text", n, batchSize = b, onRound = statsHook(buf))
            .collect(): Unit
          buf
        }
        val considered = stb.map(_._1).sum; val acc = stb.map(_._2).sum
        val rej = stb.map(_._3).sum
        println(f"[measure] $sfDir bpe conflict batchSize=$b%d: rounds=${stb.size}%d " +
          f"considered=$considered%d accepted=$acc%d rejected=$rej%d " +
          f"reject-rate=${if (considered == 0) 0.0 else rej.toDouble / considered}%.3f")
      }
      // application side: the nMerges-deep replace chain vs the native
      // rank-priority loop, same trained table, checksums asserted equal
      import spark.implicits._
      val mDf = batT.map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
        .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count").cache()
      mDf.count(): Unit
      def segSum(df: org.apache.spark.sql.DataFrame): Long =
        df.agg(sum(length(col("segmented"))).cast("long")).head().getLong(0)
      val (chainSum, chainT) = time(segSum(Corpus.bpeSegment(docs, "doc_id", "text", mDf)))
      val (fastSum, fastT) = time(segSum(Corpus.bpeSegmentFast(docs, "doc_id", "text", mDf)))
      assert(chainSum == fastSum, s"segment checksum mismatch: $chainSum vs $fastSum")
      println(f"[measure] $sfDir bpe segment @${batT.length} merges: " +
        f"replace-chain=$chainT%.1fs native-loop=$fastT%.1fs " +
        f"(${chainT / fastT}%.1fx) checksum=$chainSum")
      spark.stop(); return
    }

    if (args.contains("--compaction-cadence")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.Trigger
      import graft.operators.Corpus
      import graft.streaming.Ingest
      import spark.implicits._
      val docsC = Tables.load(spark, sfDir, "documents")
      val rowsC = docsC.limit(4000)
        .select(col("doc_id"), col("text"), col("source"), col("lang")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      val batches = rowsC.grouped(250).toSeq
      val lm = Corpus.lmCounts(docsC.limit(2000), "text").cache(); lm.count(): Unit
      val benchSet = docsC.filter(col("doc_id") % 97 === 0)
        .select("doc_id", "text").cache(); benchSet.count(): Unit
      def run(root: String, cadence: Int): Double = {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val ms = MemoryStream[(Long, String, String, String)](spark)
        val t0 = System.nanoTime()
        val q = Ingest.ingestCorpus(
          ms.toDF().toDF("doc_id", "text", "source", "lang"),
          s"$root/corpus", s"$root/audit", benchSet, lm,
          "doc_id", "text", "source", "lang",
          checkpointDir = s"$root/ckpt", trigger = Trigger.ProcessingTime(0),
          minTokens = 5L, maxTopNgramFrac = 0.5)
        try {
          batches.zipWithIndex.foreach { case (b, i) =>
            ms.addData(b: _*); q.processAllAvailable()
            // compaction runs BETWEEN batches, on the live store the next
            // batch will dedup against — exactly the production cadence
            if (cadence > 0 && (i + 1) % cadence == 0) {
              Ingest.compactStore(spark, s"$root/corpus"): Unit
              Ingest.compactAuditStore(spark, s"$root/audit"): Unit
            }
          }
        } finally q.stop()
        (System.nanoTime() - t0) / 1e9
      }
      def storeStats(root: String): (Long, Double) = {
        val walk = java.nio.file.Files.walk(new java.io.File(s"$root/corpus").toPath)
        val nf = try walk.filter(p => p.toString.endsWith(".parquet")).count()
          finally walk.close()
        val reads = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          spark.read.parquet(s"$root/corpus").count(): Unit
          (System.nanoTime() - t0) / 1e9
        }.sorted
        (nf, reads(1))
      }
      run("target/measure_compact/warm", 0): Unit // warm (JIT + codegen)
      for ((label, cadence) <- Seq(("never", 0), ("every-4", 4))) {
        val secs = run(s"target/measure_compact/$label", cadence)
        val (nf, readSec) = storeStats(s"target/measure_compact/$label")
        println(f"[measure] $sfDir compaction=$label%-8s ingest_16_batches=$secs%.1fs " +
          f"store_parquet_files=$nf%d store_read_median=$readSec%.2fs")
      }
      spark.stop(); return
    }

    // ---- exact high-jaccard pairs (ground truth for text dedup recall)
    val sh = docs.select(col("doc_id"),
      array_distinct(TextFunctions.shingles(col("text"))).as("sh"))
    val hi = sh.alias("a").join(sh.alias("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("j",
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh"))).cast("double"))
      .filter(col("j") >= 0.8)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"), col("j"))
      .cache()
    println(s"[measure] exact pairs j>=0.8: ${hi.count()}")

    // ---- minhash LSH: do all high-jaccard pairs share a cluster?
    val cl = Dedup.minHashLsh(docs, "doc_id", "text")
    val same = hi
      .join(cl.select(col("doc_id").as("id_a"), col("cluster_id").as("cl_a"),
        col("has_candidate").as("hc_a")), Seq("id_a"))
      .join(cl.select(col("doc_id").as("id_b"), col("cluster_id").as("cl_b"),
        col("has_candidate").as("hc_b")), Seq("id_b"))
    val stats = same.agg(
      count(lit(1)).as("n"),
      sum(when(col("cl_a") === col("cl_b"), 1L).otherwise(0L)).as("same_cluster"),
      sum(when(col("hc_a") && col("hc_b"), 1L).otherwise(0L)).as("both_flagged")).collect()(0)
    println(s"[measure] minhash: $stats")

    // ---- simhash: hamming of the high-jaccard pairs; are they candidates?
    val sp = Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 8)
    val found = hi.join(sp, Seq("id_a", "id_b"), "left")
    println("[measure] simhash found/missing on j>=0.8 pairs:")
    found.select("id_a", "id_b", "j", "hamming").orderBy("id_a").show(30, truncate = false)
    // raw hamming without threshold, for pairs missing above
    val sig = docs.select(col("doc_id"), graft.functions.TextFunctions.simhash64("text").as("sh64"))
    val rawHam = hi
      .join(sig.select(col("doc_id").as("id_a"), col("sh64").as("ha")), Seq("id_a"))
      .join(sig.select(col("doc_id").as("id_b"), col("sh64").as("hb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.TextFunctions.hamming64(col("ha"), col("hb")).as("ham"))
    println("[measure] raw simhash hamming distribution on j>=0.8 pairs:")
    rawHam.groupBy("ham").count().orderBy("ham").show()

    // ---- embedding near-dup recall at nbits 2 and 4 (exact = cos>=0.3, ids<300)
    import graft.functions.VectorFunctions.cosine
    val e300 = emb.filter(col("vec_id") < 300)
    val exactPairs = e300.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .join(e300.select(col("vec_id").as("id_b"), col("embedding").as("vb")),
        col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= 0.3)
      .select("id_a", "id_b").cache()
    val nExact = exactPairs.count()
    for (nb <- Seq(2, 3, 4)) {
      val fnd = Dedup.embeddingNearDup(emb, "vec_id", "embedding", dim = 64,
        threshold = 0.3, nbits = nb)
        .filter(col("id_a") < 300 && col("id_b") < 300)
      val hit = exactPairs.join(fnd.select("id_a", "id_b"), Seq("id_a", "id_b")).count()
      println(s"[measure] embeddingNearDup nbits=$nb recall=${hit.toDouble / nExact} ($hit/$nExact)")
    }

    // ---- multi-table near-dup recall at the FULL (nbits, K) auto defaults
    // (backs the declared dedup_embedding_multitable >=0.8 recall pin) plus
    // the per-K amplification curve at the auto nbits
    val autoBits = Dedup.recommendedNbits(emb.count())
    for (tb <- Seq(1, 2, 4, Dedup.recommendedLshTables(autoBits, 0.3))) {
      val fnd = Dedup.embeddingNearDupMultiTable(emb, "vec_id", "embedding",
          dim = 64, threshold = 0.3, tables = tb)
        .filter(col("id_a") < 300 && col("id_b") < 300)
      val hit = exactPairs.join(fnd.select("id_a", "id_b"), Seq("id_a", "id_b")).count()
      println(s"[measure] embeddingNearDupMultiTable nbits=$autoBits tables=$tb " +
        s"recall=${hit.toDouble / nExact} ($hit/$nExact)")
    }

    // ---- multi-probe recall vs multi-table at EQUAL candidate budget
    // (T probes of one table vs K=T independent tables): backs the
    // dedup_embedding_multiprobe recall pin and the r17 verdict criterion
    // that margin-ranked probing matches-or-beats independent rehashes.
    // Also reports measured candidate volume (the cost side of the claim).
    for (pr <- Seq(1, 2, 4, Dedup.recommendedLshTables(autoBits, 0.3))) {
      val fnd = Dedup.embeddingNearDupMultiProbe(emb, "vec_id", "embedding",
          dim = 64, threshold = 0.3, probes = pr)
        .filter(col("id_a") < 300 && col("id_b") < 300)
      val hit = exactPairs.join(fnd.select("id_a", "id_b"), Seq("id_a", "id_b")).count()
      println(s"[measure] embeddingNearDupMultiProbe nbits=$autoBits probes=$pr " +
        s"recall=${hit.toDouble / nExact} ($hit/$nExact)")
    }

    // ---- lshTopK recall@10 per query for candidate configs
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exactTop = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "query_id", "query_vec", k = 10)
      .select(col("query_id"), col("neighbor_id")).cache()
    for ((nb, tb) <- Seq((4, 1), (4, 2), (4, 4), (3, 4), (2, 4))) {
      val lsh = Similarity.lshTopK(emb, "vec_id", "embedding", queries,
        "query_id", "query_vec", dim = 64, k = 10, nbits = nb, tables = tb)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      val rec = exactTop.join(lsh, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg((coalesce(sum(col("hit")), lit(0L)).cast("double") / 10.0).as("recall"))
        .orderBy("query_id").collect()
      println(s"[measure] lshTopK nbits=$nb tables=$tb per-query recall@10: " +
        rec.map(r => f"${r.getLong(0)}:${r.getDouble(1)}%.2f").mkString(" "))
    }

    // ---- winnow fingerprint document-frequency profile (sizes the default
    // maxFpDf production cap: the cap must never engage at the test SFs so
    // the exact-recall oracles stay exact with defaults)
    val fpDf = docs.select(col("doc_id"),
        explode(TextFunctions.winnowFingerprints(col("text"), k = 3, w = 4)).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("df"))
      .agg(max(col("df")).as("max_df"),
        expr("percentile(df, 0.999)").as("p999"),
        count(lit(1)).as("n_fps")).collect()(0)
    println(s"[measure] winnow fp df: max=${fpDf.get(0)} p999=${fpDf.get(1)} distinct=${fpDf.get(2)}")

    // ---- langid accuracy vs ground truth
    val acc = docs.withColumn("pred", TextFunctions.langId(col("text")))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") === col("lang"), 1L).otherwise(0L)).as("correct")).collect()(0)
    println(s"[measure] langid: n=${acc.getLong(0)} correct=${acc.getLong(1)} " +
      f"acc=${acc.getLong(1).toDouble / acc.getLong(0)}%.4f")
    val conf = docs.withColumn("pred", TextFunctions.langId(col("text")))
      .groupBy("lang", "pred").count().orderBy("lang", "pred")
    conf.show(40)

    spark.stop()
  }
}
