package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Pins the physical-plan properties the 100 TB story depends on: parquet
  * pushdown/pruning, broadcast join selection, and rank-limit pushdown.
  * If a refactor silently loses one of these, correctness stays green but
  * scale breaks — so they're asserted here, not just eyeballed in Explain. */
class PlanQualitySpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def t(name: String): MetaFrame = Tables.loadMeta(spark, sfDir, name)

  test("filter+project reaches the parquet scan (PushedFilters + pruned ReadSchema)") {
    val df = t("lineitem").filter(col("l_quantity") > 25)
      .select("l_orderkey", "l_partkey", "l_quantity").df
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,25.0)"))
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_quantity:double>"))
  }

  test("token chunking reads only the two referenced columns, no shuffle") {
    import graft.functions.TextFunctions
    val df = t("documents").df
      .select(col("doc_id"), explode(TextFunctions.tokenChunks(col("text"), 32, 24)).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.n_chunk_tokens"))
    val plan = df.queryExecution.executedPlan.toString
    // column pruning must reach the scan even through HOF + explode
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"expected pruned documents scan in:\n$plan")
    // row-local op: chunking itself introduces no exchange
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("modest dimension side of a join is broadcast, not shuffled") {
    val df = t("orders")
      .join(t("lineitem"), col("o_orderkey") === col("l_orderkey"), "inner")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n")).df
    df.collect() // AQE finalizes the physical plan on execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("row_number top-k filter plans WindowGroupLimit (partial rank pushdown)") {
    val w = Window.partitionBy(col("l_returnflag")).orderBy(desc("l_extendedprice"))
    val df = t("lineitem").withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).df
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"))
  }

  test("capPerGroup plans WindowGroupLimit (rank pushdown) and one exchange") {
    import graft.operators.Corpus
    val df = Corpus.capPerGroup(
      t("supplier").df.select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal")),
      "s_nationkey", "s_acctbal", "s_suppkey", cap = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"per-group cap must push the rank down:\n$plan")
  }

  test("tfidfTopTerms plans WindowGroupLimit (per-doc top-k rank pushdown)") {
    import graft.operators.Corpus
    val docs = spark.createDataFrame(Seq(
      (1L, "a a b"), (2L, "a c"))).toDF("doc_id", "text")
    val df = Corpus.tfidfTopTerms(docs, "doc_id", "text", k = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"top-k terms must push the rank down:\n$plan")
  }

  test("stratifiedSample plans WindowGroupLimit (per-stratum rank pushdown)") {
    import graft.operators.Corpus
    val df = Corpus.stratifiedSample(
      t("supplier").df.select(col("s_nationkey"), col("s_suppkey")),
      "s_nationkey", "s_suppkey", salt = "pq", k = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"stratified sample must forward at most k rows per stratum per map task:\n$plan")
  }

  test("TopKAgg plans map-side partial aggregation (ObjectHashAggregate x2)") {
    import graft.expressions.TopKAgg.topKByScore
    val df = t("supplier").df
      .groupBy("s_nationkey")
      .agg(topKByScore(struct(col("s_acctbal"), col("s_suppkey")), 3).as("t"))
    val plan = df.queryExecution.executedPlan.toString
    // partial + final pair proves each map task forwards <= k candidates
    // per group instead of shuffling every candidate row
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2,
      s"bounded top-k must aggregate map-side:\n$plan")
  }

  test("orderBy+limit plans TakeOrderedAndProject (no full sort)") {
    val df = t("orders").orderBy(desc("o_totalprice")).limit(10).df
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("pk-elided dedup adds no exchange to the plan") {
    val unique = t("lineitem").groupBy("l_suppkey").agg(count(lit(1)).as("n"))
    val elided = unique.dropDuplicates(Seq("l_suppkey"))
    assert(elided.df.queryExecution.logical eq unique.df.queryExecution.logical)
  }

  test("co-bucketed tables join without any exchange") {
    import graft.sources.Bucketing
    Bucketing.writeBucketed(t("orders"), "bkt_orders", 4, Seq("o_orderkey"))
    Bucketing.writeBucketed(
      t("lineitem").withColumnRenamed("l_orderkey", "o_orderkey"), "bkt_lineitem", 4, Seq("o_orderkey"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a non-broadcast plan
    try {
      val joined = Bucketing.table(spark, "bkt_orders")
        .join(Bucketing.table(spark, "bkt_lineitem"), Seq("o_orderkey"), "inner")
        .select("o_orderkey", "o_totalprice", "l_quantity").df
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge join in:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed join must be exchange-free:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("bucketed catalog round-trip restores pk metadata via the sidecar") {
    import graft.sources.Bucketing
    val annotated = t("supplier")
      .dropDuplicates(Seq("s_suppkey")) // infers + verifies pk
      .setMetadata("owner" -> "bucketing-spec")
    Bucketing.writeBucketed(annotated, "bkt_meta_rt", 4, Seq("s_suppkey"))
    val back = Bucketing.table(spark, "bkt_meta_rt")
    assert(back.primaryKey.contains(Seq("s_suppkey")))
    assert(back.metadata("owner") == "bucketing-spec")
    // elision proofs never cross the job boundary (MetaPersist policy)
    assert(!back.metadata.contains(MetaFrame.PkVerifiedField))
    // explicit caller metadata overlays the restored sidecar
    val overlaid = Bucketing.table(spark, "bkt_meta_rt", Map("owner" -> "caller"))
    assert(overlaid.metadata("owner") == "caller")
    assert(overlaid.primaryKey.contains(Seq("s_suppkey")))
  }

  test("Bucketing.table accepts temp views (no catalog entry → empty restored metadata)") {
    import graft.sources.Bucketing
    t("region").df.createOrReplaceTempView("bkt_temp_view")
    val mf = Bucketing.table(spark, "bkt_temp_view", Map("src" -> "caller"))
    assert(mf.df.count() == 5)
    assert(mf.metadata == Map("src" -> "caller"))
  }

  test("binned range join matches the naive BETWEEN join and plans an equi join") {
    import graft.operators.RangeJoin
    val bands = t("customer").df.groupBy("c_nationkey")
      .agg(min(col("c_acctbal")).as("lo"), max(col("c_acctbal")).as("hi"))
    val sup = t("supplier").df.select(col("s_suppkey"), col("s_acctbal"))
    val binned = RangeJoin.pointInInterval(sup, "s_acctbal", bands, "lo", "hi", binWidth = 1000.0)
    val naive = sup.join(bands, col("s_acctbal") >= col("lo") && col("s_acctbal") <= col("hi"))
      .select(binned.columns.map(col): _*)
    assert(binned.count() > 0)
    assert(binned.exceptAll(naive).isEmpty && naive.exceptAll(binned).isEmpty)
    // the whole point: the physical join is hash/merge on the bin, not BNLJ
    val plan = binned.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"binned join must not be a BNLJ:\n$plan")
  }

  test("applyChanges: feed ranking plans WindowGroupLimit; base joins hash, never Cartesian") {
    import graft.operators.Corpus
    val base = t("documents").df
    val feed = base.limit(50)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), org.apache.spark.sql.functions.lit("upsert").as("op"),
        (col("doc_id") % 7).as("cts"))
    val plan = Corpus.applyChanges(base, feed, "doc_id", "op", "cts")
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"feed rank must push down:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"base must join hash-based:\n$plan")
  }

  test("relatedItemsIndex plans WindowGroupLimit; joinPreflight plans TakeOrderedAndProject") {
    import graft.operators.{Checks, Graph}
    val pairs = Graph.coOccurrence(t("lineitem").df, "l_orderkey", "l_partkey",
      minPairCount = 1, maxBasketSize = 5)
    val idxPlan = Graph.relatedItemsIndex(pairs, k = 3)
      .queryExecution.executedPlan.toString
    assert(idxPlan.contains("WindowGroupLimit"), s"per-item rank must push down:\n$idxPlan")
    val pfPlan = Checks.joinPreflight(t("events").df, "user_id",
        t("events").df, "user_id", topK = 5)
      .queryExecution.executedPlan.toString
    assert(pfPlan.contains("TakeOrderedAndProject"),
      s"top-K must avoid a full sort:\n$pfPlan")
  }

  test("fuzzy edit join: segment⋈probe is an equi join, never Cartesian") {
    import graft.operators.FuzzyJoin
    val words = t("documents").df
      .select(col("doc_id"), split_part(col("text"), lit(" "), lit(1)).as("w"))
    val pairs = FuzzyJoin.editDistancePairs(words, "doc_id", "w", maxDist = 2)
    val plan = pairs.queryExecution.executedPlan.toString
    // the main candidate path is the (__i, __la, __seg) equi-join —
    // hash or merge, either is fine; a CartesianProduct anywhere means
    // the pigeonhole key got lost. The short-string branch's bounded
    // length-band join may plan BNLJ (both sides ≤ 2d-char strings by
    // construction), which is why BNLJ is not asserted away here.
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"segment join must be an equi join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian expected:\n$plan")
    assert(pairs.count() > 0)
  }

  test("6-table flagship join plans broadcasts for dims, no nested loops") {
    val df = graft.queries.RelationalQueries.flagshipQueries("tpch_q5_local_supplier_volume")(spark, sfDir)
    df.collect() // let AQE finalize
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dims must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"no nested-loop joins expected:\n$plan")
  }

  test("jaccard's shingle projection is computed once and reused across branches") {
    import graft.operators.Dedup
    import graft.sources.Tables
    val docs = Tables.load(spark, sfDir, "documents")
    val q = Dedup.ngramJaccardBestMatch(docs, "doc_id", "text", "lang")
    q.collect() // AQE finalizes reuse
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"the five consumer branches must reuse the shingle-hash exchange:\n$plan")
  }

  test("outliersMad reuses the shared per-(group, value) counts exchange") {
    import graft.operators.Checks
    // `counts` feeds both the median and the MAD subtree unpinned; the
    // raw input is scanned once for it only because the second consumer
    // reads the first one's shuffle — a ReusedExchange of the
    // (group, value) hash partitioning
    val q = Checks.outliersMad(t("lineitem").df, "l_returnflag", "l_extendedprice")
    q.collect() // AQE finalizes reuse
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("ReusedExchange") &&
        l.contains("hashpartitioning(l_returnflag#") && l.contains("l_extendedprice#")),
      s"the MAD pass must reuse the counts aggregate's exchange:\n$plan")
  }

  test("df-cut executes as a broadcast anti join against the over-cap key set") {
    import graft.operators.Dedup
    import graft.sources.Tables
    val docs = Tables.load(spark, sfDir, "documents")
    // cap=5 sits under the measured max df (9 at sf0.001) so the cut engages
    val q = Dedup.ngramJaccardPairs(docs, "doc_id", "text", minJaccard = 0.4,
      maxShingleDf = 5)
    q.collect() // AQE finalizes join strategies from runtime stats
    val plan = q.queryExecution.executedPlan.toString
    // the tiny over-cap set must be the broadcast build side — the index
    // itself never reshuffles for the cut (the old kept-set semi join
    // reshuffled the full index twice; +60% on the isolated sf1 audit row)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected a broadcast LeftAnti df-cut:\n$plan")
  }

  test("simhashSignatures evaluates the SimHash64 expression exactly once") {
    import graft.operators.Dedup
    val docs = Tables.load(spark, sfDir, "documents")
    val q = Dedup.simhashSignatures(docs, "doc_id", "text")
    // bucket derives from the BOUND signature column: one SimHash64 node by
    // construction, not by optimizer rescue (CollapseProject must not inline
    // the non-cheap expression into both consumers)
    val plan = q.queryExecution.optimizedPlan.toString
    val nodes = "simhash64".r.findAllIn(plan.toLowerCase).size
    assert(nodes == 1, s"expected exactly one SimHash64 evaluation, got $nodes in:\n$plan")
  }

  test("token-array HOF expressions tokenize exactly once (bind-once structure)") {
    import graft.functions.TextFunctions
    // interpreted HOF lambdas re-evaluate any OUTER subtree they reference
    // once per element; a second StringSplit node in the tree means a
    // tokens() subtree leaked back inside a lambda body and the O(n²)
    // re-tokenization (n windows × n-token split per window) is back
    val one = spark.sql("SELECT 'a b c' AS text")
    def splitNodes(c: org.apache.spark.sql.Column): Int =
      one.select(c).queryExecution.analyzed.expressions.map(_.collect {
        case s: org.apache.spark.sql.catalyst.expressions.StringSplit => s
      }.size).sum
    for ((name, e) <- Seq(
        "winnowFingerprints" -> TextFunctions.winnowFingerprints(col("text")),
        "shingles" -> TextFunctions.shingles(col("text")),
        "minhashSignature" -> TextFunctions.minhashSignature(col("text")),
        "tokenChunks" -> TextFunctions.tokenChunks(col("text"))))
      assert(splitNodes(e) == 1,
        s"$name must bind its token array once, found ${splitNodes(e)} StringSplit nodes")
  }

  test("IVF cell assignment is row-local: no Window node, no corpus×k fan-out") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, sfDir, "embeddings")
    val centroids = emb.filter(col("vec_id") % 64 === 0)
      .select((col("vec_id") / 64).cast("int").as("cell_id"), col("embedding").as("centroid_vec"))
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", centroids, "cell_id", "centroid_vec")
    assert(assigned.count() == emb.count()) // argmax: one row out per row in
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"assignment must be the row-local fold, not a window argmax:\n$plan")
  }

  test("annTopKStream's probe plans a broadcast of the centroid array (batch-equivalent plan)") {
    import graft.operators.Similarity
    import graft.streaming.Streams
    val emb = Tables.load(spark, sfDir, "embeddings")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 4, iters = 1)
    val corpusCells = emb.join(
      Similarity.ivfAssign(emb, "vec_id", "embedding", cents, "cell", "cvec")
        .select(col("vec_id"), col("cell")),
      Seq("vec_id"))
    // annTopKStream is source-agnostic — handing it a BATCH query frame
    // yields the exact plan the micro-batch runs, minus streaming nodes,
    // which is where the broadcast hint must be visible
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val out = Streams.annTopKStream(queries, corpusCells, "vec_id", "embedding",
      cents, "query_id", "query_vec", k = 5, nprobe = 2)
    out.collect(): Unit
    val plan = out.queryExecution.executedPlan.toString
    // the 1-row centroid array must ride an explicit broadcast, pinned —
    // same standard as the batch twin (Similarity.ivfTopK), not planner luck
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"centroid array must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"probe must not plan a cartesian product:\n$plan")
  }

  test("dsirScoreAgainst is shuffle-free on the document side (broadcast model row, row-local fold)") {
    import graft.operators.Corpus
    val docs = t("documents").df
    val model = Corpus.dsirModel(
      docs.filter(col("doc_id") % 13 =!= 0), docs.filter(col("doc_id") % 13 === 0),
      "text", buckets = 256)
    val out = Corpus.dsirScoreAgainst(docs, model, "doc_id", "text", buckets = 256)
    out.collect(): Unit
    val plan = out.queryExecution.executedPlan.toString
    // the dense model is a LITERAL map in the plan (bounded-metadata
    // collect): the scorer must be a pure scan → project pipeline — no
    // join of any kind, no exchange, no aggregate; the per-doc weight is
    // a row-local HOF fold
    assert(!plan.contains("Join"), s"scorer must not join:\n$plan")
    assert(!plan.contains("Exchange"), s"scorer must not shuffle or broadcast:\n$plan")
    assert(!plan.contains("Aggregate"), s"scorer must not aggregate:\n$plan")
  }

  test("row-local curation operators plan as pure scan→project pipelines (no exchange, no join)") {
    import graft.operators.Corpus
    import spark.implicits._
    val docs = t("documents").df
    val merges = Corpus.bpeTrain(docs.limit(50), "text", nMerges = 4).cache()
    merges.count(): Unit
    val plans = Seq(
      "gopherRules" -> Corpus.gopherRules(docs, "doc_id", "text"),
      "redactPiiAudited" -> Corpus.redactPiiAudited(docs, "doc_id", "text"),
      "gopherRepetition" -> Corpus.gopherRepetition(docs, "doc_id", "text"),
      "charStats" -> Corpus.charStats(docs, "doc_id", "text"),
      "bpeSegmentFast" -> Corpus.bpeSegmentFast(docs, "doc_id", "text", merges))
    plans.foreach { case (name, df) =>
      df.collect(): Unit
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"$name must not join:\n$plan")
      assert(!plan.contains("Exchange"), s"$name must not shuffle or broadcast:\n$plan")
      assert(!plan.contains("Aggregate"), s"$name must not aggregate:\n$plan")
      // column pruning reaches the scan: only (doc_id, text) are read
      assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        s"$name must read only its two columns:\n$plan")
    }
    // scoreBucketsBy's RETURNED frame is likewise a pure projection — the
    // (group, bin) histogram is a separate bounded-metadata job and the
    // mapping rides back as a literal map lookup, so the assignment pass
    // re-reads the corpus without any exchange
    val sb = Corpus.scoreBucketsBy(
      docs.withColumn("ls", col("n_chars").cast("double")),
      "lang", "doc_id", "ls", nBuckets = 4, binWidthMicro = 1000000L)
    sb.collect(): Unit
    val sbPlan = sb.queryExecution.executedPlan.toString
    assert(!sbPlan.contains("Join") && !sbPlan.contains("Exchange"),
      s"bucket assignment must be a pure projection:\n$sbPlan")
    merges.unpersist(): Unit
  }

  test("line/span dedup rejoin their removal sets by broadcast; the text side never shuffles") {
    import graft.operators.{Corpus, Dedup}
    val docs = t("documents").df
    for ((name, out) <- Seq(
        "lineDedup" -> Corpus.lineDedup(docs, "doc_id", "text", sep = " "),
        "spanDedup" -> Dedup.spanDedup(docs, "doc_id", "text", spanLen = 8))) {
      out.collect(): Unit
      val plan = out.queryExecution.executedPlan.toString
      // the per-doc removal arrays are bounded metadata → AQE must
      // broadcast them back onto the corpus scan, never shuffle the text
      assert(plan.contains("BroadcastHashJoin"),
        s"$name removal set must broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$name must not plan a cartesian:\n$plan")
      // every Exchange in the plan is over hashed METADATA keys (the line/
      // span hash and the doc id), never a range/single partition of text
      assert(!plan.contains("SinglePartition"), s"$name must stay distributed:\n$plan")
    }
  }

  test("packSequences plans exactly one exchange (the shard hash) before its window") {
    import graft.operators.Corpus
    val out = Corpus.packSequences(t("documents").df, "doc_id", "text",
      seqLen = 64, shardCol = "lang")
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected one shard exchange, got $exchanges:\n$plan")
    assert(plan.contains("Window"), s"per-shard window expected:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"packing must never global-sort:\n$plan")
  }

  test("join on right side's verified pk preserves the left elision proof") {
    val custAgg = t("orders").groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
    val dims = t("customer").withColumnRenamed("c_custkey", "o_custkey")
      .groupBy("o_custkey").agg(max(col("c_acctbal")).as("bal"))
    // right is verified-unique on the join key → left uniqueness survives
    val joined = custAgg.join(dims, Seq("o_custkey"), "inner")
    assert(joined.dropDuplicates(Seq("o_custkey")).df eq joined.df,
      "inner join on right pk must keep the elision proof")
    // but joining against raw (unverified) rows must drop it
    val raw = t("customer").withColumnRenamed("c_custkey", "o_custkey")
    val joinedRaw = custAgg.join(raw, Seq("o_custkey"), "inner")
    assert(!(joinedRaw.dropDuplicates(Seq("o_custkey")).df eq joinedRaw.df))
    // semi joins are pure left filters: proof survives regardless of right
    val semi = custAgg.join(raw, Seq("o_custkey"), "left_semi")
    assert(semi.dropDuplicates(Seq("o_custkey")).df eq semi.df)
  }

  test("sessionStats plans ONE exchange: the rollup rides the window's user partitioning") {
    import graft.operators.Events
    val df = Events.sessionStats(t("events").df, "user_id", "ts", "event_id",
      "event_type", gapSeconds = 14400)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"groupBy(user, session) must reuse the user-key window partitioning:\n$plan")
    assert(!plan.contains("Join"), s"rollup must not join back to the events:\n$plan")
  }

  test("funnel is one aggregate pass: one exchange, no join cascade") {
    import graft.operators.Events
    val df = Events.funnel(t("events").df, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"one user-key exchange expected:\n$plan")
    assert(!plan.contains("Join"), s"per-step joins must not appear:\n$plan")
  }

  test("constraint suite: row-local checks share one scan; no shuffle beyond the 1-row merge") {
    import graft.operators.Checks
    val df = Checks.check(t("lineitem").df, Seq(
      Checks.NotNull("l_orderkey"), Checks.InRange("l_quantity", 1, 45),
      Checks.InSet("l_returnflag", Seq("A", "N", "R")), Checks.RowCountBetween(1, 1000000)))
    val plan = df.queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(plan).length == 1,
      s"all row-local constraints must share ONE scan:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"only the single-partition final merge is allowed:\n$plan")
  }

  test("topPaths: depth bound precedes the collect; global top-k is TakeOrderedAndProject") {
    import graft.operators.Events
    val df = Events.topPaths(t("events").df, "user_id", "ts", "event_id",
      "event_type", depth = 4, k = 20)
    val plan = df.queryExecution.executedPlan.toString
    // the row_number filter must run BEFORE collect_list so per-user state
    // is O(depth); WindowGroupLimit is Catalyst's pushed form of that bound
    assert(plan.contains("WindowGroupLimit"),
      s"the depth bound must push into the window (bounded per-user state):\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the global top-k must be orderBy+limit, never a full sort:\n$plan")
  }

  test("bm25 query-side joins broadcast; the corpus postings never shuffle onto queries") {
    import graft.operators.Retrieval
    val docs = t("documents").df
    val qs = docs.filter(col("doc_id") % 100 === 3)
      .select(col("doc_id").as("qid"),
        array_join(slice(split(col("text"), "\\s+"), 1, 5), " ").as("qtext"))
    val df = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "qid", "qtext", k = 5)
    df.write.format("noop").mode("overwrite").save() // AQE-finalized plans
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the enriched query-term set must broadcast to the postings scan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-sized shuffle join may appear:\n$plan")
  }

  test("bm25 expansion keeps the broadcast-only join discipline across both rounds") {
    import graft.operators.Retrieval
    val docs = t("documents").df
    val qs = docs.filter(col("doc_id") % 100 === 3)
      .select(col("doc_id").as("qid"),
        array_join(slice(split(col("text"), "\\s+"), 1, 5), " ").as("qtext"))
    val df = Retrieval.bm25ExpandedTopK(docs, "doc_id", "text", qs, "qid", "qtext",
      k = 5, fbDocs = 3, fbTerms = 5)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"query-side joins must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"neither round may shuffle the corpus onto queries:\n$plan")
  }

  test("intervalOverlap plans a hash/sort EQUI-join on the bin key, never a nested loop") {
    import graft.operators.RangeJoin
    val ev = t("events").df
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("day", expr("us div 86400000000"))
    val a = ev.groupBy(col("user_id"), col("day").as("a_day"))
      .agg(min(col("us")).as("a_lo"), max(col("us")).as("a_hi"))
    val b = ev.groupBy(col("event_type"), col("day").as("b_day"))
      .agg(min(col("us")).as("b_lo"), max(col("us")).as("b_hi"))
    val df = RangeJoin.intervalOverlap(a, "a_lo", "a_hi", b, "b_lo", "b_hi", 21600000000.0)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval overlap must stay an equi-join on the bin:\n$plan")
    assert(plan.contains("__bin"), s"expected the bin equi-key in:\n$plan")
  }

  test("q21 shape: three fact self-join roles stay hash joins, no cartesian anywhere") {
    val lo = t("lineitem").df
      .join(t("orders").df.filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY")).as("late"))
    val l1 = lo.filter(col("late"))
    val df = l1.join(lo.select(col("ok").as("ok2"), col("sk").as("sk2")),
        col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_semi")
      .join(l1.select(col("ok").as("ok3"), col("sk").as("sk3")),
        col("ok") === col("ok3") && col("sk") =!= col("sk3"), "left_anti")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q21's EXISTS/NOT-EXISTS must plan as hash semi/anti joins:\n$plan")
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
      s"expected semi+anti roles in:\n$plan")
  }

  test("q13 shape: the COUNT-bug left-outer join stays a hash join; zero-order customers survive") {
    val df = graft.SparkEntry.queries("tpch_q13_customer_distribution")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q13's decorrelated outer join must be a hash/sort join:\n$plan")
    assert(plan.contains("LeftOuter"), s"expected the outer role preserved in:\n$plan")
  }

  test("q17 shape: the correlated scalar-avg decorrelates to ONE aggregate + broadcast joins") {
    val df = graft.SparkEntry.queries("tpch_q17_small_quantity")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q17 must never plan a per-row subquery shape:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the part filter and the per-part limit table must broadcast:\n$plan")
    // exactly two HashAggregate pairs: the per-part limit and the final
    // 1-row report — a per-row correlated rewrite would multiply these
    assert(!plan.contains("SubqueryExec") && !plan.contains("Subquery subquery"),
      s"no runtime subquery execution expected in:\n$plan")
  }

  test("q22 shape: the NOT-EXISTS anti join stays a hash join; the scalar avg broadcasts") {
    val df = graft.SparkEntry.queries("tpch_q22_sales_opportunity")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"q22 must never plan a cartesian:\n$plan")
    assert(plan.contains("LeftAnti"), s"expected the anti role in:\n$plan")
    // the 1-row average rides a broadcast (BNLJ on a 1-row build is the
    // intended crossJoin shape, not a scale hazard)
    assert(plan.contains("Broadcast"), s"expected the broadcast avg in:\n$plan")
  }

  test("q16 shape: the NOT-IN exclusion decorrelates to a hash anti join over the distinct bridge") {
    val df = graft.SparkEntry.queries("tpch_q16_supplier_cnt")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q16's NOT IN must never plan a nested-loop shape:\n$plan")
    assert(plan.contains("LeftAnti"), s"expected the anti role in:\n$plan")
  }

  test("q2 shape: the correlated MIN decorrelates to one aggregate + broadcast equi joins") {
    val df = graft.SparkEntry.queries("tpch_q2_min_cost_supplier")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q2's per-part MIN must never plan a per-row subquery/nested-loop shape:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the part slice, dims and the per-part min table must broadcast:\n$plan")
    assert(!plan.contains("SubqueryExec"),
      s"no runtime correlated subquery execution expected in:\n$plan")
  }

  test("q15 shape: the view max is ONE 1-row aggregate riding a broadcast, not a re-aggregation per row") {
    val df = graft.SparkEntry.queries("tpch_q15_top_supplier")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"q15 must never plan a cartesian:\n$plan")
    // the 1-row max rides a broadcast (a BNLJ on a 1-row build is the
    // intended crossJoin shape, same convention as q22's scalar avg)
    assert(plan.contains("Broadcast"), s"expected the broadcast max in:\n$plan")
    assert(!plan.contains("SubqueryExec"),
      s"the view max must not re-execute as a correlated subquery:\n$plan")
  }

  test("q20 shape: the correlated per-pair agg folds into one grouped pass; supplier membership is a semi join") {
    val df = graft.SparkEntry.queries("tpch_q20_hot_parts_supplier")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q20's nested semi must plan as hash joins:\n$plan")
    assert(plan.contains("LeftSemi"), s"expected the semi role in:\n$plan")
    assert(!plan.contains("SubqueryExec"),
      s"the per-pair scalar agg must fold into the grouped pass, not a subquery:\n$plan")
  }

  test("q19 shape: the disjunctive predicate keeps the equi join hash-planned with pushed common conjuncts") {
    val df = graft.SparkEntry.queries("tpch_q19_discount_revenue")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q19's OR across the join must stay an equi hash join:\n$plan")
    // Catalyst's OR-side extraction: the part-only disjunction (brand +
    // size bands) is pushed to the part scan, the lineitem-only
    // disjunction (quantity bands) to the lineitem scan, and the
    // branch-common p_size >= 1 conjunct is factored out — neither scan
    // reads rows no branch could match
    assert(plan.contains("PushedFilters: [IsNotNull(p_size), GreaterThanOrEqual(p_size,1)"),
      s"expected the factored common size conjunct pushed to the part scan:\n$plan")
    assert(plan.contains("Or(Or(And(EqualTo(p_brand") || plan.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"),
      s"expected the per-side OR disjunctions pushed to the scans:\n$plan")
  }

  test("q8 union-agg shape: one exchange, AQE coalesces the tiny post-shuffle partitions") {
    import graft.sources.Tables
    // the exact graft.Bench q8 shape (BASELINE.md config note): union of
    // two key columns into a groupBy count — the row that sits nearest
    // the 2x bench fence. The pin proves the PLAN is right (a single
    // shuffle whose post-shuffle side AQE coalesces on small data), so a
    // noisy round can't attribute a q8 drift to a plan defect.
    val a = Tables.loadMeta(spark, sfDir, "customer").select(col("c_custkey").as("key"))
    val b = Tables.loadMeta(spark, sfDir, "supplier").select(col("s_suppkey").as("key"))
    val df = a.union(b).groupBy("key").count().df
    df.collect() // finalize AQE on THIS QueryExecution (a write would run its own)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.sliding("Exchange".length).count(_ == "Exchange") -
      plan.sliding("ReusedExchange".length).count(_ == "ReusedExchange") <= 2,
      s"at most the one agg exchange (+AQE read) expected:\n$plan")
    assert(plan.contains("AQEShuffleRead coalesced") || plan.contains("coalesced"),
      s"AQE must coalesce the post-shuffle partitions on small data:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
  }

  test("q11 shape: the group-HAVING threshold is one global scalar broadcast against the grouped view") {
    val df = graft.SparkEntry.queries("tpch_q11_important_stock")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"q11 must never plan a cartesian:\n$plan")
    assert(plan.contains("Broadcast"), s"expected the broadcast threshold in:\n$plan")
  }

  test("driftKs: the ECDF cumulative window is bucket-partitioned, never one global sort partition") {
    import graft.operators.Checks
    val li = t("lineitem").df
    // r18: driftKs pins its gap table eagerly (localCheckpoint), so the
    // cumulative window no longer appears in the RETURNED frame's plan —
    // capture every plan executed during construction + the final action
    // via a listener (the AdviceRegressionSpec driftKs pin's mechanism)
    // and assert the window shape on their union.
    val plans = new scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = Checks.driftKs(li,
        li.select((col("l_extendedprice") * lit(1.1)).as("l_extendedprice")),
        "l_extendedprice", buckets = 8)
      df.write.format("noop").mode("overwrite").save()
      org.apache.spark.sql.graftbridge.drainListenerBus(spark)
      val all = plans.synchronized { plans.mkString("\n---\n") }
      // the inner prefix-sum window must carry the bucket in its partition
      // spec — a bare windowspecdefinition(v ...) would be the global-window
      // scale bug this operator exists to avoid
      assert(all.contains("windowspecdefinition(__bucket"),
        s"expected a bucket-partitioned cumulative window in:\n$all")
      // and the value-domain cumulative sum must never run window-over-v
      // globally (the offsets window over the O(buckets) table is the only
      // unpartitioned window allowed)
      assert(!all.contains("windowspecdefinition(v#"),
        "the per-value window must be bucket-partitioned")
    } finally spark.listenerManager.unregister(listener)
  }

  test("rollingActiveUsers: one distinct fold then one day reduce; no join back to raw events") {
    import graft.operators.Events
    val df = Events.rollingActiveUsers(t("events").df, "user_id", "ts", windowDays = 7)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"the contribute-then-fold shape needs no sort-merge join:\n$plan")
  }

  test("PassJoin: both branches (segment main + short length-band) are pure equi-joins now") {
    import graft.operators.FuzzyJoin
    val df = t("documents").df
      .select(col("doc_id"), substring(col("text"), 1, 24).as("w"))
    val out = FuzzyJoin.editDistancePairs(df, "doc_id", "w", maxDist = 2)
    out.write.format("noop").mode("overwrite").save()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"the 100x rehearsal's Cartesian regression must stay fixed:\n$plan")
  }
}
