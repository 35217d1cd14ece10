package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Source-format coverage (SURVEY §2.2a: construction from any source —
  * ingestion is plain `spark.read`, the wrapper only annotates): the same
  * frame roundtrips through parquet, CSV, JSON and ORC and lifts into the
  * metadata layer identically. */
class SourcesSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark
  import TestSparkSession.jobsDuring

  private lazy val base = Tables.load(spark, "/root/testdata/sf0.001", "nation")

  private lazy val outDir = TestSparkSession.freshDir("sources_spec")
  private def out(fmt: String): String = s"$outDir/$fmt"

  test("trained LM counts round-trip through MetaPersist and score bit-identically") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Corpus
    import graft.sources.MetaPersist
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val counts = Corpus.lmCounts(docs, "text")
    MetaPersist.writeModel(counts, out("lm_model"), "unigram_lm",
      Map("add_k" -> "1.0", "tokenizer" -> "whitespace"))
    val loaded = MetaPersist.readModel(spark, out("lm_model"), "unigram_lm")
    assert(loaded.metadata("add_k") == "1.0")
    val batch = docs.filter(col("doc_id") % 7 === 0)
    def scores(model: org.apache.spark.sql.DataFrame) =
      Corpus.lmScoreAgainst(batch, model, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
    // counts are exact longs → the micro-nat sums (and therefore the float
    // division results) are BIT-identical, not approximately equal
    assert(scores(loaded.df) == scores(counts))
    // a scorer handed the wrong artifact kind must refuse at load
    intercept[IllegalArgumentException](
      MetaPersist.readModel(spark, out("lm_model"), "ivf_centroids"))
  }

  test("trained IVF centroids round-trip through MetaPersist and search bit-identically") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    import graft.sources.MetaPersist
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 4, iters = 2)
    MetaPersist.writeModel(cents, out("ivf_model"), "ivf_centroids",
      Map("k" -> "4", "iters" -> "2", "grid" -> "1e-6", "seeding" -> "lowest-id"))
    val loaded = MetaPersist.readModel(spark, out("ivf_model"), "ivf_centroids")
    assert(loaded.metadata("k") == "4" && loaded.metadata("iters") == "2")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def topk(c: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopK(emb, "vec_id", "embedding", c, "cell", "cvec",
          queries, "query_id", "query_vec", k = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // micro-grid floats round-trip parquet exactly → identical candidate
    // cells, cosines, and ranks
    assert(topk(loaded.df) == topk(cents))
  }

  test("materialized IVF index probes prune partitions and match the inline search bit-for-bit") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 4, iters = 2)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", cents, "cell", "cvec",
      out("ivf_index"))
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val indexed = Similarity.ivfTopKIndexed(spark, out("ivf_index"),
      queries, "query_id", "query_vec", k = 5, nprobe = 2)
    val inline = Similarity.ivfTopK(emb, "vec_id", "embedding", cents, "cell", "cvec",
      queries, "query_id", "query_vec", k = 5, nprobe = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // identical assignment fold + tiebreaks → identical result set
    assert(rows(indexed) == rows(inline))
    // the probe must PRUNE: the index-corpus scan carries a partition
    // filter on the cell directory column (the query/centroid scans have
    // their own, empty, PartitionFilters entries — only the corpus one
    // matters here)
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell#"),
      s"index scan must carry a cell partition filter:\n$plan")
    // kind-refusal at load is pinned in the LM round-trip test above; the
    // index reuses the same readModel gate for both artifacts
  }

  test("IVF×PQ index: probed ADC scan prunes partitions AND the vector column; matches the inline composite bit-for-bit") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 4, iters = 2)
    val cb = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 4, iters = 2)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", cents, "cell", "cvec",
      out("ivfpq_index"), pqCodebooks = Some(cb), pqDim = 64, pqM = 8)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val indexed = Similarity.ivfPqTopKIndexed(spark, out("ivfpq_index"),
      queries, "query_id", "query_vec", k = 5, nprobe = 2, shortlist = 20)
    val inline = Similarity.ivfPqTopK(emb, "vec_id", "embedding", cents, "cell", "cvec",
      cb, dim = 64, m = 8, ksub = 4, queries, "query_id", "query_vec",
      k = 5, nprobe = 2, shortlist = 20)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // identical assignment/encoding folds + tiebreaks → identical result set
    assert(rows(indexed) == rows(inline))
    val plan = indexed.queryExecution.executedPlan.toString
    // BOTH index reads (ADC scan and rerank re-read) must carry the probed
    // cell partition filter
    assert("PartitionFilters: \\[cell#".r.findAllIn(plan).size >= 2,
      s"ADC and rerank scans must both prune cell partitions:\n$plan")
    // the compressed scan must NOT read float vectors: some pruned read
    // schema carries the codes column and no embedding column
    val readSchemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
    assert(readSchemas.exists(s => s.contains("codes") && !s.contains("embedding")),
      s"ADC scan must column-prune the float vectors:\n$plan")
  }

  test("residual IVF×PQ index: corrected ADC matches the inline residual composite bit-for-bit, prunes identically") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 4, iters = 2)
    // residual codebooks: trained on vec − cvec[assigned cell], the FAISS
    // IVFPQ encoding — the layout must version the residual flag with the
    // codes so a reader adds the q·cvec[cell] correction
    val res = Similarity.ivfResiduals(emb, "vec_id", "embedding", cents, "cell", "cvec")
    val cb = Similarity.trainPqCodebooks(res, "vec_id", "residual",
      dim = 64, m = 8, ksub = 4, iters = 2)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", cents, "cell", "cvec",
      out("ivfpq_res_index"), pqCodebooks = Some(cb), pqDim = 64, pqM = 8,
      pqResidual = true)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val indexed = Similarity.ivfPqTopKIndexed(spark, out("ivfpq_res_index"),
      queries, "query_id", "query_vec", k = 5, nprobe = 2, shortlist = 20)
    val inline = Similarity.ivfPqTopK(emb, "vec_id", "embedding", cents, "cell", "cvec",
      cb, dim = 64, m = 8, ksub = 4, queries, "query_id", "query_vec",
      k = 5, nprobe = 2, shortlist = 20, residual = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // identical residual encoding + correction term + tiebreaks → identical set
    assert(rows(indexed) == rows(inline))
    // same pruning contract as the raw-code index: both reads partition-
    // pruned, the ADC read schema code-only
    val plan = indexed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[cell#".r.findAllIn(plan).size >= 2,
      s"ADC and rerank scans must both prune cell partitions:\n$plan")
    val readSchemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
    assert(readSchemas.exists(s => s.contains("codes") && !s.contains("embedding")),
      s"ADC scan must column-prune the float vectors:\n$plan")
    // residual codes must NOT score as raw ones: the correction term is
    // load-bearing (with these centroids the two composites may only agree
    // by coincidence — assert the flag actually round-tripped instead)
    val vdir = Similarity.resolveIvfIndex(spark, out("ivfpq_res_index"))
    val meta = graft.sources.MetaPersist.readModel(spark, s"$vdir/corpus", "ivf_corpus").metadata
    assert(meta("pqResidual") == "true")
  }

  test("pre-transformed IVF×PQ index: rotation versions with the layout; queries auto-rotate; matches the inline composite over the rotated corpus") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val r = Similarity.hadamardMatrix(64)
    // contract: centroids + codebooks train on the TRANSFORMED corpus
    val rot = emb.select(col("vec_id"),
      Similarity.applyRotation(col("embedding"), r).as("embedding"))
    val cents = Similarity.trainCentroids(rot, "vec_id", "embedding", k = 4, iters = 2)
    val cb = Similarity.trainPqCodebooks(rot, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 4, iters = 2)
    // the writer receives the RAW corpus + the matrix, applies it itself
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", cents, "cell", "cvec",
      out("ivfpq_rot_index"), pqCodebooks = Some(cb), pqDim = 64, pqM = 8,
      preTransform = Some(r))
    // the reader receives RAW queries — the layout's flag + versioned
    // matrix artifact rotate them; a raw query can never meet the rotated
    // codes un-rotated
    val rawQueries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val indexed = Similarity.ivfPqTopKIndexed(spark, out("ivfpq_rot_index"),
      rawQueries, "query_id", "query_vec", k = 5, nprobe = 2, shortlist = 20)
    // ground truth: the inline composite over the pre-rotated corpus AND
    // pre-rotated queries
    val rotQueries = rot.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val inline = Similarity.ivfPqTopK(rot, "vec_id", "embedding", cents, "cell", "cvec",
      cb, dim = 64, m = 8, ksub = 4, rotQueries, "query_id", "query_vec",
      k = 5, nprobe = 2, shortlist = 20)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows(indexed) == rows(inline))
    // pruning contract unchanged: both reads partition-pruned, ADC
    // read schema codes-only
    val plan = indexed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[cell#".r.findAllIn(plan).size >= 2,
      s"ADC and rerank scans must both prune cell partitions:\n$plan")
    val readSchemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
    assert(readSchemas.exists(s => s.contains("codes") && !s.contains("embedding")),
      s"ADC scan must column-prune the float vectors:\n$plan")
    // the flag and the matrix both round-trip with the version
    val vdir = Similarity.resolveIvfIndex(spark, out("ivfpq_rot_index"))
    val meta = graft.sources.MetaPersist.readModel(spark, s"$vdir/corpus", "ivf_corpus").metadata
    assert(meta("preTransform") == "true")
    val stored = graft.sources.MetaPersist
      .readModel(spark, s"$vdir/pretransform", "pre_transform")
      .df.orderBy("i").collect().map(_.getSeq[Float](1).toSeq).toSeq
    assert(stored == r)
    // the plain ivfTopKIndexed reader honors the flag too (vector search
    // in the rotated space ranks like the inline rotated search)
    val plainIndexed = Similarity.ivfTopKIndexed(spark, out("ivfpq_rot_index"),
      rawQueries, "query_id", "query_vec", k = 5, nprobe = 2)
    val plainInline = Similarity.ivfTopK(rot, "vec_id", "embedding", cents, "cell", "cvec",
      rotQueries, "query_id", "query_vec", k = 5, nprobe = 2)
    assert(rows(plainIndexed) == rows(plainInline))
  }

  test("IVF retrain publishes a new version atomically; pre-swap readers survive; pruning reclaims") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val path = out("ivf_versioned")
    // version numbering continues across publishes by design, so a prior
    // run's surviving index must not shift this run's expected names
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

    val c1 = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 4, iters = 1)
    assert(Similarity.writeIvfIndex(emb, "vec_id", "embedding", c1, "cell", "cvec", path)
      == "v000000001")
    // this reader binds to v1 NOW — the point of the test is that the
    // republish below cannot disturb it
    val preSwapReader = Similarity.ivfTopKIndexed(spark, path, queries,
      "query_id", "query_vec", k = 5, nprobe = 2)
    val preSwapRows = rows(preSwapReader)

    // corpus drift → retrain with different parameters → republish
    val c2 = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 3, iters = 2)
    assert(Similarity.writeIvfIndex(emb, "vec_id", "embedding", c2, "cell", "cvec", path)
      == "v000000002")
    // the pre-swap reader still scans its own version's files bit-stably
    assert(rows(preSwapReader) == preSwapRows, "republish must not disturb an in-flight reader")
    // a fresh read resolves v2 and is bit-equal to the inline search on
    // the NEW centroids (the full centroids+layout pair swapped together)
    val post = rows(Similarity.ivfTopKIndexed(spark, path, queries,
      "query_id", "query_vec", k = 5, nprobe = 2))
    val inline2 = rows(Similarity.ivfTopK(emb, "vec_id", "embedding", c2, "cell", "cvec",
      queries, "query_id", "query_vec", k = 5, nprobe = 2))
    assert(post == inline2)

    // prune to the newest version: v1's directory is reclaimed, the
    // current version keeps serving identically
    val deleted = Similarity.pruneIvfIndex(spark, path)
    assert(deleted.map(_.split('/').last) == Seq("v000000001"), s"got $deleted")
    assert(!new java.io.File(s"$path/versions/v000000001").exists)
    assert(new java.io.File(s"$path/versions/v000000002").exists)
    assert(rows(Similarity.ivfTopKIndexed(spark, path, queries,
      "query_id", "query_vec", k = 5, nprobe = 2)) == post)
  }

  test("trained PQ codebooks and encoded corpus round-trip through MetaPersist; the code-only search is bit-identical") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    import graft.sources.MetaPersist
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cb = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 8, iters = 2)
    MetaPersist.writeModel(cb, out("pq_model"), "pq_codebooks",
      Map("dim" -> "64", "m" -> "8", "ksub" -> "8", "metric" -> "ip", "grid" -> "1e-6"))
    val loaded = MetaPersist.readModel(spark, out("pq_model"), "pq_codebooks")
    assert(loaded.metadata("m") == "8" && loaded.metadata("metric") == "ip")
    // a consumer handed the wrong artifact kind must refuse at load
    intercept[IllegalArgumentException](
      MetaPersist.readModel(spark, out("pq_model"), "ivf_centroids"))
    // the persistent compressed layout: codes stored INSTEAD of vectors
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb, dim = 64, m = 8)
    MetaPersist.writeModel(enc, out("pq_codes"), "pq_codes", Map("m" -> "8", "ksub" -> "8"))
    val codes = MetaPersist.readModel(spark, out("pq_codes"), "pq_codes").df
    // every row compresses to exactly m in-range codes
    val shapes = codes.select(
      org.apache.spark.sql.functions.size(col("codes")).as("n"),
      org.apache.spark.sql.functions.array_max(col("codes")).as("mx"),
      org.apache.spark.sql.functions.array_min(col("codes")).as("mn"))
      .agg(org.apache.spark.sql.functions.min(col("n")),
        org.apache.spark.sql.functions.max(col("n")),
        org.apache.spark.sql.functions.max(col("mx")),
        org.apache.spark.sql.functions.min(col("mn"))).collect()(0)
    assert(shapes.getInt(0) == 8 && shapes.getInt(1) == 8, s"codes length: $shapes")
    assert(shapes.getInt(2) <= 7 && shapes.getInt(3) >= 0, s"code range: $shapes")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // searching the persisted codes (floats round-trip parquet exactly,
    // the LUT arithmetic is deterministic) == encoding inline from vectors
    assert(
      rows(Similarity.pqTopKEncoded(codes, "vec_id", "codes", loaded.df, m = 8, ksub = 8,
        queries, "query_id", "query_vec", k = 5)) ==
      rows(Similarity.pqTopK(emb, "vec_id", "embedding", cb, dim = 64, m = 8, ksub = 8,
        queries, "query_id", "query_vec", k = 5)))
  }

  test("CSV roundtrip through the metadata layer") {
    base.write.mode("overwrite").option("header", "true").csv(out("csv"))
    val mf = MetaFrame(
      spark.read.option("header", "true").option("inferSchema", "true").csv(out("csv")),
      Map("format" -> "csv"))
    assert(mf.count() == 25)
    assert(mf.groupBy("n_regionkey").count().primaryKey.contains(Seq("n_regionkey")))
  }

  test("JSON roundtrip") {
    base.write.mode("overwrite").json(out("json"))
    val mf = spark.read.json(out("json")).meta(Map("format" -> "json"))
    assert(mf.count() == 25)
    assert(mf.metadata("format") == "json")
  }

  test("ORC roundtrip") {
    base.write.mode("overwrite").orc(out("orc"))
    val mf = spark.read.orc(out("orc")).meta
    assert(mf.count() == 25)
    assert(mf.select("n_name").distinct().count() == 25)
  }

  test("vocab and bucket-threshold models round-trip through MetaPersist and score bit-identically") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Corpus
    import graft.sources.MetaPersist
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val batch = docs.filter(col("doc_id") % 3 === 0)

    val vocab = Corpus.vocabModel(docs, "text", perMille = 5L)
    MetaPersist.writeModel(vocab, out("vocab_model"), "vocab_model",
      Map("per_mille" -> "5", "tokenizer" -> "whitespace"))
    val vLoaded = MetaPersist.readModel(spark, out("vocab_model"), "vocab_model")
    assert(vLoaded.metadata("per_mille") == "5")
    def oov(m: org.apache.spark.sql.DataFrame) =
      Corpus.vocabCoverageAgainst(batch, m, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(oov(vLoaded.df) == oov(vocab))
    // wrong-kind loads fail loudly, never score
    intercept[IllegalArgumentException](
      MetaPersist.readModel(spark, out("vocab_model"), "bucket_thresholds"))

    val scored = docs.withColumn("len_score", col("n_chars").cast("double"))
    val buckets = Corpus.bucketModel(scored, "doc_id", "len_score", 10, 1000000L)
    MetaPersist.writeModel(buckets, out("bucket_model"), "bucket_thresholds",
      Map("n_buckets" -> "10", "bin_width_micro" -> "1000000"))
    val bLoaded = MetaPersist.readModel(spark, out("bucket_model"), "bucket_thresholds")
    def assign(m: org.apache.spark.sql.DataFrame) =
      Corpus.scoreBucketsAgainst(scored, m, "doc_id", "len_score", 1000000L)
        .collect().map(r => (r.getLong(0), r.getInt(3))).toSet
    assert(assign(bLoaded.df) == assign(buckets))
  }

  // ---- r17: text-scan malformed-row modes (the behavior the declared
  // scan_csv/scan_json roundtrip queries can't exercise on clean data)

  test("CSV scan modes: PERMISSIVE nulls + corrupt column, DROPMALFORMED drops, FAILFAST throws") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val dir = Paths.get(out("csv_malformed")); Files.createDirectories(dir)
    // row 2 has a non-numeric balance; row 3 is truncated
    Files.write(dir.resolve("part-0.csv"),
      "s_suppkey,s_name,s_nationkey,s_acctbal\n1,Supplier#1,3,100.5\n2,Supplier#2,4,notanumber\n3,Supplier#3\n".getBytes("UTF-8"))
    val schema = Tables.SupplierSchema.add(StructField("_corrupt_record", StringType))
    val path = dir.toString

    val permissive = spark.read.schema(schema)
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path).cache()
    assert(permissive.count() == 3, "PERMISSIVE keeps every row")
    val bad = permissive.filter(col("_corrupt_record").isNotNull)
      .select("s_suppkey").collect().map(_.getLong(0)).toSet
    assert(bad == Set(2L, 3L), s"rows 2 and 3 are corrupt: $bad")
    assert(permissive.filter(col("s_suppkey") === 2L)
      .select("s_acctbal").head.isNullAt(0), "unparseable cell nulls out")
    permissive.unpersist()

    // NOTE: collect(), not count() — count() prunes every column, so the
    // parser never materializes values and malformed detection can't fire
    val dropped = spark.read.schema(Tables.SupplierSchema)
      .option("header", "true").option("mode", "DROPMALFORMED").csv(path)
      .collect()
    assert(dropped.length == 1 && dropped.head.getLong(0) == 1L,
      dropped.mkString("; "))

    val failfast = spark.read.schema(Tables.SupplierSchema)
      .option("header", "true").option("mode", "FAILFAST").csv(path)
    intercept[org.apache.spark.SparkException](failfast.collect())
  }

  test("JSON scan modes: PERMISSIVE corrupt column, DROPMALFORMED drops, FAILFAST throws") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val dir = Paths.get(out("json_malformed")); Files.createDirectories(dir)
    Files.write(dir.resolve("part-0.json"),
      ("""{"doc_id": 1, "text": "ok", "lang": "en", "source": "web", "n_chars": 2}""" + "\n" +
       """{"doc_id": 2, "text": "broken""" + "\n" +
       """{"doc_id": 3, "text": "fine", "lang": "de", "source": "web", "n_chars": 4}""" + "\n").getBytes("UTF-8"))
    val schema = Tables.DocumentsSchema.add(StructField("_corrupt_record", StringType))
    val path = dir.toString

    // cached first: Spark disallows queries touching ONLY the internal
    // corrupt-record column on a raw scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record").json(path)
      .cache()
    assert(permissive.count() == 3)
    assert(permissive.filter(col("_corrupt_record").isNotNull).count() == 1)
    permissive.unpersist()

    val dropped = spark.read.schema(Tables.DocumentsSchema)
      .option("mode", "DROPMALFORMED").json(path)
    assert(dropped.collect().map(_.getLong(0)).toSet == Set(1L, 3L))

    val failfast = spark.read.schema(Tables.DocumentsSchema)
      .option("mode", "FAILFAST").json(path)
    intercept[org.apache.spark.SparkException](failfast.collect())
  }

  // ---- r18 (r17 verdict #7): the reader surface the self-written
  // explicit-schema roundtrips can't pin — schema INFERENCE dtypes on
  // handwritten external fixtures, and a bad-records side channel.

  test("CSV/JSON schema inference pins reader dtypes on handwritten external fixtures") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types._
    val dir = Paths.get(out("inference_fixtures")); Files.createDirectories(dir)
    Files.write(dir.resolve("ext.csv"),
      ("id,name,ratio,seen_at,big\n" +
       "1,alpha,0.5,2024-03-01T10:00:00,9999999999\n" +
       "2,beta,1.25,2024-03-02T11:30:00,12\n").getBytes("UTF-8"))
    val csv = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(dir.resolve("ext.csv").toString)
    val csvTypes = csv.schema.fields.map(f => f.name -> f.dataType).toMap
    // integral columns narrow to the smallest fitting integral type —
    // IntegerType when every value fits, LongType once one doesn't
    assert(csvTypes("id") == IntegerType, csvTypes.toString)
    assert(csvTypes("big") == LongType, csvTypes.toString)
    assert(csvTypes("ratio") == DoubleType)
    assert(csvTypes("name") == StringType)
    assert(csvTypes("seen_at") == TimestampType, csvTypes.toString)
    assert(csv.count() == 2)

    Files.write(dir.resolve("ext.jsonl"),
      ("""{"id": 1, "score": 0.5, "tags": ["a", "b"], "meta": {"lang": "en", "ok": true}}""" + "\n" +
       """{"id": 9999999999, "score": 2.0, "tags": [], "meta": {"lang": "de", "ok": false}}""" + "\n").getBytes("UTF-8"))
    val json = spark.read.json(dir.resolve("ext.jsonl").toString)
    val jsonTypes = json.schema.fields.map(f => f.name -> f.dataType).toMap
    // JSON integral inference is LongType from the start; nested structs
    // and arrays infer element-wise
    assert(jsonTypes("id") == LongType, jsonTypes.toString)
    assert(jsonTypes("score") == DoubleType)
    assert(jsonTypes("tags") == ArrayType(StringType), jsonTypes.toString)
    assert(jsonTypes("meta") == StructType(Seq(
      StructField("lang", StringType), StructField("ok", BooleanType))),
      jsonTypes.toString)
    assert(json.count() == 2)
  }

  test("scanRoutingBadRecords: clean rows flow, corrupt rows land in badDir with the verbatim line, append accumulates") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions.col
    val dir = Paths.get(out("bad_records_src")); Files.createDirectories(dir)
    // badDir is append-mode BY CONTRACT — wipe both dirs so reruns of this
    // suite never see a previous invocation's accumulated bad rows
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out("bad_records_out")))
    val badLine1 = "2,Supplier#2,4,notanumber"
    val badLine2 = "3,Supplier#3"
    Files.write(dir.resolve("part-0.csv"),
      s"s_suppkey,s_name,s_nationkey,s_acctbal\n1,Supplier#1,3,100.5\n$badLine1\n$badLine2\n"
        .getBytes("UTF-8"))
    val badDir = out("bad_records_out")
    val clean = Tables.scanRoutingBadRecords(spark, "csv", dir.toString,
      Tables.SupplierSchema, badDir, Map("header" -> "true"))
    assert(clean.collect().map(_.getLong(0)).toSeq == Seq(1L),
      "only the parseable row survives")
    val bad1 = spark.read.json(badDir)
    assert(bad1.count() == 2)
    val lines = bad1.select("corrupt_record").collect().map(_.getString(0)).toSet
    assert(lines == Set(badLine1, badLine2), lines.toString)
    // partially parsed values ride along for the audit
    assert(bad1.filter(col("corrupt_record") === badLine1)
      .select("s_suppkey").head.getLong(0) == 2L)
    // append semantics: a second routing pass accumulates, never clobbers
    Tables.scanRoutingBadRecords(spark, "csv", dir.toString,
      Tables.SupplierSchema, badDir, Map("header" -> "true")).count()
    assert(spark.read.json(badDir).count() == 4)
  }

  test("scan_csv/scan_json roundtrip twins match the parquet source exactly") {
    val sfDir = "/root/testdata/sf0.001"
    val csv = Tables.scanCsv(spark, sfDir)
    val parquetSup = Tables.load(spark, sfDir, "supplier")
    assert(csv.schema == Tables.SupplierSchema)
    assert(csv.exceptAll(parquetSup).isEmpty && parquetSup.exceptAll(csv).isEmpty,
      "CSV roundtrip must be bit-identical to the parquet truth")
    val json = Tables.scanJson(spark, sfDir)
    val parquetDocs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    assert(json.exceptAll(parquetDocs).isEmpty && parquetDocs.exceptAll(json).isEmpty,
      "JSON roundtrip must be bit-identical to the parquet truth")
  }

  // ---------------------------------------------------- source resolution

  /** A fresh directory under target/, so a test starts from cold schema
    * entries and may rewrite its sources. */
  private def freshDir(): java.nio.file.Path =
    java.nio.file.Paths.get(TestSparkSession.freshDir("resolution_sf"))

  /** A fresh copy of fixture tables from the sf0.001 directory `base` reads. */
  private def freshSf(tables: Seq[String]): String = {
    val dir = freshDir()
    val fixtures = java.nio.file.Paths.get(new java.net.URI(base.inputFiles.head)).getParent
    tables.foreach(t => java.nio.file.Files.copy(
      fixtures.resolve(s"$t.parquet"), dir.resolve(s"$t.parquet")))
    dir.toString
  }

  /** Writes `df` as the single parquet FILE `dest`, replacing any file there. */
  private def writeFile(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
    val tmp = freshDir().resolve("out").toString
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(dest),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] =
    df.collect().toSeq

  test("a repeated Tables.load of an unchanged source runs no Spark job") {
    val sf = freshSf(Seq("nation"))
    val (_, inferJobs) = jobsDuring(Tables.load(spark, sf, "nation"))
    assert(inferJobs >= 1, "the first load infers the schema with a Spark job")
    val (again, hitJobs) = jobsDuring(Tables.load(spark, sf, "nation"))
    assert(hitJobs == 0, s"an unchanged source must resolve without a job, ran $hitJobs")
    assert(again.count() == 25)
  }

  test("overwriting a source file invalidates its cached schema") {
    import org.apache.spark.sql.functions.col
    val sf = freshDir().toString
    writeFile(spark.range(3).toDF("a"), s"$sf/t.parquet")
    assert(Tables.load(spark, sf, "t").columns.toSeq == Seq("a"))
    Tables.load(spark, sf, "t")
    val wider = spark.range(5).toDF("a").withColumn("b", col("a") * 10)
    writeFile(wider, s"$sf/t.parquet")
    val (reread, jobs) = jobsDuring(Tables.load(spark, sf, "t"))
    assert(jobs >= 1, "a rewritten file must be re-inferred")
    assert(reread.schema.map(f => (f.name, f.dataType)) ==
      wider.schema.map(f => (f.name, f.dataType)))
    assert(rows(reread.orderBy("a")) == rows(wider))
  }

  test("a part file added to a directory source shows up in the next load") {
    val sf = freshDir().toString
    val path = s"$sf/t.parquet"
    spark.range(3).toDF("a").write.parquet(path)
    assert(Tables.load(spark, sf, "t").count() == 3)
    assert(Tables.load(spark, sf, "t").count() == 3)
    spark.range(10, 14).toDF("a").coalesce(1).write.mode("append").parquet(path)
    val (reread, jobs) = jobsDuring(Tables.load(spark, sf, "t"))
    assert(jobs >= 1, "a new leaf file changes the source's signature")
    assert(reread.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 10L, 11L, 12L, 13L))
  }

  test("flipping spark.sql.parquet.binaryAsString re-infers the schema") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.types.{BinaryType, StringType}
    // a plain (unannotated) binary column and no Spark schema in the footer:
    // only then does binaryAsString decide the inferred type
    val sf = freshDir().toString
    val message = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$sf/t.parquet"))
      .withType(message).build()
    val groups = new SimpleGroupFactory(message)
    try Seq("x", "y").foreach(v => writer.write(groups.newGroup().append("b", v)))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.load(spark, sf, "t").schema("b").dataType == BinaryType)
      assert(jobsDuring(Tables.load(spark, sf, "t"))._2 == 0)
      spark.conf.set(key, "true")
      val (asString, jobs) = jobsDuring(Tables.load(spark, sf, "t"))
      assert(jobs >= 1, "a changed inference conf must re-infer")
      assert(asString.schema("b").dataType == StringType)
      assert(asString.collect().map(_.getString(0)).toSeq == Seq("x", "y"))
      spark.conf.set(key, "false")
      assert(Tables.load(spark, sf, "t").schema("b").dataType == BinaryType)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("every fixture table resolves from the cache to the same schema and rows as a fresh read") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val sf = freshSf(Tables.All)
    // the fixture's events.ts is micros; an events twin whose ts is
    // TIMESTAMP(NANOS) takes the nanos → micros path
    val nanosSf = freshDir().toString
    val message = MessageTypeParser.parseMessageType(
      "message m { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$nanosSf/events.parquet"))
      .withType(message).build()
    val groups = new SimpleGroupFactory(message)
    try Seq(1L -> 1700000000123456789L, 2L -> 1700000001999999999L).foreach { case (id, ts) =>
      writer.write(groups.newGroup().append("event_id", id).append("ts", ts))
    } finally writer.close()
    val sources = Tables.All.map(sf -> _) :+ (nanosSf -> "events")
    // the uncached read as Tables.load did it before the cache
    def fresh(dir: String, name: String) = {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events" && df.schema("ts").dataType == LongType)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else df
    }
    // two cold loads of every source race from two threads
    val racing = Seq.fill(2)(Future(sources.map { case (d, n) => Tables.load(spark, d, n) }))
    val loaded = racing.map(Await.result(_, 5.minutes))
    for (((dir, name), i) <- sources.zipWithIndex) {
      val (hit, jobs) = jobsDuring(Tables.load(spark, dir, name))
      assert(jobs == 0, s"$dir/$name: the cached schema must serve the load, ran $jobs jobs")
      val expected = fresh(dir, name)
      val want = rows(expected)
      for (df <- hit +: loaded.map(_(i))) {
        assert(df.schema == expected.schema, s"$dir/$name")
        assert(rows(df) == want, s"$dir/$name")
      }
    }
    val nanos = Tables.load(spark, nanosSf, "events")
    assert(nanos.schema("ts").dataType == TimestampType)
    assert(nanos.selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).toSeq ==
      Seq(1700000000123456L, 1700000001999999L))
  }
}
