package graft

import org.scalatest.funsuite.AnyFunSuite

/** SQL registration of the native expressions: the same codegen'd hot paths
  * are reachable from `spark.sql` after `GraftExtensions.register` (and via
  * `spark.sql.extensions=graft.GraftExtensions` on a fresh cluster). */
class ExtensionsSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSparkSession.spark
    GraftExtensions.register(s)
    s
  }

  test("float_vector_dot callable from SQL, NULL on length mismatch") {
    val r = spark.sql(
      """SELECT float_vector_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d,
        |       float_vector_dot(array(1.0F), array(3.0F, 4.0F)) AS bad""".stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.isNullAt(1))
  }

  test("minhash_signature from SQL matches the Column API") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq("alpha beta gamma delta epsilon").toDF("text")
    df.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql(
      """SELECT minhash_signature(transform(split(text, '\\s+'), t -> xxhash64(t)), 8, 3) AS sig
        |FROM ext_docs""".stripMargin).head().getSeq[Long](0)
    val viaColumn = df.select(
      graft.expressions.MinHashSignature.minhashSignature(
        transform(split(col("text"), "\\s+"), t => xxhash64(t)), 8, 3).as("sig"))
      .head().getSeq[Long](0)
    assert(viaSql == viaColumn && viaSql.length == 8)
  }

  test("simhash64 from SQL matches the Column API") {
    import spark.implicits._
    val df = Seq("alpha beta gamma delta epsilon").toDF("text")
    df.createOrReplaceTempView("ext_sh_docs")
    val viaSql = spark.sql(
      """SELECT simhash64(transform(split(text, '\\s+'), t -> xxhash64(t))) AS sh
        |FROM ext_sh_docs""".stripMargin).head().getLong(0)
    val viaColumn = df.select(
      graft.functions.TextFunctions.simhash64("text").as("sh")).head().getLong(0)
    assert(viaSql == viaColumn)
  }

  test("shingle_hashes from SQL: one hash per w-gram window") {
    val n = spark.sql(
      """SELECT size(shingle_hashes(transform(split('a b c d e', ' '), t -> xxhash64(t)), 3)) AS n"""
    ).head().getInt(0)
    assert(n == 3) // 5 tokens, width 3 -> 3 windows
  }

  test("non-literal numHashes is rejected with a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_signature(array(1L), CAST(rand() * 4 AS INT))").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("normalize_text from SQL matches the Column API, incl. the form argument") {
    val r = spark.sql(
      """SELECT normalize_text('  The   QUICK\tFox ') AS nfc,
        |       normalize_text('ﬁne', 'NFKC') AS folded""".stripMargin).head()
    assert(r.getString(0) == "the quick fox")
    assert(r.getString(1) == "fine", "NFKC must fold the ligature")
    val bad = intercept[Exception] {
      spark.sql("SELECT normalize_text('x', 'nope')").collect()
    }
    assert(bad.getMessage.contains("form must be one of") ||
      bad.getMessage.contains("NFC"))
  }

  test("ngram_repetition from SQL matches the operator's counts; interpreted == codegen") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 'a b a b a' bigrams: (a b) x2, (b a) x2 -> n=4, top=2, dup=4
    val df = Seq((1L, "a b a b a"), (2L, "x y z"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    df.createOrReplaceTempView("ext_rep_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, ngram_repetition(
        |  shingle_hashes(transform(split(text, '\\s+'), t -> xxhash64(t)), 2)) AS r
        |FROM ext_rep_docs""".stripMargin)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null
         else { val s = r.getStruct(1); (s.getLong(0), s.getLong(1), s.getLong(2)) })).toMap
    assert(viaSql(1L) == ((4L, 2L, 4L)), s"got ${viaSql(1L)}")
    assert(viaSql(2L) == ((2L, 1L, 0L)))
    assert(viaSql(3L) == null, "NULL text propagates")
    // the operator derives its stats from the same counters
    val op = graft.operators.Corpus.repetitionStats(
        df.filter(col("text").isNotNull), "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(op(1L) == viaSql(1L) && op(2L) == viaSql(2L))
    // interpreted path (eval without codegen) shares the same static helper
    val grams = graft.expressions.MinHashSignature.shingleHashes(
      transform(split(col("text"), "\\s+"), t => xxhash64(t)), 2)
    val interp = df.filter(col("doc_id") === 1L).select(
      graft.expressions.NgramRepetition.ngramRepetition(grams).as("r"))
      .head().getStruct(0)
    assert((interp.getLong(0), interp.getLong(1), interp.getLong(2)) == ((4L, 2L, 4L)))
  }

  test("pq_encode and pq_adc_score: native == HOF reference on real embeddings; SQL-callable; NULL on malformed shapes") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val emb = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cb = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 4, iters = 1)
    // native encode == the HOF argmin fold, code for code, on every vector
    val cbArr = cb.agg(array_sort(
      collect_list(struct(col("sub"), col("code"), col("cvec")))).as("__cb"))
    val both = emb.crossJoin(broadcast(cbArr))
      .select(col("vec_id"),
        Similarity.pqCodesLocal(col("embedding"), 8, 8).as("native"),
        Similarity.pqCodesLocalHof(col("embedding"), 8, 8).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    // SQL surface: pq_encode against the flat codeword array, then
    // pq_adc_score against a LUT built from float_vector_dot — both
    // registered, both usable from pure spark.sql
    cb.createOrReplaceTempView("ext_pq_cb")
    emb.limit(3).createOrReplaceTempView("ext_pq_emb")
    val sqlCodes = spark.sql(
      """WITH cbv AS (SELECT transform(array_sort(collect_list(struct(sub, code, cvec))),
        |                              x -> x.cvec) AS vecs FROM ext_pq_cb)
        |SELECT vec_id, pq_encode(embedding, cbv.vecs, 8) AS codes
        |FROM ext_pq_emb CROSS JOIN cbv ORDER BY vec_id""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val colCodes = emb.filter(col("vec_id") < 3).crossJoin(broadcast(cbArr))
      .select(col("vec_id"), Similarity.pqCodesLocal(col("embedding"), 8, 8).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(sqlCodes == colCodes)
    // ADC score from SQL: sum of the m looked-up LUT entries
    val adc = spark.sql(
      "SELECT pq_adc_score(array(CAST(1.0 AS DOUBLE), 2.0, 3.0, 4.0), array(1, 0), 2) AS s")
      .head().getDouble(0)
    assert(adc == 2.0 + 3.0) // sub 0 code 1 -> lut[1]=2; sub 1 code 0 -> lut[2]=3
    // malformed: out-of-range code / codebook not divisible by m -> NULL
    val bad = spark.sql(
      """SELECT pq_adc_score(array(CAST(1.0 AS DOUBLE)), array(5), 2) AS a,
        |       pq_encode(array(CAST(1.0F AS FLOAT), 2.0F), array(array(1.0F)), 8) AS b""".stripMargin)
      .head()
    assert(bad.isNullAt(0) && bad.isNullAt(1))
  }

  test("hadamard_rotate: native == HOF == driver reference; orthogonal; NULL on bad length") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val emb = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    // native == the HOF fold, coordinate for coordinate, on every vector
    val both = emb.select(col("vec_id"),
      Similarity.rotateVec(col("embedding")).as("native"),
      Similarity.rotateVecHof(col("embedding"), 64).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    // bit-equality against an independent driver-side computation of
    // y_i = (Σ_j ±x_j)/√n with the same sign rule and fold order
    val row = emb.orderBy("vec_id").select("embedding").head().getSeq[Float](0)
    val n = row.length
    val expect = (0 until n).map { i =>
      var s = 0.0
      for (j <- 0 until n) {
        val par = (Integer.bitCount(i & j) +
          java.lang.Long.bitCount((j * 2654435761L) % 4294967296L)) & 1
        if (par == 0) s += row(j).toDouble else s -= row(j).toDouble
      }
      (s / math.sqrt(n.toDouble)).toFloat
    }
    val got = emb.orderBy("vec_id")
      .select(Similarity.rotateVec(col("embedding"))).head().getSeq[Float](0)
    assert(got == expect)
    // (1/√n)·H·D is orthogonal: norms survive to float tolerance
    val norms = emb.select(
        sqrt(aggregate(col("embedding"), lit(0.0), (a, x) => a + x * x)).as("raw"),
        sqrt(aggregate(Similarity.rotateVec(col("embedding")), lit(0.0),
          (a, x) => a + x * x)).as("rot"))
      .select(max(abs(col("raw") - col("rot")) / col("raw"))).head().getDouble(0)
    assert(norms < 1e-5, s"relative norm drift $norms")
    // SQL surface + structural failure: length 3 is not a power of two
    val r = spark.sql(
      """SELECT hadamard_rotate(array(1.0F, 0.0F, 0.0F, 0.0F)) AS ok,
        |       hadamard_rotate(array(1.0F, 2.0F, 3.0F)) AS bad""".stripMargin).head()
    assert(r.getSeq[Float](0).length == 4)
    assert(r.isNullAt(1))
  }

  test("bpeSegmentFast: native rank-priority loop == replace chain on real corpus; bad tables rejected") {
    import graft.operators.Corpus
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    // both trainer modes' tables, applied both ways, must agree row for row
    for (merges <- Seq(
        Corpus.bpeTrain(docs, "text", nMerges = 8),
        Corpus.bpeTrain(docs, "text", nMerges = 8, batchSize = 4))) {
      val m = merges.cache()
      val slow = Corpus.bpeSegmentChain(docs, "doc_id", "text", m).orderBy("id").collect()
      val fast = Corpus.bpeSegmentNative(docs, "doc_id", "text", m).orderBy("id").collect()
      assert(slow.length == fast.length && slow.length > 0)
      slow.zip(fast).foreach { case (a, b) => assert(a == b) }
      m.unpersist(): Unit
    }
    // repeat semantics survive the loop: "bbbb bbb" under (b,b) → bb+bb bb+b
    import spark.implicits._
    val m2 = Seq((0, "b", "b", "bb", 1L)).toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
    val seg2 = Corpus.bpeSegmentNative(Seq((1L, "bbbb bbb")).toDF("doc_id", "text"),
      "doc_id", "text", m2).collect().head
    assert(seg2.getAs[String]("segmented") == "bb+bb bb+b")
    // non-monotone component (rhs 'xy' is no earlier rank's output) → the
    // native path rejects loudly
    val bad1 = Seq((0, "s", "xy", "sxy", 1L)).toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
    val e1 = intercept[IllegalArgumentException] {
      Corpus.bpeSegmentNative(Seq((1L, "s x y")).toDF("doc_id", "text"), "doc_id", "text", bad1)
    }
    assert(e1.getMessage.contains("component-monotone"))
    // duplicate merged output ((a,bc) and (ab,c) both → 'abc') → loud reject
    val bad2 = Seq(
      (0, "b", "c", "bc", 9L), (1, "a", "b", "ab", 8L),
      (2, "a", "bc", "abc", 5L), (3, "ab", "c", "abc", 4L))
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
    val e2 = intercept[IllegalArgumentException] {
      Corpus.bpeSegmentNative(Seq((1L, "abc")).toDF("doc_id", "text"), "doc_id", "text", bad2)
    }
    assert(e2.getMessage.contains("duplicate merged output"))
    // the public segmenter takes the chain for both bad tables instead
    assert(Corpus.bpeSegment(Seq((1L, "s x y")).toDF("doc_id", "text"), "doc_id", "text", bad1)
      .collect().head.getAs[String]("segmented") == "s x y")
    assert(Corpus.bpeSegment(Seq((1L, "abc")).toDF("doc_id", "text"), "doc_id", "text", bad2)
      .collect().head.getAs[String]("segmented") == "abc")
    // NULL text behaves as empty (the curation-wide NULL contract)
    val segNull = Corpus.bpeSegmentNative(
      Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text"), "doc_id", "text", m2)
      .collect().head
    assert(segNull.getAs[String]("segmented") == "")
  }

  test("bpeSegment on empty, all-NULL and non-ASCII input: native path, equal to the chain") {
    import graft.operators.Corpus
    import spark.implicits._
    // a trained table over accented, non-BMP (U+1D11E, a surrogate pair
    // in UTF-16) and CJK words, so merges involve multi-byte symbols
    val merges = Corpus.bpeTrain(
      Seq((0L, "naïve naïve ééé éé \uD834\uDD1E\uD834\uDD1E \uD834\uDD1E\uD834\uDD1E 日本 日本語"))
        .toDF("doc_id", "text"), "text", nMerges = 7).cache()
    // the 7th and last merge is the non-BMP pair
    assert(merges.orderBy("merge_rank").collect().last.getAs[String]("merged") ==
      "\uD834\uDD1E\uD834\uDD1E")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("id").collect().toSeq
    val inputs = Seq(
      "empty" -> Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "all-NULL" -> Seq((1L, null: String), (2L, null: String)).toDF("doc_id", "text"),
      "non-ASCII" -> Seq((1L, "naïve éé"), (2L, "\uD834\uDD1E\uD834\uDD1E\uD834\uDD1E a\uD834\uDD1Eb"),
        (3L, "日本語 日本"), (4L, " lead")).toDF("doc_id", "text"))
    inputs.foreach { case (name, df) =>
      val seg = Corpus.bpeSegment(df, "doc_id", "text", merges)
      assert(seg.queryExecution.analyzed.toString.contains("bpe_encode"),
        s"$name: a trained table runs the native loop")
      assert(rows(seg) == rows(Corpus.bpeSegmentChain(df, "doc_id", "text", merges)), name)
    }
    assert(Corpus.bpeSegment(inputs(0)._2, "doc_id", "text", merges).count() == 0L)
    // NULL text segments as empty: one empty word, one empty subword
    assert(rows(Corpus.bpeSegment(inputs(1)._2, "doc_id", "text", merges))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))) ==
      Seq((1L, 1L, 1L, ""), (2L, 1L, 1L, "")))
    // the non-BMP pair merged as one code-point symbol pair, never split
    // into surrogate halves
    val nonBmp = rows(Corpus.bpeSegment(inputs(2)._2, "doc_id", "text", merges))
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(nonBmp(2L) == "\uD834\uDD1E\uD834\uDD1E+\uD834\uDD1E a+\uD834\uDD1E+b", nonBmp(2L))
    merges.unpersist(): Unit
  }

  test("bpeSegment takes the replace chain for a trained-shape table with a duplicate merged output") {
    import graft.operators.Corpus
    import spark.implicits._
    // component-monotone, but 'abc' is produced twice (ranks 2 and 4).
    // On "abcd" the chain merges (b,c), then (a,bc) at rank 4 — after
    // rank 3 (abc,d) has passed — so the hand-computed segmentation is
    // abc+d. The rank-priority loop would re-merge (abc,d) into "abcd".
    val dupOut = Seq(
      (0, "b", "c", "bc", 9L), (1, "a", "b", "ab", 8L), (2, "ab", "c", "abc", 7L),
      (3, "abc", "d", "abcd", 6L), (4, "a", "bc", "abc", 5L))
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
    val docs = Seq((1L, "abcd abc xabcd")).toDF("doc_id", "text")
    val seg = Corpus.bpeSegment(docs, "doc_id", "text", dupOut)
    assert(!seg.queryExecution.analyzed.toString.contains("bpe_encode"))
    val row = seg.collect().head
    assert(row.getAs[String]("segmented") == "abc+d abc x+abc+d")
    assert(row.getAs[Long]("n_subwords") == 6L)
    assert(seg.collect().toSeq == Corpus.bpeSegmentChain(docs, "doc_id", "text", dupOut).collect().toSeq)
    val e = intercept[IllegalArgumentException] {
      Corpus.bpeSegmentNative(docs, "doc_id", "text", dupOut)
    }
    assert(e.getMessage.contains("duplicate merged output 'abc' at rank 4"), e.getMessage)
  }

  test("char_class_stats from SQL matches the operator's signals") {
    import graft.operators.Corpus
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .limit(50)
    docs.createOrReplaceTempView("ccs_docs")
    val viaSql = spark.sql(
      """SELECT doc_id AS id, s.n_chars, s.n_alpha, s.entropy_micro_nats
        |FROM (SELECT doc_id, char_class_stats(coalesce(text, '')) AS s FROM ccs_docs)""".stripMargin)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val viaOp = Corpus.charStats(docs, "doc_id", "text")
      .selectExpr("id", "n_chars", "n_alpha", "entropy_micro_nats")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(viaSql == viaOp && viaOp.nonEmpty)
  }

  test("gopher_repetition from SQL matches the operator's signals") {
    import org.apache.spark.sql.functions._
    import graft.operators.Corpus
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .limit(50)
    docs.createOrReplaceTempView("gr_docs")
    val viaSql = spark.sql(
      """SELECT doc_id AS id, s.total_chars, s.top2_chars, s.dup5_chars
        |FROM (SELECT doc_id, gopher_repetition(
        |  transform(filter(split(text, '\\s+'), w -> w != ''), t -> xxhash64(t)),
        |  transform(filter(split(text, '\\s+'), w -> w != ''), t -> CAST(length(t) AS BIGINT))) AS s
        |FROM gr_docs)""".stripMargin)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val viaOp = Corpus.gopherRepetition(docs, "doc_id", "text")
      .select(col("id"), col("total_chars"), col("top2_chars"), col("dup5_chars"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(viaSql == viaOp && viaOp.nonEmpty)
  }

  test("bpe_encode from SQL: foldable merge arrays applied per word; non-foldable rejected") {
    val r = spark.sql(
      """SELECT bpe_encode(array('abab', 'aab', 'ba'),
        |  array('a', 'ab'), array('b', 'ab')) AS segs""".stripMargin).head()
    assert(r.getSeq[String](0) == Seq("abab", "a+ab", "b+a"))
    // a bad (non-monotone) table is rejected at registration, not per row
    val e = intercept[Exception] {
      spark.sql("SELECT bpe_encode(array('s'), array('s'), array('xy'))").head()
    }
    assert(e.getMessage.contains("component-monotone"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT bpe_encode(t, array('a'), rhs) FROM " +
        "(SELECT array('aa') AS t, array('a') AS rhs)").head()
    }
    assert(e2.getMessage.contains("foldable"))
  }

  test("top_k_by_score aggregate callable from SQL") {
    import spark.implicits._
    (1L to 100L).map(i => ("g", (i % 7).toDouble, i)).toDF("g", "score", "id")
      .createOrReplaceTempView("ext_topk")
    val arr = spark.sql(
      "SELECT top_k_by_score(struct(score, id), 3) AS t FROM ext_topk GROUP BY g")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(arr.map(r => (r.getDouble(0), r.getLong(1))) ==
      Seq((6.0, 6L), (6.0, 13L), (6.0, 20L)))
  }
}
