package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Corpus, Dedup, Similarity}

/** Semantic tests for the pipeline extensions (SURVEY.md §2.3) on planted
  * fixtures with known ground truth — these cover the operators whose
  * hash-based arithmetic has no DuckDB oracle. */
class PipelineOpsSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark

  // docs 1/2 identical, 3 a one-word edit of 1, 4/5 unrelated
  private lazy val docs: DataFrame = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    Seq(
      (1L, base),
      (2L, base),
      (3L, base.replace("quiet", "noisy")),
      (4L, "completely different content about database query engines and columnar storage formats"),
      (5L, "spark catalyst optimizer pushes filters below joins for scan pruning wins")
    ).toDF("doc_id", "text")
  }

  test("script-aware tokens: CJK codepoints split singly, Latin runs stay words, whitespace mode unchanged") {
    import spark.implicits._
    val rows = Seq(
      (1L, "spark 深度学習 tuning"),        // Han mixed into Latin
      (2L, "モデル학습"),                    // Kana + Hangul, no spaces at all
      (3L, "plain ascii words only"),
      (4L, "русский текст здесь"))           // Cyrillic: word runs, not chars
      .toDF("id", "text")
    val got = rows.select(col("id"),
        TextFunctions.tokens(col("text"), "script").as("st"),
        TextFunctions.tokens(col("text"), "whitespace").as("wt"),
        TextFunctions.tokens(col("text")).as("dt"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[String](1).toList,
        r.getSeq[String](2).toList, r.getSeq[String](3).toList))).toMap
    val (s1, w1, d1) = (got(1L)._1, got(1L)._2, got(1L)._3)
    assert(s1 == List("spark", "深", "度", "学", "習", "tuning"), s1.toString)
    assert(w1 == List("spark", "深度学習", "tuning"))
    assert(w1 == d1, "two-arg whitespace mode must equal the default")
    assert(got(2L)._1 == List("モ", "デ", "ル", "학", "습"))
    assert(got(2L)._2 == List("モデル학습"), "whitespace mode sees one giant token")
    assert(got(3L)._1 == got(3L)._2, "pure ASCII tokenizes identically in both modes")
    assert(got(4L)._1 == got(4L)._2, "Cyrillic word runs are kept whole")
    val err = intercept[IllegalArgumentException] {
      TextFunctions.tokens(col("text"), "bpe")
    }
    assert(err.getMessage.contains("tokenizer mode"))
  }

  test("script-aware tokens: Thai/Lao/Khmer/Myanmar codepoints split singly (r15 verdict: the Thai half)") {
    import spark.implicits._
    val rows = Seq(
      (1L, "visit สวัสดี bangkok"),   // Thai run inside Latin
      (2L, "ສະບາຍດີ"),                 // Lao, no spaces at all
      (3L, "ကျေးဇူး"),                 // Myanmar
      (4L, "កម្ពុជា"))                  // Khmer (with coeng stacking marks)
      .toDF("id", "text")
    val got = rows.select(col("id"),
        TextFunctions.tokens(col("text"), "script").as("st"),
        TextFunctions.tokens(col("text"), "whitespace").as("wt"))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[String](1).toList, r.getSeq[String](2).toList))).toMap
    // Thai สวัสดี = 6 codepoints (ส ว ั ส ด ี) — combining vowels count
    assert(got(1L)._1 == List("visit", "ส", "ว", "ั", "ส", "ด", "ี", "bangkok"),
      got(1L)._1.toString)
    assert(got(1L)._2 == List("visit", "สวัสดี", "bangkok"),
      "whitespace mode reads the Thai phrase as ONE token")
    assert(got(2L)._1.size == "ສະບາຍດີ".codePointCount(0, "ສະບາຍດີ".length),
      "every Lao codepoint is its own token")
    assert(got(2L)._2 == List("ສະບາຍດີ"))
    assert(got(3L)._1.forall(_.length == 1) && got(3L)._1.size > 1,
      "Myanmar splits per codepoint")
    assert(got(4L)._1.forall(_.length == 1) && got(4L)._1.size > 1,
      "Khmer splits per codepoint")
  }

  test("grapheme tokens: base + combining marks is ONE token; script/whitespace modes untouched (r17 verdict #8)") {
    import spark.implicits._
    val rows = Seq(
      (1L, "visit สวัสดี bangkok"),   // Thai with combining vowels ั ี
      (2L, "ສະບາຍດີ"),                 // Lao with combining ະ? (spacing) + ີ
      (3L, "កម្ពុជា"),                  // Khmer coeng stack
      (4L, "plain ascii words only"),
      (5L, "spark 深度学習 tuning"))    // CJK carries no marks — grapheme ≡ script
      .toDF("id", "text")
    val got = rows.select(col("id"),
        TextFunctions.tokens(col("text"), "grapheme").as("gt"),
        TextFunctions.tokens(col("text"), "script").as("st"))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[String](1).toList, r.getSeq[String](2).toList))).toMap
    // สวัสดี: script = 6 single codepoints; grapheme folds the two
    // combining vowels into their bases → ส วั ส ดี (4 clusters)
    assert(got(1L)._1 == List("visit", "ส", "วั", "ส", "ดี", "bangkok"),
      got(1L)._1.toString)
    assert(got(1L)._2.size == 8, "script mode keeps counting marks singly")
    // grapheme count never exceeds script count; strictly less with marks
    assert(got(1L)._1.size < got(1L)._2.size)
    assert(got(2L)._1.size < got(2L)._2.size, s"${got(2L)}")
    assert(got(3L)._1.size < got(3L)._2.size, s"${got(3L)}")
    // no-mark scripts and ASCII are byte-identical across the two modes
    assert(got(4L)._1 == got(4L)._2)
    assert(got(5L)._1 == got(5L)._2)
  }

  test("normalizeText canonicalizes unicode forms, case, and whitespace; normalized dedup collapses renderings") {
    import spark.implicits._
    import graft.functions.TextFunctions.normalizeText
    val rows = Seq(
      (1L, "Café au lait"),            // é composed (NFC)
      (2L, "Café au lait"),           // e + combining acute (NFD)
      (3L, "  café   AU\tlait "),      // case + whitespace runs
      (4L, "ﬁne print"),               // ﬁ ligature — NFC keeps it
      (5L, "fine print"),
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val norm = rows.select(col("doc_id"), normalizeText(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(norm(1L) == "café au lait")
    assert(norm(2L) == norm(1L), "NFD input must normalize to the NFC rendering")
    assert(norm(3L) == norm(1L), "case and whitespace runs must collapse")
    assert(norm(4L) != norm(5L), "NFC must NOT fold compatibility ligatures")
    assert(norm(6L) == null, "NULL propagates")
    // NFKC folds the ligature
    val nfkc = rows.filter(col("doc_id").isin(4L, 5L))
      .select(normalizeText(col("text"), form = "NFKC").as("n"))
      .collect().map(_.getString(0)).toSet
    assert(nfkc == Set("fine print"), s"NFKC must fold the ligature: $nfkc")
    // normalized exact dedup: docs 1-3 are one cluster under the canonical
    // rendering (raw md5 dedup sees three distinct contents)
    val out = Dedup.exactNormalized(rows.filter(col("doc_id") <= 3L), "doc_id", "text").collect()
    assert(out.length == 1 && out.head.getAs[Long]("dup_count") == 3L &&
      out.head.getAs[Long]("canonical_id") == 1L)
    assert(Dedup.exact(rows.filter(col("doc_id") <= 3L), "doc_id", "text").count() == 3L)
    intercept[IllegalArgumentException](normalizeText(col("text"), form = "nfx"))
    // a non-string child fails analysis cleanly (never a silent toString);
    // an explicit cast opts in
    val typeErr = intercept[org.apache.spark.sql.AnalysisException](
      rows.select(normalizeText(col("doc_id")).as("n")).schema)
    assert(typeErr.getMessage.contains("string"), s"got: ${typeErr.getMessage}")
    val casted = rows.select(normalizeText(col("doc_id").cast("string")).as("n"))
    assert(casted.collect().map(_.getString(0)).toSet == Set("1", "2", "3", "4", "5", "6"))
  }

  test("exact dedup elects canonical id and counts duplicates") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    assert(out.length == 4) // 1&2 collapse
    val dupGroup = out.find(_.getAs[Long]("dup_count") == 2L).get
    assert(dupGroup.getAs[Long]("canonical_id") == 1L)
  }

  test("minhash LSH clusters exact and near duplicates together") {
    val out = Dedup.minHashLsh(docs, "doc_id", "text", numHashes = 32, bands = 16)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(out(1L) == out(2L), "identical docs must share a cluster")
    assert(out(1L) == out(3L), "one-word edit should collide in some band")
    assert(out(4L) != out(1L) && out(5L) != out(1L), "unrelated docs stay apart")
  }

  test("simhash near-dup finds the planted pair, skips unrelated") {
    val pairs = Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 12)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Long]("hamming")))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)), "identical docs: hamming 0")
    assert(pairs.find(p => (p._1, p._2) == ((1L, 2L))).get._3 == 0L)
    assert(keys.contains((1L, 3L)) || keys.contains((2L, 3L)), "near dup within hamming bound")
    assert(!keys.contains((4L, 5L)), "unrelated docs differ in many bits")
  }

  test("incremental near-dedup matches batch docs to the corpus, new docs stay null") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val batch = Seq(
      (10L, base), // duplicate of corpus docs 1/2 → matched to min id 1
      (11L, "entirely novel text about streaming watermark semantics and state stores")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDup(docs, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    assert(out(10L).contains(1L), s"near-dup batch doc must match corpus canonical: $out")
    assert(out(11L).isEmpty, s"novel batch doc must stay unmatched: $out")
  }

  test("winnowIncremental matches batch docs to the corpus with exact best-jaccard") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val batch = Seq(
      (10L, base), // duplicate of corpus docs 1/2 → matched to min id 1, jaccard 1.0
      (11L, "entirely novel text about streaming watermark semantics and state stores")
    ).toDF("doc_id", "text")
    val out = Dedup.winnowIncremental(docs, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Long]), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    assert(out(10L)._1.contains(1L), s"near-dup batch doc must match corpus canonical: $out")
    assert(out(10L)._2.contains(1.0), s"exact duplicate must confirm at jaccard 1.0: $out")
    assert(out(11L)._1.isEmpty && out(11L)._2.isEmpty, s"novel batch doc must stay unmatched: $out")
    // the df cap is the boilerplate dial: cap 1 drops every shared
    // fingerprint (df = 3 across 1/2/batch-10), so nothing can match
    val capped = Dedup.winnowIncremental(docs, batch, "doc_id", "text", maxFpDf = 1L)
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(capped(10L).isEmpty, s"combined-df cap must drop over-shared fingerprints: $capped")
  }

  test("ngram jaccard best-match ranks the near dup first") {
    val withBlock = docs.withColumn("block", lit("all"))
    val out = Dedup.ngramJaccardBestMatch(withBlock, "doc_id", "text", "block")
      .collect().map(r => r.getAs[Long]("id") -> (r.getAs[Long]("best_match"), r.getAs[Double]("jaccard"))).toMap
    assert(out(1L)._1 == 2L && out(1L)._2 == 1.0, "identical docs: jaccard 1 with lowest-id tiebreak")
    assert(out(3L)._2 > 0.5, "one-word edit keeps most shingles")
    assert(out(4L)._2 < 0.2, "unrelated doc has low best jaccard")
  }

  /** Naive all-pairs reference for `Dedup.ngramJaccardBestMatch`:
    * O(block²) array intersections, for equivalence testing only. */
  private def ngramJaccardBestMatchNaive(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      shingleWidth: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(
      col(idCol).as("id"),
      col(blockCol).as("block"),
      array_distinct(TextFunctions.shingles(col(textCol), shingleWidth)).as("sh"))
    val a = toks.select(col("block"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = toks.select(col("block"), col("id").as("id_b"), col("sh").as("sh_b"))
    val pairs = a.join(b, Seq("block"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
    val w = Window.partitionBy(col("id_a")).orderBy(desc("jaccard"), asc("id_b"))
    pairs
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id_a").as("id"), col("id_b").as("best_match"), round(col("jaccard"), 6).as("jaccard"))
  }

  test("inverted-index jaccard equals the naive all-pairs version, incl. zero-overlap docs") {
    import spark.implicits._
    val withLonely = docs.union(Seq(
      (6L, "wholly disjoint vocabulary token stream xyzzy plugh qwerty azerty dvorak")).toDF("doc_id", "text"))
      .withColumn("block", lit("all"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("best_match"), r.getAs[Double]("jaccard"))).toSet
    val fast = rows(Dedup.ngramJaccardBestMatch(withLonely, "doc_id", "text", "block"))
    val naive = rows(ngramJaccardBestMatchNaive(withLonely, "doc_id", "text", "block"))
    assert(fast == naive)
    assert(fast.exists { case (id, bm, j) => id == 6L && bm == 1L && j == 0.0 },
      "zero-overlap doc falls back to smallest other id at jaccard 0")
  }

  test("shingle df-cap: no-op at the exact opt-in, bounds hot-key candidates when set") {
    import spark.implicits._
    // every doc opens with the same boilerplate (df = 4 for those shingles);
    // bodies are pairwise disjoint, so all cross-doc overlap IS boilerplate
    val boiler = "standard license header applies to this file do not remove it"
    val corpus = Seq(
      (1L, s"$boiler alpha bravo charlie delta echo foxtrot golf hotel"),
      (2L, s"$boiler india juliet kilo lima mike november oscar papa"),
      (3L, s"$boiler quebec romeo sierra tango uniform victor whiskey xray"),
      (4L, s"$boiler yankee zulu zero one two three four five")
    ).toDF("doc_id", "text")
    def pairs(cap: Long) =
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text", minJaccard = 0.01, maxShingleDf = cap)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard")).toMap
    val exact = pairs(Long.MaxValue)
    assert(exact.size == 6, "boilerplate makes every pair overlap")
    // a cap at/above the max df changes nothing
    assert(pairs(4L) == exact)
    // a cap below the boilerplate df removes the hot shingles before the
    // self-join: boilerplate-only pairs disappear, so per-key join work is
    // bounded by cap^2 instead of corpus^2
    val capped = pairs(3L)
    assert(capped.isEmpty, "only boilerplate connected these docs")

    // best-match under the cap degrades to the jaccard-0 fallback, never errors
    val withBlock = corpus.withColumn("block", lit("all"))
    val bm = Dedup.ngramJaccardBestMatch(withBlock, "doc_id", "text", "block", maxShingleDf = 3L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("jaccard")).toMap
    assert(bm.keySet == Set(1L, 2L, 3L, 4L) && bm.values.forall(_ == 0.0))
    val bmExact = Dedup.ngramJaccardBestMatch(withBlock, "doc_id", "text", "block")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("jaccard")).toMap
    assert(bmExact.values.forall(_ > 0.0))
    // capped scores are a lower bound of exact ones
    assert(bm.forall { case (id, j) => j <= bmExact(id) })
  }

  test("tokenChunks covers every token with the declared overlap") {
    import spark.implicits._
    val text40 = (1 to 40).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text40), (2L, "just five little tokens here")).toDF("doc_id", "text")
    val rows = df.select(col("doc_id"),
        explode(TextFunctions.tokenChunks(col("text"), 32, 24)).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.chunk_text"), col("c.n_chunk_tokens"))
      .collect()
    val byDoc = rows.groupBy(_.getLong(0))
    // 40 tokens, size 32 / stride 24 → 2 windows: [1..32] and [25..40]
    val d1 = byDoc(1L).sortBy(_.getInt(1))
    assert(d1.length == 2)
    assert(d1(0).getString(2) == (1 to 32).map(i => s"w$i").mkString(" "))
    assert(d1(1).getString(2) == (25 to 40).map(i => s"w$i").mkString(" "))
    assert(d1.map(_.getLong(3)).toSeq == Seq(32L, 16L))
    // short doc → exactly one whole-document chunk
    val d2 = byDoc(2L)
    assert(d2.length == 1 && d2(0).getString(2) == "just five little tokens here"
      && d2(0).getLong(3) == 5L)
  }

  test("tokenChunks matches a reference implementation on 200 generated docs") {
    import spark.implicits._
    // fixed-seed generated corpus: token counts 0..80 hit the short-doc
    // fallback, exact-fit, and multi-window paths for several size/stride
    // shapes; one Spark job per shape, each row checked against a plain
    // Scala reference
    val rnd = new scala.util.Random(20260812L)
    val texts = (0 until 200).map { _ =>
      val n = rnd.nextInt(81)
      (0 until n).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString).mkString(" ")
    }
    def refChunks(text: String, size: Int, stride: Int): Seq[(Int, String, Long)] = {
      val toks = text.split("\\s+", -1).toSeq
      val n = toks.length
      val nChunks = (math.max(n - size, 0) + stride - 1) / stride + 1
      (0 until nChunks).map { k =>
        val start = k * stride
        (k, toks.slice(start, math.min(start + size, n)).mkString(" "),
          math.min(size, n - start).toLong)
      }
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for ((size, stride) <- Seq((32, 24), (8, 8), (5, 2), (1, 1))) {
      val got = df.select(col("id"), explode(TextFunctions.tokenChunks(col("text"), size, stride)).as("c"))
        .select(col("id"), col("c.chunk_idx"), col("c.chunk_text"), col("c.n_chunk_tokens"))
        .collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.sortBy(_.getInt(1)).map(r => (r.getInt(1), r.getString(2), r.getLong(3))).toSeq)
        .toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) == refChunks(t, size, stride),
          s"mismatch for size=$size stride=$stride text='$t'")
      }
    }
  }

  test("redactPii scrubs emails before digit runs and counts both") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail bob.smith+x@foo-bar.co.uk or call 12345678 now"),
      (2L, "short run 123456 stays; id 9876543 goes")).toDF("id", "text")
    val out = df.select(col("id"),
        TextFunctions.redactPii(col("text")).as("r"),
        TextFunctions.piiCount(col("text")).as("n"))
      .collect().sortBy(_.getLong(0))
    // the email is one placeholder — its digits are not a second <NUM> hit
    assert(out(0).getString(1) == "mail <EMAIL> or call <NUM> now")
    assert(out(0).getLong(2) == 2L)
    // 6-digit runs stay below the 7-digit floor
    assert(out(1).getString(1) == "short run 123456 stays; id <NUM> goes")
    assert(out(1).getLong(2) == 1L)
  }

  test("piiCount single-pass alternation equals the two-pass redact-then-count form") {
    import spark.implicits._
    // adversarial shapes: digit runs fused to the email local part, runs on
    // both sides of an address, an address whose local part is all digits
    val df = Seq(
      "mail bob.smith+x@foo-bar.co.uk or call 12345678 now",
      "1234567user@example.com then 7654321 after",
      "123456 short 9999999user@x.io8888888 tail", // digits fused both sides
      "1234567@digits.example.org standalone",
      "no pii here at all",
      "<EMAIL> literal already present 1234567").toDF("text")
    val twoPass = (size(regexp_extract_all(col("text"), lit(TextFunctions.EmailPattern), lit(0))) +
      size(regexp_extract_all(regexp_replace(col("text"), TextFunctions.EmailPattern, "<EMAIL>"),
        lit(TextFunctions.NumberPattern), lit(0)))).cast("long")
    val rows = df.select(TextFunctions.piiCount(col("text")).as("one"), twoPass.as("two")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), s"mismatch: $r"))
  }

  test("fingerprint is order-insensitive but content-sensitive") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"), // permutation → same fingerprint
      (3L, "alpha beta gamma deltaX") // edit → different
    ).toDF("id", "text")
      .select(col("id"), TextFunctions.fingerprint(col("text")).as("fp"))
    val fp = df.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("fp")).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("langId identifies stopword profiles and CJK text") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat is on the mat and it is warm in the sun"),
      (2L, "el perro y la casa de los vecinos en un barrio que no conozco"),
      (3L, "le chat est dans la maison et les enfants sont dans le jardin"),
      (4L, "der hund und die katze sind nicht in der stadt mit den kindern"),
      (5L, "这是一个中文句子 with some latin")
    ).toDF("id", "text")
      .select(col("id"), TextFunctions.langId(col("text")).as("lang"))
    val out = df.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("lang")).toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "fr", 4L -> "de", 5L -> "zh"))
  }

  test("quality score stays in [0,1] and penalizes degenerate docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "a normal sentence with the usual words and a few of them repeated"),
      (2L, "x y"), // too short
      (3L, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz q") // weird token lengths
    ).toDF("id", "text")
      .select(col("id"), TextFunctions.qualityScore(col("text")).as("q"))
    val q = df.collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("q")).toMap
    assert(q.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(1L) > q(2L) && q(1L) > q(3L))
  }

  // ---------------------------------------------------------- similarity

  // 3 tight clusters around orthogonal one-hot directions, dim 8
  private lazy val vectors: DataFrame = {
    import spark.implicits._
    def v(axis: Int, wiggle: Float): Seq[Float] =
      (0 until 8).map(i => if (i == axis) 1.0f else wiggle)
    Seq(
      (0L, v(0, 0.01f), 0), (1L, v(0, 0.02f), 0), (2L, v(0, 0.03f), 0),
      (10L, v(3, 0.01f), 1), (11L, v(3, 0.02f), 1), (12L, v(3, 0.03f), 1),
      (20L, v(6, 0.01f), 2), (21L, v(6, 0.02f), 2), (22L, v(6, 0.03f), 2)
    ).toDF("vec_id", "embedding", "label")
  }

  test("brute-force top-k returns same-cluster neighbors first") {
    val queries = vectors.filter(col("vec_id").isin(0L, 10L, 20L))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val out = Similarity.bruteForceTopK(vectors, "vec_id", "embedding", queries,
      "query_id", "query_vec", k = 2).collect()
    assert(out.length == 6)
    val top1 = out.filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    assert(top1(0L) == 1L && top1(10L) == 11L && top1(20L) == 21L)
  }

  test("lsh top-k buckets preserve same-cluster top-1 on separable data") {
    val queries = vectors.filter(col("vec_id").isin(0L, 10L, 20L))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val out = Similarity.lshTopK(vectors, "vec_id", "embedding", queries,
      "query_id", "query_vec", dim = 8, k = 2, nbits = 2).collect()
    // every returned neighbor must share the query's cluster (same decade)
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[Long]("neighbor_id") / 10 == r.getAs[Long]("query_id") / 10))
  }

  test("ivf assignment maps every vector to its own cluster centroid") {
    val centroids = vectors.filter(col("vec_id").isin(0L, 10L, 20L))
      .select((col("vec_id") / 10).cast("int").as("cell_id"), col("embedding").as("centroid_vec"))
    val out = Similarity.ivfAssign(vectors, "vec_id", "embedding", centroids, "cell_id", "centroid_vec")
      .collect()
    assert(out.length == 9)
    assert(out.forall(r => r.getAs[Int]("cell") == (r.getAs[Long]("vec_id") / 10).toInt))
  }

  test("semanticDedup groups within-cell near-dups and keeps the farthest-from-centroid member") {
    import spark.implicits._
    // two well-separated clusters; each contains one near-dup pair plus one
    // distinct member. The keep rule must elect the pair member with the
    // LOWER centroid cosine (the SemDeDup outlier-keeps rule), not min id.
    val vecs = Seq(
      (1L, Seq(1.0f, 0f, 0f, 0f)),        // cluster A, dup pair with 2
      (2L, Seq(0.99f, 0.1f, 0f, 0f)),     //   cos(1,2) ≈ 0.995
      (3L, Seq(0.8f, 0.6f, 0f, 0f)),      //   distinct member of A
      (4L, Seq(0f, 0f, 1.0f, 0f)),        // cluster B, dup pair with 5
      (5L, Seq(0f, 0f, 0.98f, 0.15f)),    //   cos(4,5) ≈ 0.989
      (6L, Seq(0f, 0f, 0.6f, 0.8f))       //   distinct member of B
    ).toDF("vec_id", "embedding")
    val centroids = Seq(
      (0L, Seq(1.0f, 0f, 0f, 0f)),
      (1L, Seq(0f, 0f, 1.0f, 0f))
    ).toDF("cell", "cvec")
    val out = Dedup.semanticDedup(vecs, "vec_id", "embedding",
        centroids, "cell", "cvec", threshold = 0.95)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("cell"), r.getAs[Long]("component"), r.getAs[Long]("keep")))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L), "one verdict row per document")
    assert(Seq(1L, 2L, 3L).forall(out(_)._1 == 0L) && Seq(4L, 5L, 6L).forall(out(_)._1 == 1L))
    assert(out(1L)._2 == 1L && out(2L)._2 == 1L, "near-dup pair shares the min-id component")
    assert(out(4L)._2 == 4L && out(5L)._2 == 4L)
    assert(out(3L)._2 == 3L && out(6L)._2 == 6L, "distinct members are singleton components")
    // keep rule: 2 is farther from centroid A than 1 (0.995 < 1.0) → keep 2;
    // 5 is farther from centroid B than 4 → keep 5; singletons keep themselves
    assert(out(1L)._3 == 0L && out(2L)._3 == 1L, s"paper rule keeps the outlier: $out")
    assert(out(4L)._3 == 0L && out(5L)._3 == 1L)
    assert(out(3L)._3 == 1L && out(6L)._3 == 1L)
  }

  test("semanticDedup cell cap splits a dense mass yet still collapses it to one keeper") {
    import spark.implicits._
    // THE skew case the cap exists for: 40 near-identical vectors in one
    // cell (a spam mass), maxCellSize = 8 → 5 salted sub-cells. Cross-sub
    // pairs between non-representatives are dropped, but every sub-cell's
    // min-id representative pairs against the others' (the boundary band)
    // at cosine ≈ 1 — so the whole mass must still connect into ONE
    // component with ONE keeper, exactly as the uncapped semantics give.
    val mass = (1L to 40L).map(i => (i, Seq(1.0f, (i / 1e6).toFloat, 0f, 0f)))
    val lone = Seq((99L, Seq(0f, 0f, 1.0f, 0f)))
    val vecs = (mass ++ lone).toDF("vec_id", "embedding")
    val centroids = Seq(
      (0L, Seq(1.0f, 0f, 0f, 0f)),
      (1L, Seq(0f, 0f, 1.0f, 0f))).toDF("cell", "cvec")
    val capped = Dedup.semanticDedup(vecs, "vec_id", "embedding",
        centroids, "cell", "cvec", threshold = 0.99, maxCellSize = 8L)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("component"), r.getAs[Long]("keep")))).toMap
    assert((1L to 40L).forall(capped(_)._1 == 1L),
      s"the band must reconnect every sub-cell into the min-id component: $capped")
    assert((1L to 40L).count(capped(_)._2 == 1L) == 1,
      "exactly one representative survives the mass")
    assert(capped(99L) == ((99L, 1L)), "the other cell's singleton keeps itself")
    // and the capped verdict matches the exact one bit-for-bit here
    val exact = Dedup.semanticDedup(vecs, "vec_id", "embedding",
        centroids, "cell", "cvec", threshold = 0.99, maxCellSize = Dedup.Exact)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("component"), r.getAs[Long]("keep")))).toMap
    assert(capped == exact, "identical-mass cap must reproduce exact semantics")
  }

  test("semanticDedupIncremental matches batch docs against the store and NULLs new ones") {
    import spark.implicits._
    val store = Seq(
      (1L, Seq(1.0f, 0f, 0f, 0f)),
      (2L, Seq(0.8f, 0.6f, 0f, 0f)),
      (3L, Seq(0f, 0f, 1.0f, 0f))).toDF("vec_id", "embedding")
    val batch = Seq(
      (11L, Seq(0.995f, 0.0998f, 0f, 0f)), // dup of 1 (cos ≈ 0.995)
      (12L, Seq(0f, 1.0f, 0f, 0f)),        // semantically new
      (13L, Seq(0f, 0f, 0.98f, 0.15f))     // dup of 3 (cos ≈ 0.989)
    ).toDF("vec_id", "embedding")
    val centroids = Seq(
      (0L, Seq(1.0f, 0f, 0f, 0f)),
      (1L, Seq(0f, 0f, 1.0f, 0f))).toDF("cell", "cvec")
    val out = Dedup.semanticDedupIncremental(store, batch, "vec_id", "embedding",
        centroids, "cell", "cvec", threshold = 0.95)
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[java.lang.Long]("matched_id")).map(_.toLong)).toMap
    assert(out.keySet == Set(11L, 12L, 13L), "one verdict row per batch doc")
    assert(out(11L) == Some(1L), s"11 is a store-1 duplicate: $out")
    assert(out(12L) == None, s"12 is semantically new: $out")
    assert(out(13L) == Some(3L), s"13 is a store-3 duplicate: $out")
  }

  test("semanticDedupIncremental cap keeps the most central store members; misses are one-sided") {
    import spark.implicits._
    // store cell 0 holds a central doc (1) and an outlier (2); batch doc 14
    // duplicates the OUTLIER. maxCellStore = 1 retains only the central
    // member as a candidate, so the match is missed — reported new, never
    // wrongly matched (one-sided approximation); Exact finds it.
    val store = Seq(
      (1L, Seq(1.0f, 0f, 0f, 0f)),
      (2L, Seq(0.8f, 0.6f, 0f, 0f)),
      (3L, Seq(0f, 0f, 1.0f, 0f))).toDF("vec_id", "embedding")
    val batch = Seq(
      (11L, Seq(0.995f, 0.0998f, 0f, 0f)),
      (14L, Seq(0.79f, 0.61f, 0f, 0f))).toDF("vec_id", "embedding")
    val centroids = Seq(
      (0L, Seq(1.0f, 0f, 0f, 0f)),
      (1L, Seq(0f, 0f, 1.0f, 0f))).toDF("cell", "cvec")
    def run(cap: Long) = Dedup.semanticDedupIncremental(store, batch,
        "vec_id", "embedding", centroids, "cell", "cvec", threshold = 0.95,
        maxCellStore = cap)
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[java.lang.Long]("matched_id")).map(_.toLong)).toMap
    val exact = run(Dedup.Exact)
    assert(exact == Map(11L -> Some(1L), 14L -> Some(2L)), s"exact: $exact")
    val capped = run(1L)
    assert(capped == Map(11L -> Some(1L), 14L -> None),
      s"cap keeps the central store member, so the outlier match is missed one-sidedly: $capped")
    // an engaging-but-large-enough cap reproduces exact verdicts
    assert(run(2L) == exact, "cap above every cell population = exact semantics")
  }

  test("d4Select dedups first, then prunes the most prototypical survivors per cell") {
    import spark.implicits._
    // cell A: dup pair (1,2) + distinct members 3, 4; cell B: singleton 9.
    // SemDeDup keeps the outlier of the pair (2); survivors of A are
    // {2 (cent_cos≈0.995), 3 (≈0.902), 4 (=0.7)} → dropPct=34 gives quota
    // 3*34 div 100 = 1, pruning exactly the MOST prototypical survivor (2).
    val vecs = Seq(
      (1L, Seq(1.0f, 0f, 0f, 0f)),
      (2L, Seq(0.995f, 0.0998f, 0f, 0f)),
      (3L, Seq(0.9f, 0.43f, 0f, 0f)),
      (4L, Seq(0.7f, 0.714f, 0f, 0f)),
      (9L, Seq(0f, 0f, 1.0f, 0f))).toDF("vec_id", "embedding")
    val centroids = Seq(
      (0L, Seq(1.0f, 0f, 0f, 0f)),
      (1L, Seq(0f, 0f, 1.0f, 0f))).toDF("cell", "cvec")
    val out = Dedup.d4Select(vecs, "vec_id", "embedding", centroids, "cell", "cvec",
        threshold = 0.95, dropPct = 34)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("sem_keep"), Option(r.getAs[java.lang.Long]("proto_rank")).map(_.toLong),
          r.getAs[Boolean]("keep")))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 9L), "one verdict row per input doc")
    assert(out(1L) == ((0L, None, false)), s"sem-dropped doc never ranks: $out")
    assert(out(2L) == ((1L, Some(1L), false)), s"most prototypical survivor pruned: $out")
    assert(out(3L) == ((1L, Some(2L), true)) && out(4L) == ((1L, Some(3L), true)), s"$out")
    assert(out(9L) == ((1L, Some(1L), true)), "singleton cell: quota 1*34 div 100 = 0 keeps it")
  }

  test("knnGraph ranks exact within-cell neighbors; the cap restricts candidates one-sidedly") {
    import spark.implicits._
    // cell A members 1, 2, 3 (cent_cos 1.0, ≈0.995, 0.8); cell B singleton 4
    val vecs = Seq(
      (1L, Seq(1.0f, 0f, 0f, 0f)),
      (2L, Seq(0.99f, 0.1f, 0f, 0f)),
      (3L, Seq(0.8f, 0.6f, 0f, 0f)),
      (4L, Seq(0f, 0f, 1.0f, 0f))).toDF("vec_id", "embedding")
    val centroids = Seq(
      (0L, Seq(1.0f, 0f, 0f, 0f)),
      (1L, Seq(0f, 0f, 1.0f, 0f))).toDF("cell", "cvec")
    def run(cap: Long): Map[Long, Seq[Long]] =
      Similarity.knnGraph(vecs, "vec_id", "embedding", centroids, "cell", "cvec",
          k = 2, maxCellNeighbors = cap)
        .orderBy("id", "rank").collect()
        .groupBy(_.getAs[Long]("id"))
        .view.mapValues(_.toSeq.map(_.getAs[Long]("neighbor_id"))).toMap
    val exact = run(Dedup.Exact)
    // cos(1,2)≈0.995 > cos(1,3)=0.8; cos(2,3)≈0.856; singleton 4 emits no rows
    assert(exact == Map(1L -> Seq(2L, 3L), 2L -> Seq(1L, 3L), 3L -> Seq(2L, 1L)), s"$exact")
    // cap=1: only the most central member (1) survives as a candidate —
    // doc 1 loses all candidates (self excluded), 2 and 3 see only 1
    val capped = run(1L)
    assert(capped == Map(2L -> Seq(1L), 3L -> Seq(1L)),
      s"one-sided: neighbors can be missed, never invented: $capped")
    // an engaging-but-large-enough cap reproduces the exact graph
    assert(run(3L) == exact)
  }

  test("corpusReport profiles per source with cross-source exact-dup counting") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b", "en", "s1"),
      (2L, "a b", "fr", "s2"),          // cross-source dup of 1
      (3L, "c", "en", "s1"),
      (4L, null, "en", "s2"),           // NULL text ≡ "" after coalesce
      (5L, "", "de", "s2")              // dup pair with 4
    ).toDF("doc_id", "text", "lang", "source")
    val out = Corpus.corpusReport(docs, "doc_id", "text", "source", "lang")
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"), r.getAs[Long]("n_chars"),
          r.getAs[Long]("n_langs"), r.getAs[Long]("n_exact_dup_docs"),
          r.getAs[Double]("dup_frac")))).toMap
    // "" splits to one empty token — the text_tokencount convention
    assert(out("s1") == ((2L, 3L, 4L, 1L, 1L, 0.5)), s"$out")
    assert(out("s2") == ((3L, 4L, 3L, 3L, 3L, 1.0)), s"$out")
  }

  test("selectTokenBudget selects the greedy best-first prefix within the token budget") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Seq(
      (1L, 0.9, 10L), (2L, 0.9, 10L), (3L, 0.9, 10L), // bin 900: 30 tokens
      (4L, 0.7, 10L), (5L, 0.7, 10L),                 // bin 700: 20 tokens
      (6L, 0.5, 1L)                                   // bin 500: 1 token
    ).toDF("doc_id", "s", "toks")
    val out = Corpus.selectTokenBudget(docs, "doc_id", "s", "toks", budget = 45L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("selected")).toMap
    // bin 900 fits whole (cum 30); bin 700 is the boundary (remaining 15):
    // id 4 (cum 10 ≤ 15) in, id 5 (cum 20) out; bin 500 is past the
    // boundary — greedy prefix, NOT knapsack: doc 6's single token does
    // not back-fill even though 45 − 40 ≥ 1
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 0L, 6L -> 0L), s"$out")
    // the defining equivalence: identical to the running-total window over
    // the (bin DESC, id ASC) order — the oracle's form
    val w = Window.orderBy(col("bin").desc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = Corpus.selectTokenBudget(docs, "doc_id", "s", "toks", budget = Long.MaxValue)
      .withColumn("ref_sel", (sum(col("n_tokens")).over(w) <= 45L).cast("long"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("ref_sel")).toMap
    assert(out == ref, s"histogram/boundary machinery must equal the window form: $out vs $ref")
    // edges: zero budget selects nothing; a covering budget selects everything
    val zero = Corpus.selectTokenBudget(docs, "doc_id", "s", "toks", budget = 0L)
      .collect().map(_.getAs[Long]("selected")).toSeq
    assert(zero.forall(_ == 0L))
    val all = Corpus.selectTokenBudget(docs, "doc_id", "s", "toks", budget = 51L)
      .collect().map(_.getAs[Long]("selected")).toSeq
    assert(all.forall(_ == 1L))
  }

  test("selectTokenBudget tied-score guard: id-range refinement is verdict-identical") {
    import spark.implicits._
    // THE hazard case: every row shares one score → the whole corpus is
    // the boundary bin at any binWidthMicro. With idBins forced tiny the
    // id-range walk engages (full buckets + one boundary bucket); the
    // verdicts must be bit-identical to the direct prefix at every budget
    val tied = (1L to 100L).map(i => (i, 0.5, (i % 7) + 1L)).toDF("doc_id", "s", "toks")
    val direct = tied.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .scanLeft((0L, 0L)) { case ((_, cum), (id, t)) => (id, cum + t) }.drop(1).toMap
    for (budget <- Seq(0L, 37L, 200L, 1000L); bins <- Seq(1, 3, 4096)) {
      val got = Corpus.selectTokenBudget(tied, "doc_id", "s", "toks",
          budget = budget, idBins = bins)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("selected")).toMap
      val want = direct.map { case (id, cum) => id -> (if (cum <= budget) 1L else 0L) }
      assert(got == want, s"budget=$budget idBins=$bins: $got")
    }
    // sparse, shifted, un-ordered ids exercise the span arithmetic
    val sparse = Seq((1000000007L, 0.5, 5L), (-50L, 0.5, 5L), (12L, 0.5, 5L))
      .toDF("doc_id", "s", "toks")
    val g = Corpus.selectTokenBudget(sparse, "doc_id", "s", "toks", budget = 10L, idBins = 2)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("selected")).toMap
    assert(g == Map(-50L -> 1L, 12L -> 1L, 1000000007L -> 0L), s"$g")
  }

  test("selectTokenBudgetBy budgets each group independently, NULL group included") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Seq(
      (1L, "en", 0.9, 10L), (2L, "en", 0.9, 10L), (3L, "en", 0.5, 10L),
      (4L, "fr", 0.9, 15L), (5L, "fr", 0.7, 10L),
      (6L, null.asInstanceOf[String], 0.9, 10L),
      (7L, null.asInstanceOf[String], 0.8, 20L)
    ).toDF("doc_id", "grp", "s", "toks")
    val out = Corpus.selectTokenBudgetBy(docs, "grp", "doc_id", "s", "toks", budget = 20L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("selected")).toMap
    // en: bin 900 (20 toks) fits whole, bin 500 past the exhausted budget;
    // fr: bin 900 (15) fits, bin 700 boundary with remaining 5 < 10 → out;
    // NULL group budgets among itself: 10 fits, 20 would overflow
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 0L, 4L -> 1L, 5L -> 0L,
      6L -> 1L, 7L -> 0L), s"$out")
    // the defining equivalence: the group-partitioned running-total window
    val w = Window.partitionBy(col("group")).orderBy(col("bin").desc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = Corpus.selectTokenBudgetBy(docs, "grp", "doc_id", "s", "toks",
        budget = Long.MaxValue)
      .withColumn("ref_sel", (sum(col("n_tokens")).over(w) <= 20L).cast("long"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("ref_sel")).toMap
    assert(out == ref, s"per-group machinery must equal the window form: $out vs $ref")
    // a group literally named "null" must not collide with the NULL group
    val named = Seq((1L, "null", 0.9, 10L), (2L, null.asInstanceOf[String], 0.9, 10L))
      .toDF("doc_id", "grp", "s", "toks")
    val nOut = Corpus.selectTokenBudgetBy(named, "grp", "doc_id", "s", "toks", budget = 10L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("selected")).toMap
    assert(nOut == Map(1L -> 1L, 2L -> 1L), s"independent budgets: $nOut")
  }

  test("softQualitySample: deterministic id-hash coin, clamped score-proportional keep probability") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, (i % 100) / 100.0)).toDF("doc_id", "s")
    def run(salt: String) = Corpus.softQualitySample(docs, "doc_id", "s",
        tau = 0.5, saltKey = salt)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Double]("keep_prob"), r.getAs[Long]("selected")))).toMap
    val a = run("softsample")
    // clamp: score ≥ τ ⇒ keep_prob exactly 1 and always selected (u < 1)
    val high = (1L to 200L).filter(i => (i % 100) / 100.0 >= 0.5)
    assert(high.forall(i => a(i) == ((1.0, 1L))), "at/above τ every doc is kept")
    // proportionality: keep_prob = score/τ below the clamp
    assert(a(25L)._1 == 0.5 && a(125L)._1 == 0.5, s"score 0.25 / τ 0.5: ${a(25L)}")
    assert(a(100L) == ((0.0, 0L)), "score 0 is never kept")
    // determinism: the coin is a pure function of (id, salt)
    assert(run("softsample") == a, "re-run must be bit-identical")
    // the sampled fraction tracks the keep probability (coarse sanity)
    val lowSel = (1L to 200L).filter(i => { val s = (i % 100) / 100.0; s > 0 && s < 0.25 })
      .count(i => a(i)._2 == 1L).toDouble
    val midSel = (1L to 200L).filter(i => { val s = (i % 100) / 100.0; s >= 0.25 && s < 0.5 })
      .count(i => a(i)._2 == 1L).toDouble
    assert(lowSel < midSel, s"higher scores keep more: $lowSel vs $midSel")
  }

  test("ivf top-k with nprobe=1 matches brute force on separable clusters") {
    val centroids = vectors.filter(col("vec_id").isin(0L, 10L, 20L))
      .select((col("vec_id") / 10).cast("int").as("cell_id"), col("embedding").as("centroid_vec"))
    val queries = vectors.filter(col("vec_id").isin(1L, 11L, 21L))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val ivf = Similarity.ivfTopK(vectors, "vec_id", "embedding",
      centroids, "cell_id", "centroid_vec", queries, "query_id", "query_vec", k = 2, nprobe = 1)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) -> r.getAs[Long]("neighbor_id")).toMap
    // clusters are tight and separable: probing one cell finds the true top-2
    val brute = Similarity.bruteForceTopK(vectors, "vec_id", "embedding",
      queries, "query_id", "query_vec", k = 2)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) -> r.getAs[Long]("neighbor_id")).toMap
    assert(ivf == brute)
  }

  test("cosine HOF matches a hand-computed value") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 0.0f, 1.0f), Seq(1.0f, 1.0f, 0.0f))).toDF("a", "b")
    val got = df.select(VectorFunctions.cosine(col("a"), col("b")).as("c")).head().getDouble(0)
    assert(math.abs(got - 0.5) < 1e-12) // dot=1, norms=sqrt2*sqrt2=2
  }

  test("assembleCorpus attributes every input doc to its first failing stage; lineage + pk flow") {
    import graft.operators.PipelineSyntax._
    import spark.implicits._
    val longA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val corpus = Seq(
      (1L, longA, "s0", "en"),                                     // survivor (canonical of {1,2})
      (2L, longA, "s0", "en"),                                     // exact dup of 1 → "duplicate"
      (3L, "mike november oscar papa ZE YA XR WH quebec romeo sierra tango", "s2", "en"), // shares a benchmark shingle → "contaminated"
      (4L, "uno dos tres cuatro cinco seis siete ocho nueve diez", "s1", "en"),
      (5L, "eins zwei drei vier funf sechs sieben acht neun zehn", "s1", "en"),
      (6L, "un deux trois quatre cinq six sept huit neuf dix", "s1", "en"),  // s1 capped at 2 → one drops
      (7L, "too short", "s3", "en")                                 // fails minTokens=3 → "quality"
    ).toDF("doc_id", "text", "source", "lang")
    val bench = Seq((100L, "ZE YA XR WH victor uniform", "eval", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val mf = MetaFrame(corpus, Map("corpus" -> "unit"))
      .dropDuplicates(Seq("doc_id")) // prove + verify the parent key
    val out = mf.assembleCorpus(MetaFrame(bench), "doc_id", "text", "source", "lang",
      minTokens = 3L, capPerSource = 2)
    val rows = out.df.collect()
      .map(r => r.getLong(0) -> (Option(r.get(4)).map(_.toString), r.getBoolean(5))).toMap
    assert(rows.size == 7, "one audit row per input doc")
    assert(rows(7L)._1.contains("quality"))
    assert(rows(2L)._1.contains("duplicate") && rows(1L)._1.isEmpty,
      s"smallest id of the dup cluster survives: $rows")
    assert(rows(3L)._1.contains("contaminated"))
    assert(Seq(4L, 5L, 6L).count(rows(_)._1.contains("capped")) == 1 &&
      Seq(4L, 5L, 6L).count(rows(_)._2) == 2, s"cap=2 keeps two of three s1 docs: $rows")
    assert(rows(1L)._2 && !rows(2L)._2)
    // survivors carry split + shard; dropped docs carry neither
    val bySplit = out.df.collect().map(r => r.getLong(0) -> (Option(r.get(6)), Option(r.get(7)))).toMap
    assert(bySplit(1L)._1.exists(s => Set("train", "val", "test")(s.toString)) && bySplit(1L)._2.isDefined)
    assert(bySplit(2L)._1.isEmpty && bySplit(2L)._2.isEmpty)
    // metadata layer: parent metadata + one lineage entry + pk carried to "id"
    assert(out.metadata("corpus") == "unit")
    val lineage = out.metadata("lineage").asInstanceOf[Seq[Map[String, Any]]]
    assert(lineage.map(_("op")) == Seq("corpus_assembly"))
    assert(lineage.head("params").asInstanceOf[Map[String, Any]]("capPerSource") == 2)
    assert(out.primaryKey.contains(Seq("id")))
    // pk is PROVEN (parent verified + one-row-per-doc op) → distinct() elides
    assert(out.distinct().df eq out.df)
  }

  test("PipelineSyntax: provenance lineage + pk on metadata-aware extensions") {
    import graft.operators.PipelineSyntax._
    val mf = MetaFrame(docs, Map("corpus" -> "unit"))
    val exact = mf.dedupExact("doc_id", "text")
    assert(exact.primaryKey.contains(Seq("content_hash")))
    assert(exact.metadata("corpus") == "unit")
    val lineage = exact.metadata("lineage").asInstanceOf[Seq[Map[String, Any]]]
    assert(lineage.map(_("op")) == Seq("dedup_exact"))
    // pk is PROVEN unique → distinct() elides
    assert(exact.distinct().df eq exact.df)
    // chaining extends the lineage (annotate first: dedup output drops text)
    val annotated = mf.annotateText("text")
    assert(annotated.columns.contains("quality"))
    val chained = annotated.dedupMinHash("doc_id", "text")
    assert(chained.metadata("lineage").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("op")) == Seq("annotate_text", "dedup_minhash_lsh"))
    assert(chained.primaryKey.contains(Seq("doc_id")))
    // incremental dedup records lineage and proves one row per batch id
    import spark.implicits._
    val batch = MetaFrame(
      Seq((20L, "the quick brown fox jumps over the lazy dog near the quiet river bank today"))
        .toDF("doc_id", "text"), Map.empty).dropDuplicates(Seq("doc_id"))
    val inc = batch.dedupIncremental(mf, "doc_id", "text")
    assert(inc.metadata("lineage").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("op")) == Seq("dedup_incremental"))
    assert(inc.primaryKey.contains(Seq("id")))
    assert(inc.dropDuplicates(Seq("id")).df eq inc.df) // proof survives
  }

  test("PipelineSyntax: corpus-assembly ops record lineage and pk semantics") {
    import graft.operators.PipelineSyntax._
    val mf = MetaFrame(docs, Map("corpus" -> "unit")).dropDuplicates(Seq("doc_id")) // verified pk
    // hashSplit is row-preserving: pk survives verified, lineage extends
    val split = mf.splitByHash("doc_id", "s1")
    assert(split.primaryKey.contains(Seq("doc_id")))
    assert(split.dropDuplicates(Seq("doc_id")).df eq split.df, "verified pk must still elide")
    assert(split.metadata("lineage").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("op")) == Seq("split_hash"))
    // decontaminate keys the result by id (pk set + verified)
    val bench = MetaFrame(docs.filter(col("doc_id") === 1L), Map.empty[String, Any])
    val decon = mf.decontaminateAgainst(bench, "doc_id", "text")
    assert(decon.primaryKey.contains(Seq("id")))
    assert(decon.dropDuplicates(Seq("id")).df eq decon.df)
    // capPerGroup is a row subset: pk survives verified
    val capped = split.capPerGroup("split", "bucket", "doc_id", cap = 2)
    assert(capped.primaryKey.contains(Seq("doc_id")))
    assert(capped.dropDuplicates(Seq("doc_id")).df eq capped.df)
    assert(capped.metadata("lineage").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("op")) == Seq("split_hash", "cap_per_group"))
    // lmScore keys the result by id (one row per corpus row)
    val lm = mf.lmScore("doc_id", "text")
    assert(lm.primaryKey.contains(Seq("id")))
    assert(lm.dropDuplicates(Seq("id")).df eq lm.df)
    assert(lm.metadata("lineage").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("op")) == Seq("lm_score"))
    // tfidfTopTerms expands rows: keyed by (id, rank), proven by construction
    val tfidf = mf.tfidfTopTerms("doc_id", "text", k = 2)
    assert(tfidf.primaryKey.contains(Seq("id", "rank")))
    assert(tfidf.dropDuplicates(Seq("id", "rank")).df eq tfidf.df)
    // an unkeyed parent yields no id claim; (id, rank) needs no parent key
    val unkeyed = MetaFrame(docs, Map.empty[String, Any])
    assert(unkeyed.lmScore("doc_id", "text").primaryKey.isEmpty)
    assert(unkeyed.tfidfTopTerms("doc_id", "text").primaryKey.contains(Seq("id", "rank")))
  }

  test("PipelineSyntax: as-of and range joins record lineage and pk semantics") {
    import graft.operators.PipelineSyntax._
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val left = MetaFrame(Seq(("a", ts(10L)), ("b", ts(20L))).toDF("k", "lts"), Map("job" -> "j1"))
      .dropDuplicates(Seq("k")) // verified pk on k
    val right = MetaFrame(Seq(("a", ts(5L), 1.0)).toDF("k", "rts", "px"), Map.empty[String, Any])
    val joined = left.asOfJoinBackward(right, "k", "lts", "rts", Seq("px"))
    assert(joined.metadata("job") == "j1")
    assert(joined.metadata("lineage").asInstanceOf[Seq[Map[String, Any]]].map(_("op")) ==
      Seq("join_asof_backward"))
    assert(joined.primaryKey.contains(Seq("k")))
    // as-of is row-preserving on the left → elision proof survives
    assert(joined.dropDuplicates(Seq("k")).df eq joined.df)

    val points = MetaFrame(Seq(1.0, 5.0).toDF("p"), Map("job" -> "j2"))
    val intervals = MetaFrame(Seq((0.0, 2.0)).toDF("lo", "hi"), Map.empty[String, Any])
    val rj = points.rangeJoinPointInInterval(intervals, "p", "lo", "hi", binWidth = 1.0)
    assert(rj.count() == 1)
    assert(rj.primaryKey.isEmpty)
    assert(rj.metadata("lineage").asInstanceOf[Seq[Map[String, Any]]].map(_("op")) ==
      Seq("join_range_binned"))
  }

  test("PipelineSyntax: tfidf and packing keys hold on duplicate-id input without a parent key") {
    import graft.operators.PipelineSyntax._
    // doc 1 twice, with different texts: still one row per (id, rank) and
    // one row per fragment position
    val dup = MetaFrame(docs.union(docs.filter(col("doc_id") === 1L)
      .withColumn("text", concat(col("text"), lit(" extra")))), Map.empty)
    val tfidf = dup.tfidfTopTerms("doc_id", "text", k = 2)
    assert(tfidf.primaryKey.contains(Seq("id", "rank")))
    assert(tfidf.dropDuplicates(Seq("id", "rank")).df eq tfidf.df)
    assert(tfidf.df.count() == 10 && tfidf.df.dropDuplicates("id", "rank").count() == 10)
    // sharded by id, so both copies of doc 1 pack into one shard
    val packed = dup.packedSequences("doc_id", "text", seqLen = 16, shardCol = "doc_id")
    val key = Seq("shard", "seq_id", "start_in_seq")
    assert(packed.primaryKey.contains(key) && (packed.dropDuplicates(key).df eq packed.df))
    assert(packed.df.count() == packed.df.dropDuplicates(key).count())
  }

  test("logisticTrained on a frame with no labeled row is the empty model") {
    import graft.operators.PipelineSyntax._
    import spark.implicits._
    val noLabels = MetaFrame(Seq((1L, "a b", Option.empty[Long])).toDF("doc_id", "text", "label"))
    val model = noLabels.logisticTrained("doc_id", "text", "label", dim = 16, iters = 2)
    assert(model.primaryKey.contains(Seq("f")))
    assert(model.df.count() == 0)
    val scored = noLabels.logisticScored(model, "doc_id", "text", dim = 16)
    assert(scored.df.select("score_micro").as[Long].collect().toSeq == Seq(500000L))
  }

  test("int8 quantization: bounded cosine error and high top-10 recall on real embeddings") {
    import graft.functions.VectorFunctions.{cosine, cosineInt8, quantizeInt8}
    import graft.sources.Tables
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 120)
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val pairs = a.join(b, col("id_a") < col("id_b"))
      .select(
        cosine(col("va"), col("vb")).as("exact"),
        cosineInt8(quantizeInt8(col("va")), quantizeInt8(col("vb"))).as("approx"))
    // int8 at 64 dims keeps cosine within ~1.5e-2 of float — the documented
    // compression error; a regression in scale/rounding blows way past this
    val maxErr = pairs.agg(max(abs(col("exact") - col("approx")))).head().getDouble(0)
    assert(maxErr < 0.015, s"max |cos - cos_q| = $maxErr")
    // ranking survives compression: quantized top-10 recalls >=8 of the
    // exact top-10 for every probe query
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exactTop = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "query_id", "query_vec", k = 10)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("ex"))
    val qTop = Similarity.quantizedTopK(emb, "vec_id", "embedding",
        queries, "query_id", "query_vec", k = 10)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val recalls = exactTop.join(qTop, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id").agg(coalesce(sum(col("hit")), lit(0L)).as("n"))
      .collect().map(_.getLong(1))
    assert(recalls.nonEmpty && recalls.forall(_ >= 8L), recalls.mkString(","))
  }

  test("PQ shortlist + exact rerank recovers most of the exact cosine top-10") {
    import graft.sources.Tables
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val cb = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 8, iters = 2)
    val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "query_id", "query_vec", k = 10)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("ex"))
    val rr = Similarity.pqTopKReranked(emb, "vec_id", "embedding", cb,
        dim = 64, m = 8, ksub = 8, queries, "query_id", "query_vec",
        k = 10, shortlist = 100)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    // the ADC shortlist governs recall: even this COARSE codebook
    // (ksub=8/subspace — the oracle-tractable config) recovers >=7 of the
    // exact cosine top-10 per query once the exact rerank reorders the
    // 100-candidate shortlist; the raw ADC ranking alone recalls 2-4
    // (pinned in the measured band: deterministic training, so these
    // values are stable, not flaky)
    val recalls = truth.join(rr, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id").agg(coalesce(sum(col("hit")), lit(0L)).as("n"))
      .collect().map(_.getLong(1))
    assert(recalls.length == 5 && recalls.forall(_ >= 7L), recalls.mkString(","))
  }

  test("OPQ trained rotation: orthogonal, deterministic, cuts PQ reconstruction error on a skewed corpus") {
    import graft.sources.Tables
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    // the OPQ failure mode: first subspace's coordinates hoard the variance
    val skewed = emb.select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i < 8, x * lit(4.0f)).otherwise(x * lit(0.5f)).cast("float"))
        .as("embedding")).cache()
    val r = Similarity.trainOpqRotation(skewed, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 8, opqIters = 2, pqIters = 1)
    // RᵀR = I to float tolerance (R is double-orthogonal, float-rounded)
    val maxDev = (0 until 64).flatMap(i => (i until 64).map { j =>
      val d = (0 until 64).map(k => r(k)(i).toDouble * r(k)(j).toDouble).sum
      math.abs(d - (if (i == j) 1.0 else 0.0))
    }).max
    assert(maxDev < 1e-4, s"orthogonality deviation $maxDev")
    // deterministic: retraining reproduces the identical matrix (integer
    // correlation sums are partitioning-independent; Jacobi sweep is fixed)
    val r2 = Similarity.trainOpqRotation(skewed, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 8, opqIters = 2, pqIters = 1)
    assert(r == r2)
    // the point of the exercise: mean squared PQ reconstruction error in
    // the learned space is below the raw space's at the same budget
    def reconErr(c: org.apache.spark.sql.DataFrame): Double = {
      val cb = Similarity.trainPqCodebooks(c, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 8, iters = 1)
      c.crossJoin(broadcast(Similarity.pqCodebookArray(cb)))
        .select(col("embedding"),
          Similarity.pqCodesLocal(col("embedding"), 8, 8).as("codes"), col("__cb"))
        .select(aggregate(
          zip_with(col("embedding"),
            flatten(transform(sequence(lit(0), lit(7)), s =>
              element_at(col("__cb"), s * 8 + element_at(col("codes"), s + 1) + 1)
                .getField("cvec"))),
            (a, b) => (a.cast("double") - b.cast("double")) *
              (a.cast("double") - b.cast("double"))),
          lit(0.0), (acc, v) => acc + v).as("se"))
        .agg(avg(col("se"))).head().getDouble(0)
    }
    val rotated = skewed.select(col("vec_id"),
      Similarity.applyRotation(col("embedding"), r).as("embedding"))
    val errRaw = reconErr(skewed)
    val errRot = reconErr(rotated)
    assert(errRot < errRaw, s"OPQ must cut recon error: raw=$errRaw rotated=$errRot")
  }

  test("dsirSelect picks the target-lookalike docs, exactly k of them, deterministically") {
    import spark.implicits._
    import graft.operators.Corpus
    val target = (1L to 20L)
      .map(i => (i, "alpha beta gamma delta epsilon alpha beta gamma delta epsilon alpha beta"))
      .toDF("doc_id", "text")
    // 10 lookalikes share the target vocabulary; 20 outliers share none —
    // the weight gap dwarfs the Gumbel span (±~14.5 log-units), so the
    // resampled set is exactly the lookalikes
    val raw = (
      (100L to 109L).map(i => (i, "alpha beta gamma delta epsilon alpha beta gamma delta epsilon")) ++
      (200L to 219L).map(i => (i, s"unrelated spam page $i click here buy now cheap deals online today"))
    ).toDF("doc_id", "text")
    val out = Corpus.dsirSelect(raw, target, "doc_id", "text", k = 10).cache()
    val sel = out.filter(col("selected")).select("id").collect().map(_.getLong(0)).toSet
    assert(sel == (100L to 109L).toSet, s"selected $sel")
    assert(out.count() == 30, "one row per raw-pool doc")
    // lookalike weights strictly above every outlier weight
    val wLook = out.filter(col("id") >= 100L && col("id") <= 109L)
      .agg(min(col("w_micro"))).head().getLong(0)
    val wOut = out.filter(col("id") >= 200L).agg(max(col("w_micro"))).head().getLong(0)
    assert(wLook > wOut)
    // deterministic: identical weights, keys, and selection on a re-run
    val again = Corpus.dsirSelect(raw, target, "doc_id", "text", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(5))).toSet
    val first = out.collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(5))).toSet
    assert(again == first)
  }

  test("temperatureMix flattens the head, stays within budget, and is deterministic") {
    import spark.implicits._
    import graft.operators.Corpus
    val docs = ((1L to 90L).map(i => (i, "big")) ++
      (101L to 109L).map(i => (i, "mid")) ++ Seq((201L, "small")))
      .toDF("doc_id", "src")
    val out = Corpus.temperatureMix(docs, "doc_id", "src", salt = "s", budget = 20L)
      .cache()
    val kept = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // never over budget (floor quotas may leave slots unused)
    assert(kept.values.sum <= 20L)
    // α = 1/2 flattens: big's kept share drops below its corpus share,
    // while every source still appears
    assert(kept("big").toDouble / kept.values.sum < 0.9)
    assert(kept.keySet == Set("big", "mid", "small"))
    // quota arithmetic is exposed and honored row-wise
    assert(out.filter(col("mix_rank") > col("keep_quota")).count() == 0)
    // deterministic: identical kept set on a re-run
    val again = Corpus.temperatureMix(docs, "doc_id", "src", salt = "s", budget = 20L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("multi-table LSH raises recall over single-table on real embeddings") {
    import graft.sources.Tables
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def neighborSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val truth = neighborSet(
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, "query_id", "query_vec", k = 10))
    def recall(tables: Int): Double = {
      val got = neighborSet(Similarity.lshTopK(emb, "vec_id", "embedding",
        queries, "query_id", "query_vec", dim = 64, k = 10, nbits = 4, tables = tables))
      (truth intersect got).size.toDouble / truth.size
    }
    val r1 = recall(1)
    val r4 = recall(4)
    assert(r4 >= r1, s"recall@10: 4 tables ($r4) should not lose to 1 table ($r1)")
    assert(r4 > 0.2, s"recall@10 with 4 tables too low: $r4")
  }

  test("multi-table embedding near-dup: auto (nbits, K) recovers >= 0.8 of exact pairs") {
    import graft.functions.VectorFunctions.cosine
    import graft.sources.Tables
    // the (nbits, K) auto-sizing contract, driver-side half: the Charikar
    // collision model p = 1 − acos(t)/π predicts 0.356 single-table
    // recall at (nbits=2, t=0.3) — 0.35 measured — and K=4 tables for the
    // 0.8 target
    assert(Dedup.recommendedLshTables(2, 0.3) == 4)
    assert(Dedup.recommendedLshTables(2, 0.3, targetRecall = 0.95) > 4)
    assert(Dedup.recommendedLshTables(1, 0.99) == 1) // near-parallel pairs almost always collide
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 300)
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = Dedup.embeddingNearDup(emb, "vec_id", "embedding",
        dim = 64, threshold = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Dedup.embeddingNearDupMultiTable(emb, "vec_id", "embedding",
        dim = 64, threshold = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // zero false positives is structural (exact-cosine confirm in both)
    assert((single -- exact).isEmpty && (multi -- exact).isEmpty)
    val rSingle = (exact intersect single).size.toDouble / exact.size
    val rMulti = (exact intersect multi).size.toDouble / exact.size
    assert(rMulti >= 0.8,
      f"OR-amplified recall $rMulti%.3f below the 0.8 target (single-table: $rSingle%.3f)")
    assert(rMulti > rSingle,
      f"amplification must beat the single table: $rMulti%.3f vs $rSingle%.3f")
    // the output carries both dial settings for auditability
    val dials = Dedup.embeddingNearDupMultiTable(emb, "vec_id", "embedding",
      dim = 64, threshold = 0.3).select("nbits", "n_tables").distinct().collect()
    assert(dials.length == 1 && dials.head.getInt(0) == 2 && dials.head.getInt(1) == 4)
  }

  test("htmlExtract: script/style stripped, link-dense blocks dropped, entities unescaped, CJK kept by chars") {
    import spark.implicits._
    val html1 = "<html><head><title>T</title><script>var x=1; document.write('<p>junk</p>');</script>" +
      "<style>p { color: red }</style></head><body>" +
      "<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div>" +
      "<p>This is the real article content with &amp; an entity and enough characters.</p>" +
      "<p>tiny</p>" +
      "<div class=\"footer\"><a href=\"/tos\">Terms of Service</a> <a href=\"/p\">Privacy</a> (c) 2026</div>" +
      "</body></html>"
    // CJK: one whitespace "word" but plenty of characters — char-based
    // rules must keep it (a word-based minWords would drop it)
    val html2 = "<html><body><p>这是一段足够长的中文正文内容，规则必须保留它。</p>" +
      "<div><a href=\"x\">链接</a><a href=\"y\">更多</a></div></body></html>"
    val df = Seq((1L, html1), (2L, html2)).toDF("doc_id", "html")
    val got = Corpus.htmlExtract(df, "doc_id", "html")
      .orderBy("id").collect()
    val r1 = got(0)
    assert(r1.getLong(1) == 4L, s"4 blocks total: $r1") // nav, p, tiny p, footer
    assert(r1.getLong(2) == 1L, s"only the article survives: $r1")
    assert(r1.getString(3) ==
      "This is the real article content with & an entity and enough characters.", r1.getString(3))
    val r2 = got(1)
    assert(r2.getLong(2) == 1L && r2.getString(3).startsWith("这是一段"),
      s"CJK content block must survive the char-based rules: $r2")
    // NULL html: zero blocks, empty text, no NPE
    val nulls = Corpus.htmlExtract(Seq((3L, null: String)).toDF("doc_id", "html"),
      "doc_id", "html").collect()
    assert(nulls.head.getLong(1) == 0L && nulls.head.getString(3) == "")
    // composes with the downstream curation gates (extract -> C4 filter):
    // same row-local plan class, one projection feeding the next
    val chained = Corpus.c4LineFilter(
      Corpus.htmlExtract(df, "doc_id", "html"), "id", "extracted_text")
    assert(chained.count() == 2 && chained.columns.contains("keep"))
  }

  test("multi-probe embedding near-dup: equal budget beats multi-table; fixed O(n) index; schedule sane") {
    import graft.functions.VectorFunctions.cosine
    import graft.sources.Tables
    // the step-wise schedule: lowest-margin single flip first, then the
    // second (Σ(rank+1) order); at the score-3 tie the SINGLE third-bit
    // flip precedes the two-bit flip (ties by fewer flips)
    assert(Dedup.perturbationSets(4, 4) == Seq(Seq(0), Seq(1), Seq(2), Seq(0, 1)))
    assert(Dedup.perturbationSets(2, 3) == Seq(Seq(0), Seq(1), Seq(0, 1)))
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 300)
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // equal candidate budget: T probes of one table vs K=T tables
    val multiProbe = pairs(Dedup.embeddingNearDupMultiProbe(emb, "vec_id", "embedding",
      dim = 64, threshold = 0.3))
    val multiTable = pairs(Dedup.embeddingNearDupMultiTable(emb, "vec_id", "embedding",
      dim = 64, threshold = 0.3))
    // zero false positives structural (exact-cosine confirm)
    assert((multiProbe -- exact).isEmpty)
    val rProbe = (exact intersect multiProbe).size.toDouble / exact.size
    val rTable = (exact intersect multiTable).size.toDouble / exact.size
    assert(rProbe >= rTable,
      f"multi-probe must not lose to multi-table at equal budget: $rProbe%.3f vs $rTable%.3f")
    assert(rProbe >= 0.9, f"multi-probe equal-budget recall $rProbe%.3f below the 0.9 pin")
    // probing more buckets of the SAME index is monotone in recall
    val r1 = pairs(Dedup.embeddingNearDupMultiProbe(emb, "vec_id", "embedding",
      dim = 64, threshold = 0.3, probes = 1))
    val r2 = pairs(Dedup.embeddingNearDupMultiProbe(emb, "vec_id", "embedding",
      dim = 64, threshold = 0.3, probes = 2))
    assert(r1.subsetOf(multiProbe) || r1.size <= multiProbe.size)
    assert(r2.size >= r1.size && multiProbe.size >= r2.size,
      s"probe dial must be monotone: ${r1.size} <= ${r2.size} <= ${multiProbe.size}")
    // dials carried on every row
    val dials = Dedup.embeddingNearDupMultiProbe(emb, "vec_id", "embedding",
      dim = 64, threshold = 0.3).select("nbits", "n_probes").distinct().collect()
    assert(dials.length == 1 && dials.head.getInt(0) == 2 && dials.head.getInt(1) == 4)
  }

  test("unigram-LM tokenizer: lossless segmentation, learned multi-char pieces, determinism") {
    import spark.implicits._
    val docs = Seq(
      (1L, "banana banana bandana"),
      (2L, "banana band and sand"),
      (3L, "an analog band on sand")).toDF("doc_id", "text")
    val vocab = Corpus.unigramTrain(docs, "text", vocabSize = 25, seedSize = 40)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(vocab.nonEmpty && vocab.length <= 25)
    // the dominant substring family ('an'/'ana'/'ban'...) earns
    // multi-char pieces — the whole point of the trainer
    assert(vocab.exists(_._1.length > 1), vocab.map(_._1).mkString(","))
    // scores are negative log-probs in micro-nats, higher count → higher score
    val byCount = vocab.sortBy(-_._2)
    assert(vocab.forall(_._3 < 0L))
    assert(byCount.head._3 >= byCount.last._3)
    // segmentation is LOSSLESS: pieces concatenate back to the capped word,
    // in order, for every word incl. ones with unseen chars (char fallback)
    val vdf = Corpus.unigramTrain(docs, "text", vocabSize = 25, seedSize = 40)
    val seg = Corpus.unigramSegment(
      Seq((9L, "banana bandana zebra! xx")).toDF("doc_id", "text"),
      "doc_id", "text", vdf)
    val rebuilt = seg.orderBy("word_idx", "piece_start")
      .groupBy("word_idx").agg(
        concat_ws("", collect_list(col("piece"))).as("w"))
      .orderBy("word_idx").collect().map(_.getString(1)).toSeq
    assert(rebuilt == Seq("banana", "bandana", "zebra!", "xx"), rebuilt.toString)
    // deterministic: identical vocab (incl. scores) on a re-run
    val again = Corpus.unigramTrain(docs, "text", vocabSize = 25, seedSize = 40)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == vocab.toSet)
  }

  test("tokenizer model persistence: kind-tagged round-trip segments bit-identically, wrong kind refused") {
    import spark.implicits._
    val docs = Seq(
      (1L, "banana banana bandana"),
      (2L, "banana band and sand")).toDF("doc_id", "text")
    val serve = Seq((9L, "banana bandana sandbox")).toDF("doc_id", "text")
    val base = TestSparkSession.freshDir("graft_tok")
    // BPE: persisted merge table serves exactly like the in-session one
    val merges = Corpus.bpeTrain(docs, "text", nMerges = 3)
    Corpus.writeBpeModel(merges, s"$base/bpe", Map("nMerges" -> 3))
    val bpeLoaded = Corpus.readBpeModel(spark, s"$base/bpe")
    val live = Corpus.bpeSegment(serve, "doc_id", "text", merges)
      .collect().map(_.toSeq).toSet
    val reloaded = Corpus.bpeSegment(serve, "doc_id", "text", bpeLoaded)
      .collect().map(_.toSeq).toSet
    assert(live == reloaded, "reloaded merge table must segment bit-identically")
    // unigram: same contract
    val vocab = Corpus.unigramTrain(docs, "text", vocabSize = 20, seedSize = 30)
    Corpus.writeUnigramModel(vocab, s"$base/uni", Map("vocabSize" -> 20))
    val uniLive = Corpus.unigramSegment(serve, "doc_id", "text", vocab)
      .collect().map(_.toSeq).toSet
    val uniReloaded = Corpus.unigramSegment(serve, "doc_id", "text",
        Corpus.readUnigramModel(spark, s"$base/uni"))
      .collect().map(_.toSeq).toSet
    assert(uniLive == uniReloaded, "reloaded vocabulary must segment bit-identically")
    // wrong-kind loads fail LOUDLY at load, not silently downstream —
    // including a load feeding the segmenter
    val e1 = intercept[IllegalArgumentException] {
      Corpus.readBpeModel(spark, s"$base/uni")
    }
    assert(e1.getMessage.contains("bpe_merges"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Corpus.unigramSegment(serve, "doc_id", "text", Corpus.readUnigramModel(spark, s"$base/bpe"))
    }
    assert(e2.getMessage.contains("unigram_vocab"), e2.getMessage)
    // the loaded artifacts serve through the segmenters
    val viaPath = Corpus.bpeSegment(serve, "doc_id", "text", Corpus.readBpeModel(spark, s"$base/bpe"))
      .collect().map(_.toSeq).toSet
    assert(viaPath == live)
    assert(Corpus.unigramSegment(serve, "doc_id", "text", Corpus.readUnigramModel(spark, s"$base/uni"))
      .count() > 0)
  }

  test("MinHash sketch aggregate estimates set Jaccard within tolerance") {
    import spark.implicits._
    import graft.expressions.MinHashSketchAgg.{minhashSketch, sketchJaccard}
    // two groups sharing exactly half their shingle universe → true J = 1/3
    val a = (1 to 200).map(i => ("a", Seq(i.toLong)))
    val b = (101 to 300).map(i => ("b", Seq(i.toLong)))
    val sk = (a ++ b).toDF("g", "hs")
      .groupBy("g").agg(minhashSketch(col("hs"), 256).as("sig"))
    val sigs = sk.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sigs("a").length == 256)
    val est = sk.filter(col("g") === "a").select(col("sig").as("sa"))
      .crossJoin(sk.filter(col("g") === "b").select(col("sig").as("sb")))
      .select(sketchJaccard(col("sa"), col("sb"))).head().getDouble(0)
    assert(math.abs(est - 1.0 / 3.0) < 0.12, s"estimated jaccard $est too far from 1/3")
    // identical groups → estimate exactly 1
    val self = sk.filter(col("g") === "a").select(col("sig").as("sa"), col("sig").as("sb"))
      .select(sketchJaccard(col("sa"), col("sb"))).head().getDouble(0)
    assert(self == 1.0)
  }

  test("codegen MinHash signature is bit-identical to the HOF fold") {
    import graft.expressions.MinHashSignature.minhashSignature
    import graft.functions.TextFunctions.shingles
    val k = 16
    val hs = transform(shingles(col("text"), 3), s => xxhash64(s))
    val both = docs.select(
      minhashSignature(hs, k).as("native"),
      transform(sequence(lit(0), lit(k - 1)),
        i => aggregate(hs, lit(Long.MaxValue), (m, h) => least(m, xxhash64(i, h)))).as("hof"))
    assert(both.collect().forall(r => r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("codegen SimHash64 is bit-identical to the per-bit HOF vote") {
    // include an empty-text row (split → [""] → one token hash) and a
    // single-token row — every counter path exercised
    import spark.implicits._
    val df = docs.select(col("text"))
      .union(Seq("", "solo").toDF("text"))
    val both = df.select(
      TextFunctions.simhash64("text").as("native"),
      TextFunctions.simhash64Hof("text").as("hof"))
    assert(both.collect().forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("hashSplit is a pure function of (id, salt): stable under growth and reordering") {
    import spark.implicits._
    val small = Corpus.hashSplit((1L to 50L).toDF("id"), "id", "s1")
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // growing the corpus and shuffling row order never reassigns an id
    val grown = Corpus.hashSplit((50L to 1L by -1L).toDF("id").union((51L to 500L).toDF("id")),
        "id", "s1")
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(small.forall { case (id, sp) => grown(id) == sp })
    // a different salt produces a genuinely different assignment
    val resalted = Corpus.hashSplit((1L to 50L).toDF("id"), "id", "s2")
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(small.exists { case (id, sp) => resalted(id) != sp })
    // thresholds are validated
    intercept[IllegalArgumentException](Corpus.hashSplit(docs, "doc_id", "s", 80, 30))
  }

  test("pmiCollocations matches an independent PMI recomputation; minCount floors") {
    import spark.implicits._
    val docs = Seq((1L, "x y x y"), (2L, "x y z z")).toDF("doc_id", "text")
    // tokens: x×3 y×3 z×2, N=8; pairs: (x,y)×3 (y,x)×1 (y,z)×1 (z,z)×1, B=6
    def pmi(cab: Long, ca: Long, cb: Long): Long =
      math.round(math.log(((cab.toDouble * 8) * 8) / ((6.0 * ca) * cb)) * 1e6)
    val got = Corpus.pmiCollocations(docs, "text", minCount = 1L, k = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    val want = Seq(
      ("x", "y", 3L, pmi(3, 3, 3)), ("z", "z", 1L, pmi(1, 2, 2)),
      ("y", "z", 1L, pmi(1, 3, 2)), ("y", "x", 1L, pmi(1, 3, 3)))
      .sortBy { case (a, b, _, p) => (-p, a, b) }.zipWithIndex
      .map { case ((a, b, c, p), i) => (i + 1L, a, b, c, p) }
    assert(got == want, s"got=$got\nwant=$want")
    // the frequency floor drops every singleton pair
    val floored = Corpus.pmiCollocations(docs, "text", minCount = 2L, k = 10)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(floored == Seq(("x", "y")), s"$floored")
  }

  test("recommendedNbits keeps expected occupancy bounded as the corpus grows") {
    import graft.operators.Dedup
    // at or below one target bucket: the 2-bit floor
    assert(Dedup.recommendedNbits(0L) == 2)
    assert(Dedup.recommendedNbits(1024L, 1024L) == 2)
    // exact powers: n/target buckets need log2 bits
    assert(Dedup.recommendedNbits(1L << 20, 1024L) == 10)
    assert(Dedup.recommendedNbits((1L << 20) + 1, 1024L) == 11, "ceil, not floor")
    // monotone in corpus size, antitone in target occupancy
    assert(Dedup.recommendedNbits(1L << 30, 1024L) == 20)
    assert(Dedup.recommendedNbits(1L << 30, 1L << 20) == 10)
    // the measured-drift scenario: 2k vectors at the test default vs the
    // 10x amplified corpus — the recommendation grows with the data
    assert(Dedup.recommendedNbits(20000L, 1024L) >
      Dedup.recommendedNbits(2000L, 1024L))
  }

  test("embeddingNearDup auto-sizes nbits by default and stamps the dial on every row") {
    import spark.implicits._
    import graft.operators.Dedup
    val vecs = (0 until 40).map { i =>
      val base = Array.fill(4)(0f); base(i % 4) = 1f
      base((i + 1) % 4) = if (i % 2 == 0) 0.05f else 0.0f
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    // defaulted call: 40 rows << target 1024 → the 2-bit floor, stamped
    val auto = Dedup.embeddingNearDup(vecs, "vec_id", "embedding", dim = 4,
      threshold = 0.9)
    val autoRows = auto.collect()
    assert(autoRows.nonEmpty)
    assert(autoRows.forall(_.getAs[Int]("nbits") == Dedup.recommendedNbits(40L)),
      "emitted nbits records the auto-chosen dial")
    // explicit nbits still pins the dial verbatim
    val pinned = Dedup.embeddingNearDup(vecs, "vec_id", "embedding", dim = 4,
      threshold = 0.9, nbits = 5).collect()
    assert(pinned.forall(_.getAs[Int]("nbits") == 5))
  }

  test("weightedSample matches an independent A-ES recomputation; bad weights never select") {
    import spark.implicits._
    val rows = (1L to 40L).map(i => (i, (i % 7 + 1).toDouble)) ++
      Seq((100L, 0.0), (101L, -2.0)) // non-positive: excluded
    val df = rows.toDF("id", "w")
      .union(Seq((102L, Option.empty[Double])).toDF("id", "w"))
    val got = Corpus.weightedSample(df, "id", "w", k = 10, salt = "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    // independent recomputation: md5 hex → 52-bit uniform → ln(u)/w micro key
    def key(id: Long, w: Double): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:t".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.take(13), 16)
      math.round((math.log((h + 1) / 4503599627370496.0) / w) * 1e6)
    }
    val want = (1L to 40L).map(i => (i, (i % 7 + 1).toDouble))
      .map { case (id, w) => (id, w, key(id, w)) }
      .sortBy { case (id, _, k) => (-k, id) }.take(10).zipWithIndex
      .map { case ((id, w, k), i) => (i + 1L, id, w, k) }
    assert(got == want, s"got=$got\nwant=$want")
    assert(!got.exists(r => Seq(100L, 101L, 102L).contains(r._2)),
      "NULL/non-positive weights must never be selected")
  }

  test("weightedSampleBy: per-group quotas under the same key, bounded window state") {
    import spark.implicits._
    val df = (1L to 30L).map(i => (s"g${i % 2}", i, ((i % 5) + 1).toDouble))
      .toDF("grp", "id", "w")
    def key(id: Long, w: Double): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:t".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.take(13), 16)
      math.round((math.log((h + 1) / 4503599627370496.0) / w) * 1e6)
    }
    val got = Corpus.weightedSampleBy(df, "grp", "id", "w", kPerGroup = 3, salt = "t")
    val byGrp = got.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    val want = (1L to 30L).map(i => (s"g${i % 2}", i, ((i % 5) + 1).toDouble))
      .groupBy(_._1).view.mapValues(
        _.map { case (_, id, w) => (id, key(id, w)) }
          .sortBy { case (id, k) => (-k, id) }.take(3).map(_._1)).toMap
    assert(byGrp == want, s"got=$byGrp want=$want")
    // the per-group rank bound pushes into the window (bounded state)
    assert(got.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      got.queryExecution.executedPlan.toString)
  }

  test("decontaminate flags exactly the docs sharing shingles with the benchmark") {
    // benchmark = doc 1's text; docs 2 (identical) and 3 (one-word edit)
    // share shingles, 4 and 5 share none
    val bench = docs.filter(col("doc_id") === 1L)
    val corpus = docs.filter(col("doc_id") =!= 1L)
    val out = Corpus.decontaminate(corpus, bench, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(2L, 3L, 4L, 5L), "one row per corpus doc, clean docs included")
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(2L)._3 && byId(2L)._2 == 13L, "identical doc shares all 13 shingles (15 tokens)")
    assert(byId(3L)._3 && byId(3L)._2 < 13L && byId(3L)._2 > 0L, "edited doc shares a strict subset")
    assert(!byId(4L)._3 && byId(4L)._2 == 0L)
    assert(!byId(5L)._3 && byId(5L)._2 == 0L)
    // the benchmark side must be the broadcast side of the join
    val plan = Corpus.decontaminate(corpus, bench, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"benchmark shingle set must broadcast:\n$plan")
  }

  test("decontaminate: empty benchmark marks everything clean; NULL ids survive") {
    import spark.implicits._
    val corpus = Seq((Option(7L), "some plain text here"), (None: Option[Long], "other words entirely now"))
      .toDF("doc_id", "text")
    val empty = docs.filter(col("doc_id") < 0L) // zero benchmark docs
    val out = Corpus.decontaminate(corpus, empty, "doc_id", "text")
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1), r.getBoolean(2)))
    assert(out.length == 2, "NULL-id rows must not be dropped")
    assert(out.forall(t => t._2 == 0L && !t._3))
  }

  test("PipelineSyntax: ingestion-era ops record lineage and pk semantics") {
    import graft.operators.PipelineSyntax._
    val mf = MetaFrame(docs, Map("corpus" -> "unit")).dropDuplicates(Seq("doc_id"))
    val bench = MetaFrame(docs.filter(col("doc_id") === 1L), Map.empty[String, Any])
    // decontamination keys by id
    val decon = mf.decontaminateAgainst(bench, "doc_id", "text")
    assert(decon.primaryKey.contains(Seq("id")))
    assert(decon.dropDuplicates(Seq("id")).df eq decon.df)
    assert(decon.metadata("lineage").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("op")) == Seq("decontaminate"))
    // stratified sample is a row subset: parent pk survives verified
    val samp = mf.stratifiedSampleBy("text", "doc_id", "s1", k = 1)
    assert(samp.primaryKey.contains(Seq("doc_id")))
    assert(samp.dropDuplicates(Seq("doc_id")).df eq samp.df)
    // frozen gate keys by id
    val counts = MetaFrame(Corpus.lmCounts(docs, "text"), Map.empty[String, Any])
    val gated = mf.qualityGateAgainst(counts, "doc_id", "text", minTokens = 5L)
    assert(gated.primaryKey.contains(Seq("id")))
    assert(gated.metadata("lineage").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("op")) == Seq("quality_gate_frozen"))
    // ingestion micro-batch audit keys by id
    val audit = mf.assembleIngestBatch(
      MetaFrame(docs.limit(0), Map.empty[String, Any]), bench, counts,
      "doc_id", "text", "text", "text")
    assert(audit.primaryKey.contains(Seq("id")))
    assert(audit.dropDuplicates(Seq("id")).df eq audit.df)
    assert(audit.metadata("lineage").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("op")) == Seq("ingest_batch"))
  }

  test("PipelineSyntax: selection-era ops record lineage and pk semantics") {
    import spark.implicits._
    import graft.operators.PipelineSyntax._
    val mf = MetaFrame(docs, Map("corpus" -> "unit")).dropDuplicates(Seq("doc_id"))
    // token-budget selection: one verdict row per doc, keyed by id
    val scored = mf
      .withColumn("q", graft.functions.TextFunctions.qualityScore(col("text")))
      .withColumn("nt", graft.functions.TextFunctions.tokenCount(col("text")))
    val sel = scored.tokenBudgetSelected("doc_id", "q", "nt", budget = 100L)
    assert(sel.primaryKey.contains(Seq("id")))
    assert(sel.dropDuplicates(Seq("id")).df eq sel.df)
    assert(sel.metadata("lineage").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("op")) == Seq("token_budget_select"))
    // soft sampling: row-preserving verdicts, keyed by id
    val soft = scored.softQualitySampled("doc_id", "q", tau = 0.9)
    assert(soft.primaryKey.contains(Seq("id")))
    assert(soft.metadata("lineage").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("op")) == Seq("soft_quality_sample"))
    // incremental semantic dedup: one verdict per BATCH doc, keyed by id
    val store = MetaFrame(Seq((1L, Seq(1.0f, 0f)), (2L, Seq(0f, 1.0f)))
      .toDF("vec_id", "embedding"), Map.empty[String, Any])
    val batch = MetaFrame(Seq((11L, Seq(1.0f, 0.01f))).toDF("vec_id", "embedding"),
      Map.empty[String, Any]).dropDuplicates(Seq("vec_id"))
    val cents = MetaFrame(Seq((0L, Seq(1.0f, 0f)), (1L, Seq(0f, 1.0f)))
      .toDF("cell", "cvec"), Map.empty[String, Any])
    val sem = batch.semanticDedupedAgainst(store, "vec_id", "embedding",
      cents, "cell", "cvec", threshold = 0.95)
    assert(sem.primaryKey.contains(Seq("id")))
    assert(sem.dropDuplicates(Seq("id")).df eq sem.df)
    assert(sem.metadata("lineage").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("op")) == Seq("semantic_dedup_incremental"))
    assert(sem.df.collect().map(r => r.getAs[Long]("id") ->
      r.getAs[java.lang.Long]("matched_id")).toMap == Map(11L -> (1L: java.lang.Long)))
  }

  test("TopKAgg keeps exactly k under compaction with (score desc, id asc) ties") {
    import spark.implicits._
    import graft.expressions.TopKAgg.topKByScore
    // 1000 rows in one group across partitions: the 2k-bounded buffer
    // compacts many times and partials merge — the result must still be
    // the exact top-5 with lowest-id tie-breaks (score = i mod 7)
    val df = (1L to 1000L).map(i => ("g", (i % 7).toDouble, i))
      .toDF("g", "score", "id").repartition(8)
    val out = df.groupBy("g")
      .agg(topKByScore(struct(col("score"), col("id")), 5).as("t"))
      .select(explode(col("t")).as("e"))
      .collect().map(r => (r.getStruct(0).getDouble(0), r.getStruct(0).getLong(1))).toSeq
    assert(out == Seq((6.0, 6L), (6.0, 13L), (6.0, 20L), (6.0, 27L), (6.0, 34L)), s"got $out")
    // a group smaller than k returns all its rows, ranked
    val small = Seq(("h", 1.0, 2L), ("h", 3.0, 1L)).toDF("g", "score", "id")
      .groupBy("g").agg(topKByScore(struct(col("score"), col("id")), 5).as("t"))
      .select(explode(col("t")).as("e"))
      .collect().map(_.getStruct(0).getLong(1)).toSeq
    assert(small == Seq(1L, 2L))
  }

  test("corpusDiff attributes all four transition statuses, incl. NULL-content docs") {
    import spark.implicits._
    val v1 = Seq((1L, "same text"), (2L, "old text"), (3L, "gone"),
        (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, "same text"), (2L, "new text"), (4L, "brand new"),
        (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Corpus.corpusDiff(v1, v2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added", 5L -> "unchanged"), s"got $out")
    // metadata wrapper: keyed by id when both versions are
    import graft.operators.PipelineSyntax._
    val m1 = MetaFrame(v1, Map.empty[String, Any]).dropDuplicates(Seq("doc_id"))
    val m2 = MetaFrame(v2, Map.empty[String, Any]).dropDuplicates(Seq("doc_id"))
    val diff = m1.diffAgainst(m2, "doc_id", "text")
    assert(diff.primaryKey.contains(Seq("id")))
    assert(diff.dropDuplicates(Seq("id")).df eq diff.df)
  }

  test("stratifiedSample draws exactly min(k, stratum) rows, stable across layouts and salts") {
    import spark.implicits._
    // stratum a: 10 rows; stratum b: 2 rows (< k)
    val df = ((1L to 10L).map(i => ("a", i)) ++ Seq(("b", 100L), ("b", 101L)))
      .toDF("lang", "doc_id")
    val out = Corpus.stratifiedSample(df, "lang", "doc_id", salt = "s1", k = 3)
      .select("lang", "doc_id", "sample_rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val byLang = out.groupBy(_._1)
    assert(byLang("a").size == 3, "full stratum yields exactly k")
    assert(byLang("b").size == 2, "small stratum yields all its rows")
    assert(byLang("a").map(_._3).sorted == Seq(1L, 2L, 3L), "ranks are 1..k")
    // the selected SET is a pure function of (id, salt): any partition
    // layout draws the same sample ...
    val relaid = Corpus.stratifiedSample(df.repartition(7, col("doc_id")), "lang", "doc_id",
        salt = "s1", k = 3)
      .select("lang", "doc_id", "sample_rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(relaid == out, "sample must be independent of partition layout")
    // ... and a different salt redraws an independent one (here: different)
    val resalted = Corpus.stratifiedSample(df, "lang", "doc_id", salt = "s2", k = 3)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(resalted != out.map(_._2).toSet, "salts s1/s2 draw the same set — suspicious")
  }

  test("capPerGroup keeps exactly cap rows per group with deterministic tie-break") {
    import spark.implicits._
    // group a: scores 3,2,2,1 with doc ids 10,11,12,13 — the 2-vs-2 tie
    // resolves to the smaller id; group b: fewer rows than the cap
    val df = Seq(
      ("a", 10L, 3.0), ("a", 11L, 2.0), ("a", 12L, 2.0), ("a", 13L, 1.0),
      ("b", 20L, 9.0)).toDF("g", "id", "score")
    val out = Corpus.capPerGroup(df, "g", "score", "id", cap = 2)
      .select("g", "id", "rank_in_group")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(t => (t._1, t._3))
    assert(out.toSeq == Seq(("a", 10L, 1L), ("a", 11L, 2L), ("b", 20L, 1L)))
  }

  test("trainCentroids recovers separable clusters and improves the objective") {
    import spark.implicits._
    import graft.functions.VectorFunctions.cosine
    // 3 well-separated directions in R^4, 20 noisy members each
    val base = Seq(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    // ids interleave clusters (id % 3 = cluster) so the lowest-id seeds hit
    // one vector per cluster — lowest-id seeding, like any k-means init,
    // needs seeds that aren't all in one cluster
    val vecs = for (c <- 0 until 3; j <- 0 until 20) yield {
      val eps = 0.05f * ((c * 20 + j) % 7 - 3)
      (j * 3L + c, base(c).zipWithIndex.map { case (v, d) => v + (if (d == 3) eps else 0f) }.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val trained = Similarity.trainCentroids(df, "vec_id", "embedding", k = 3, iters = 4)
    assert(trained.count() == 3)
    // every vector lands in the cell of its true cluster's centroid
    val assigned = Similarity.ivfAssign(df, "vec_id", "embedding", trained, "cell", "cvec")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byCluster = (0 until 3).map(c => (0 until 20).map(j => assigned(j * 3L + c)).distinct)
    assert(byCluster.forall(_.size == 1), s"each true cluster must map to one cell: $byCluster")
    assert(byCluster.flatten.distinct.size == 3, "clusters must map to distinct cells")
    // objective (avg cosine to assigned centroid) does not degrade with rounds
    def objective(cents: org.apache.spark.sql.DataFrame): Double =
      Similarity.ivfAssign(df, "vec_id", "embedding", cents, "cell", "cvec")
        .agg(avg("cell_cos")).head().getDouble(0)
    val o0 = objective(Similarity.trainCentroids(df, "vec_id", "embedding", k = 3, iters = 0))
    val o4 = objective(trained)
    assert(o4 >= o0 - 1e-9, s"training must not degrade the objective: $o0 -> $o4")
  }

  test("trainCentroids is bit-identical across partition layouts and keeps empty cells") {
    import spark.implicits._
    val df = (0L until 40L).map(i => (i, Seq.tabulate(4)(d => ((i * 13 + d * 7) % 11 - 5).toFloat)))
      .toDF("vec_id", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.trainCentroids(d, "vec_id", "embedding", k = 5, iters = 3)
        .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    // micro-quantized means: exact equality of every float, any layout
    assert(run(df.coalesce(1)) == run(df.repartition(7)))
    // k > n trains only n cells; iters=0 returns the seeds themselves
    val tiny = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    assert(Similarity.trainCentroids(tiny, "vec_id", "embedding", k = 5, iters = 1).count() == 2)
    val seeds = Similarity.trainCentroids(tiny, "vec_id", "embedding", k = 2, iters = 0)
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    assert(seeds.map(_._2).toSeq == Seq(Seq(1f, 0f), Seq(0f, 1f)))
  }

  test("winnowing guarantee: docs sharing a w+k-1 token run share a fingerprint") {
    import spark.implicits._
    import graft.functions.TextFunctions.winnowFingerprints
    // k=3, w=4: any shared run of >= 6 tokens must yield a shared minimum
    val shared = "alpha bravo charlie delta echo foxtrot"
    val docs = Seq(
      (1L, s"one two $shared three four"),
      (2L, s"nine eight seven $shared six"),
      (3L, "completely different words with nothing common here"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val fps = docs
      .select(col("doc_id"), winnowFingerprints(col("text"), 3, 4).as("fps"))
      .collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Long](1)).map(_.toSet)).toMap
    assert((fps(1L).get intersect fps(2L).get).nonEmpty,
      "shared 6-token run must produce a shared fingerprint")
    assert((fps(1L).get intersect fps(3L).get).isEmpty,
      "disjoint docs must share nothing")
    assert(fps(4L).isEmpty, "NULL text must yield NULL fingerprints")
    // density: far fewer fingerprints than grams (that is winnowing's point)
    val n1 = fps(1L).get.size
    assert(n1 >= 1 && n1 <= 8, s"got $n1 fingerprints for a 12-token doc")
  }

  test("winnowPairs pairs long-overlap docs; the df-cap drops boilerplate fingerprints") {
    import spark.implicits._
    import graft.operators.Dedup
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    val boiler = "copyright footer terms of service apply to all pages here"
    val docs = (Seq(
      (1L, s"one two $shared"),
      (2L, s"$shared nine ten"),
      (3L, "entirely unrelated content with distinct vocabulary throughout")) ++
      (10L to 20L).map(i => (i, boiler))).toDF("doc_id", "text")
    def pairs(maxFpDf: Long) =
      Dedup.winnowPairs(docs, "doc_id", "text", maxFpDf = maxFpDf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = pairs(Long.MaxValue)
    assert(all.contains((1L, 2L)), "long shared run must pair")
    assert(!all.exists(p => p._1 == 3L || p._2 == 3L), "disjoint doc must not pair")
    assert(all.exists(p => p._1 >= 10L && p._2 >= 10L), "boilerplate pairs exist uncapped")
    // cap 2: the 11-doc boilerplate fingerprints (df=11) drop; the planted
    // pair's fingerprints (df=2) survive
    val capped = pairs(2L)
    assert(capped.contains((1L, 2L)))
    assert(!capped.exists(p => p._1 >= 10L && p._2 >= 10L),
      s"df-cap must drop boilerplate-only pairs: $capped")
  }

  test("winnowNearDup clusters only confirmed duplicates (candidates alone are not enough)") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i"), // near-identical: shingle jaccard 7/8
      // shares the >= w+k-1 run 'a b c d e f' (guaranteed CANDIDATE) but
      // its long distinct tail keeps overall jaccard far below 0.8
      (3L, "a b c d e f q r s t u v w x y z aa bb cc dd ee ff"),
      (4L, "totally separate content nothing shared anywhere at all")).toDF("doc_id", "text")
    val out = Dedup.winnowNearDup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == (1L, true) && out(2L) == (1L, true),
      s"near-identical docs must share cluster 1: $out")
    assert(out(3L) == (3L, false),
      s"a candidate below minJaccard must stay its own unconfirmed cluster: $out")
    assert(out(4L) == (4L, false))
  }

  test("lmScoreBigram penalizes impossible transitions that the unigram model cannot see") {
    import spark.implicits._
    // training corpus: 'a' is always followed by 'b' — plus the scrambled
    // probe docs themselves so both probes self-score in one call
    val docs = ((1L to 20L).map(i => (i, "a b a b a b")) ++
      Seq((100L, "a b a b a b"), (101L, "b a b a b a"))).toDF("doc_id", "text")
    def nll(id: Long, out: Array[org.apache.spark.sql.Row]): Double =
      out.find(_.getLong(0) == id).get.getDouble(2)
    val bi = Corpus.lmScoreBigram(docs, "doc_id", "text").collect()
    val uni = Corpus.lmScore(docs, "doc_id", "text").collect()
    // same bag of words: the unigram scorer cannot distinguish the probes
    assert(math.abs(nll(100L, uni) - nll(101L, uni)) < 1e-9)
    // the bigram scorer must: 'b a' transitions are rare in training
    assert(nll(101L, bi) > nll(100L, bi) + 0.01,
      s"scrambled order must score worse: ${nll(100L, bi)} vs ${nll(101L, bi)}")
    // NULL/token-less docs keep NULL scores under the bigram model too
    val edge = Corpus.lmScoreBigram(
      Seq((1L, "x y"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      "doc_id", "text").collect().map(r => r.getLong(0) -> r.isNullAt(2)).toMap
    assert(!edge(1L) && edge(2L))
    intercept[IllegalArgumentException](
      Corpus.lmScoreBigram(docs, "doc_id", "text", lambda = 1.5))
  }

  test("lmScoreBigram is bit-identical across partition layouts") {
    import spark.implicits._
    val docs = (1L to 100L)
      .map(i => (i, (0 until (i % 13 + 2).toInt).map(j => s"w${(i * 11 + j * 5) % 17}").mkString(" ")))
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Corpus.lmScoreBigram(df, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
    assert(run(docs.coalesce(1)) == run(docs.repartition(11)))
  }

  test("qualityGate fires exactly the rules each doc violates") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),                 // clean
      (2L, "alpha beta"),                             // too short (min 3)
      (3L, "spam spam spam spam spam spam"),          // repetitive
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Corpus.qualityGate(docs, "doc_id", "text",
        minTokens = 3L, maxTopNgramFrac = 0.5, maxDupNgramFrac = 0.5, maxAvgNll = 100.0)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(5), r.getString(7))).toMap
    assert(out(1L) == (true, ""))
    // a 2-token doc has ONE bigram → top_ngram_frac = 1.0: the repetition
    // rule fires alongside too_short (degenerate-short docs are doubly cut)
    assert(out(2L) == (false, "too_short,repetitive_top_ngram"))
    assert(out(3L)._1 == false &&
      out(3L)._2.contains("repetitive_top_ngram") &&
      out(3L)._2.contains("repetitive_dup_ngrams"))
    // NULL text: too short AND unscorable — never silently kept
    assert(out(4L)._1 == false &&
      out(4L)._2 == "too_short,low_lm_quality")
  }

  test("lmCounts, lmScoreAgainst, repetitionStats and decontaminate build without a Spark job") {
    import TestSparkSession.jobsDuring
    val counts = Corpus.lmCounts(docs, "text")
    val bench = docs.filter(col("doc_id") === 4L)
    // the public operators stay lazy: building the frame runs no job
    assert(jobsDuring(Corpus.lmCounts(docs, "text"))._2 == 0)
    assert(jobsDuring(Corpus.lmScoreAgainst(docs, counts, "doc_id", "text"))._2 == 0)
    assert(jobsDuring(Corpus.repetitionStats(docs, "doc_id", "text"))._2 == 0)
    assert(jobsDuring(Corpus.decontaminate(docs, bench, "doc_id", "text"))._2 == 0)
    // the ingestion gate's one construction job is its token pin
    val (gate, gateJobs) = jobsDuring(Corpus.qualityGateAgainst(docs, counts, "doc_id", "text"))
    assert(gateJobs == 1, s"qualityGateAgainst ran $gateJobs jobs at construction")
    assert(gate.count() == 5L)
  }

  test("tfidfTopTerms matches hand-computed scores with deterministic integer ranking") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a b"), (2L, "a c"), (3L, "c c c d"),
      (4L, null.asInstanceOf[String]), (5L, "")).toDF("doc_id", "text")
    val out = Corpus.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
      .sortBy(t => (t._1, t._2))
    // N=5 docs; df: a→2, b→1, c→2, d→1
    // doc1: a(tf2) then b(tf1); doc2: (a,c) tie on (tf1,df2) → term asc;
    // doc3: c(tf3) then d; docs 4/5 have no tokens → no rows
    assert(out.map(t => (t._1, t._2, t._3)).toSeq == Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (2L, 1L, "a"), (2L, 2L, "c"),
      (3L, 1L, "c"), (3L, 2L, "d")))
    def score(tf: Long, df: Long): Double =
      (1.0 + math.log(tf.toDouble)) * (math.log(6.0 / (df + 1.0)) + 1.0)
    out.foreach { case (_, _, _, tf, df, tfidf) =>
      assert(math.abs(tfidf - score(tf, df)) < 1e-9, s"tf=$tf df=$df got $tfidf")
    }
    intercept[IllegalArgumentException](Corpus.tfidfTopTerms(docs, "doc_id", "text", k = 0))
  }

  test("lmScore matches hand-computed micro-nat values; token-less docs keep NULL scores") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a b"), (2L, "b"), (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Corpus.lmScore(docs, "doc_id", "text", addK = 1.0)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // counts a→2, b→2; T=4, V=2; p = (2+1)/(4+2) = 0.5 for both tokens;
    // micro_lp = round(ln(0.5)·1e6) = -693147 → avg_nll = 0.693147 exactly
    assert(out(1L)._1 == 3L && out(2L)._1 == 1L && out(3L)._1 == 0L)
    assert(out(1L)._2.contains(0.693147))
    assert(out(2L)._2.contains(0.693147))
    assert(out(3L)._2.isEmpty, "NULL text must keep a NULL score, not 0")
    intercept[IllegalArgumentException](Corpus.lmScore(docs, "doc_id", "text", addK = 0.0))
  }

  test("lmScore is bit-identical across partition layouts (micro-nat integer sums)") {
    import spark.implicits._
    val docs = (1L to 200L)
      .map(i => (i, (0 until (i % 17 + 1).toInt).map(j => s"w${(i * 7 + j * 13) % 23}").mkString(" ")))
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Corpus.lmScore(df, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
    val once = run(docs.coalesce(1))
    val shuffled = run(docs.repartition(13))
    // EXACT double equality is the point: the per-doc reduce is an integer
    // sum of micro-nats, so reduce order cannot perturb the score
    assert(once == shuffled)
  }

  test("native codegen dot product is bit-identical to the HOF fold") {
    import graft.sources.Tables
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val a = emb.select(col("vec_id"), col("embedding").as("va"))
    val b = emb.select(col("vec_id"), col("embedding").as("vb"))
    val both = a.join(b, "vec_id").limit(200)
      .select(
        VectorFunctions.dot(col("va"), col("vb")).as("native"),
        VectorFunctions.dotHof(col("va"), col("vb")).as("hof"))
    val rows = both.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r =>
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }

  test("Amplify vocab-reuse keeps the token multiset, permutes order per replica, shares no shingles") {
    import spark.implicits._
    import graft.tools.Amplify
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"),
      (2L, "one two three four five six seven eight nine ten eleven twelve thirteen"))
      .toDF("doc_id", "text")
    def texts(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.collect().map(r => (r.getAs[Long]("doc_id") % Amplify.KeyStride) ->
        r.getAs[String]("text")).toMap
    val src = texts(docs)
    val r1 = texts(Amplify.replica(docs, "documents", 1, "reuse"))
    val r2 = texts(Amplify.replica(docs, "documents", 2, "reuse"))
    def toks(s: String) = s.split("\\s+").toSeq
    def shingleSet(s: String) = toks(s).sliding(3).map(_.mkString(" ")).toSet
    for (id <- Seq(1L, 2L)) {
      // identical multiset → identical unigram LM statistics and gate verdicts
      assert(toks(r1(id)).sorted == toks(src(id)).sorted)
      assert(toks(r2(id)).sorted == toks(src(id)).sorted)
      // replica-keyed order: differs from the source and between replicas
      assert(r1(id) != src(id) && r2(id) != src(id) && r1(id) != r2(id))
      // n-gram locality destroyed → replicas are not near-dups of anything
      assert(shingleSet(r1(id)).intersect(shingleSet(src(id))).isEmpty)
      assert(shingleSet(r1(id)).intersect(shingleSet(r2(id))).isEmpty)
    }
    // bijection mode is unchanged: disjoint vocabularies entirely
    val b1 = texts(Amplify.replica(docs, "documents", 1))
    assert(toks(b1(1L)).toSet.intersect(toks(src(1L)).toSet).isEmpty)
  }

  test("lineDedup keeps first global occurrence, dedups within-doc repeats, exempts short lines") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared header line\nunique alpha content\nshared header line"), // self-repeat
      (2L, "shared header line\nunique bravo content\nok"),
      (3L, "unique charlie content\nok"))
      .toDF("doc_id", "text")
    val out = Corpus.lineDedup(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_removed_lines"), r.getAs[String]("text_deduped"))).toMap
    // doc 1 keeps the FIRST copy of the header, loses its own repeat
    assert(out(1L) == ((3L, 1L, "shared header line\nunique alpha content")))
    // doc 2 loses the header (doc 1 owns it) but keeps everything else
    assert(out(2L) == ((3L, 1L, "unique bravo content\nok")))
    // "ok" in doc 3 duplicates doc 2's → removed under minLineChars = 0
    assert(out(3L) == ((2L, 1L, "unique charlie content")))
    // with minLineChars = 5 the 2-char "ok" lines are exempt everywhere
    val exempt = Corpus.lineDedup(docs, "doc_id", "text", minLineChars = 5)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("text_deduped")).toMap
    assert(exempt(3L) == "unique charlie content\nok")
    assert(exempt(2L) == "unique bravo content\nok")
  }

  test("blocklistFilter matches whole tokens only (no Scunthorpe over-blocking)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "this text is clean entirely"),
      (2L, "contains the Bad word here"),
      (3L, "badger badminton embedded notbad"), // substrings must NOT match
      (4L, "bad bad worse bad"))
      .toDF("doc_id", "text")
    val out = Corpus.blocklistFilter(docs, "doc_id", "text", Seq("BAD", "worse"))
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_blocked_hits"), r.getAs[String]("blocked_terms"), r.getAs[Boolean]("keep"))).toMap
    assert(out(1L) == ((0L, "", true)))
    assert(out(2L) == ((1L, "bad", false))) // list and text both casefold
    assert(out(3L) == ((0L, "", true)))
    assert(out(4L) == ((4L, "bad,worse", false)))
  }

  test("decontaminationReport attributes leaks to benchmark items, zeros for clean ones") {
    import spark.implicits._
    val passage = (1 to 25).map(i => s"p$i").mkString(" ")
    val corpus = Seq(
      (100L, s"intro words $passage trailing"),
      (101L, s"$passage"),
      (102L, "unrelated corpus content entirely here"))
      .toDF("doc_id", "text")
    val bench = Seq((1L, passage), (2L, "clean benchmark item with nothing shared but long enough to window " + (1 to 16).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Corpus.decontaminationReport(corpus, bench, "doc_id", "text", spanLen = 20)
      .collect().map(r => r.getAs[Long]("bench_id") ->
        (r.getAs[Long]("n_leaked_docs"), r.getAs[Long]("n_leaked_windows"))).toMap
    assert(out(1L)._1 == 2L) // both planted corpus docs leak item 1
    assert(out(1L)._2 >= 2L)
    assert(out(2L) == ((0L, 0L)))
  }

  test("curation ops treat NULL text as empty text — no NULL-poisoned outputs, no dropped rows") {
    import spark.implicits._
    val withNull = Seq((1L, "real line one\nreal line two", "s0"),
      (2L, null.asInstanceOf[String], "s0")).toDF("doc_id", "text", "src")
    val ld = Corpus.lineDedup(withNull, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_lines"), r.getAs[String]("text_deduped"))).toMap
    assert(ld(2L) == ((1L, ""))) // empty text = one empty line, kept
    assert(ld.size == 2)
    val sd = Dedup.spanDedup(withNull, "doc_id", "text", spanLen = 2)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_tokens")).toMap
    assert(sd(2L) == 1L) // [""] — passes through untouched
    val c4 = Corpus.c4LineFilter(withNull, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("keep")).toMap
    assert(c4(2L) == false) // zero surviving lines < minLines, never NULL
    val packed = Corpus.packSequences(withNull, "doc_id", "text", 4, "src")
    assert(packed.filter(col("id") === 2L).count() == 1) // one empty-token fragment
    val seg = Corpus.bpeSegment(withNull, "doc_id", "text",
      Seq((0, "a", "b", "ab", 1L)).toDF("merge_rank", "lhs", "rhs", "merged", "pair_count"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_words")).toMap
    assert(seg(2L) == 1L)
    val vc = Corpus.vocabCoverage(withNull, "doc_id", "text", 1L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_tokens")).toMap
    assert(vc(2L) == 0L)
  }

  test("PipelineSyntax: curation-era ops record lineage and pk semantics") {
    import graft.operators.PipelineSyntax._
    val langed = docs.withColumn("lang",
      when(col("doc_id") % 2 === 0, "en").otherwise("de"))
    val mf = MetaFrame(langed, Map("corpus" -> "unit")).dropDuplicates(Seq("doc_id"))
    // per-doc ops key the result by id (pk set + verified)
    val ld = mf.lineDeduped("doc_id", "text")
    assert(ld.primaryKey.contains(Seq("id")))
    assert(ld.dropDuplicates(Seq("id")).df eq ld.df)
    assert(ld.metadata("lineage").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("op")) == Seq("line_dedup"))
    val sd = mf.spanDeduped("doc_id", "text", spanLen = 4)
    assert(sd.primaryKey.contains(Seq("id")))
    val c4 = mf.c4Filtered("doc_id", "text")
    assert(c4.primaryKey.contains(Seq("id")))
    val vc = mf.vocabCovered("doc_id", "text")
    assert(vc.primaryKey.contains(Seq("id")))
    // packing expands rows: keyed by the fragment position
    val packed = mf.packedSequences("doc_id", "text", seqLen = 16, shardCol = "lang")
    assert(packed.primaryKey.contains(Seq("shard", "seq_id", "start_in_seq")))
    assert(packed.dropDuplicates(Seq("shard", "seq_id", "start_in_seq")).df eq packed.df)
    // bpe train keys by merge rank regardless of parent pk
    val merges = MetaFrame(langed, Map.empty[String, Any]).bpeTrained("text", nMerges = 2)
    assert(merges.primaryKey.contains(Seq("merge_rank")))
    val seg = mf.bpeSegmented(merges, "doc_id", "text")
    assert(seg.primaryKey.contains(Seq("id")))
    val mergesB = MetaFrame(langed, Map.empty[String, Any])
      .bpeTrained("text", nMerges = 2, batchSize = 2)
    assert(mergesB.primaryKey.contains(Seq("merge_rank")))
    val segF = mf.bpeSegmented(mergesB, "doc_id", "text")
    assert(segF.primaryKey.contains(Seq("id")))
    val gr = mf.gopherRuled("doc_id", "text")
    assert(gr.primaryKey.contains(Seq("id")))
    val pr = mf.piiRedacted("doc_id", "text")
    assert(pr.primaryKey.contains(Seq("id")))
    val grr = mf.gopherRepetitionRuled("doc_id", "text")
    assert(grr.primaryKey.contains(Seq("id")))
    val cs = mf.charStatted("doc_id", "text")
    assert(cs.primaryKey.contains(Seq("id")))
    val qp = mf.qualityProfiled(
      MetaFrame(Corpus.lmCounts(langed, "text"), Map.empty[String, Any]), "doc_id", "text")
    assert(qp.primaryKey.contains(Seq("id")))
    val sb = mf.withColumn("ls", length(col("text")).cast("double"))
      .scoreBucketedBy("lang", "doc_id", "ls")
    assert(sb.primaryKey.contains(Seq("id")))
    val ct = mf.ccnetTiered(
      MetaFrame(Corpus.lmCounts(langed, "text"), Map.empty[String, Any]),
      "doc_id", "text", "lang")
    assert(ct.primaryKey.contains(Seq("id")))
    // epochMix is row-preserving on the parent's own key
    val em = mf.epochMixed("doc_id", "lang", "t", budget = 10L, maxEpochs = 2)
    assert(em.primaryKey.contains(Seq("doc_id")))
    assert(em.metadata("lineage").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("op")) == Seq("epoch_mix"))
    // unkeyed parents make no id claim; fragment positions need no parent key
    val unkeyed = MetaFrame(langed, Map.empty[String, Any])
    assert(unkeyed.lineDeduped("doc_id", "text").primaryKey.isEmpty)
    assert(unkeyed.packedSequences("doc_id", "text", 16, "lang").primaryKey
      .contains(Seq("shard", "seq_id", "start_in_seq")))
  }

  test("curateCorpus stages interact: spans run over line-dedup rewrites, mix over gate survivors") {
    import spark.implicits._
    val common = Seq.fill(30)("w").mkString(" ")        // 30-token frequent base line
    val leak = (1 to 20).map(i => s"b$i").mkString(" ") // 20-token benchmark passage
    val corpus = Seq(
      (10L, s"$common\n$leak", "s0"),    // leaked span → excised in stage 2
      (11L, s"$common\nw w w w", "s0"),
      (12L, s"$common\nw w w w", "s0"),  // both lines dup doc 11's / doc 10's → removed
      (13L, "zz1 zz2 zz3 zz4", "s1"))    // all-rare doc → oov-dropped
      .toDF("doc_id", "text", "src")
    val bench = Seq((1L, leak, "b")).toDF("doc_id", "text", "src")
    val out = graft.operators.Assembly.curateCorpus(
      corpus.select(col("doc_id"), col("text"), col("src")),
      bench.select(col("doc_id"), col("text"), col("src")),
      "doc_id", "text", "src", oovPerMille = 100L, maxOovFrac = 0.3, budget = 100L)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_removed_lines"), r.getAs[Long]("n_decont_tokens"),
         Option(r.getAs[String]("drop_stage")))).toMap
    assert(out(10L)._2 == 20L) // the leaked passage excised whole
    assert(out(10L)._3.isEmpty)
    // first occurrence keeps: doc 11 loses the common line to doc 10,
    // doc 12 loses both lines
    assert(out(11L)._1 == 1L && out(12L)._1 == 2L)
    assert(out(13L)._3.contains("oov"))
  }

  test("vocabCoverage flags rare-token documents via the relative threshold") {
    import spark.implicits._
    // "common" appears 18x of 25 total occurrences, the rest are singletons
    val docs = Seq(
      (1L, Seq.fill(9)("common").mkString(" ")),
      (2L, Seq.fill(9)("common").mkString(" ") + " rare1 rare2 rare3"),
      (3L, "gibberish tokens only here"),
      (4L, ""))
      .toDF("doc_id", "text")
    // total=25 occurrences (empty token filtered); perMille=500 → c ≥ 12.5
    val out = Corpus.vocabCoverage(docs, "doc_id", "text", perMille = 500L)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"), r.getAs[Double]("oov_frac"))).toMap
    assert(out(1L) == ((9L, 0L, 0.0)))
    assert(out(2L) == ((12L, 3L, 0.25)))
    assert(out(3L) == ((4L, 4L, 1.0)))
    assert(out(4L) == ((0L, 0L, 0.0))) // empty doc: all-zero row, never NULL
  }

  test("epochMix repeats constrained sources up to maxEpochs and materializes exactly") {
    import spark.implicits._
    // big source: 16 docs; scarce source: 4 docs. Budget 24, maxEpochs 2:
    // weights 4e6 / 2e6 → quotas (24*4/6)=16 (=n, 1 epoch), (24*2/6)=8 =
    // 2*n (cap engaged) → every scarce doc repeats exactly twice
    val docs = ((1 to 16).map(i => (i.toLong, "big")) ++ (21 to 24).map(i => (i.toLong, "rare")))
      .toDF("doc_id", "src")
    val plan = Corpus.epochMix(docs, "doc_id", "src", "t", budget = 24L, maxEpochs = 2)
    val byDoc = plan.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("quota"), r.getAs[Long]("n_repeats"))).toMap
    assert((21L to 24L).forall(i => byDoc(i) == ((8L, 2L))))
    assert((1L to 16L).forall(i => byDoc(i) == ((16L, 1L))))
    // materialization emits sum(n_repeats) rows with 1-based repeat_idx
    val mat = Corpus.epochMaterialize(plan).collect()
    assert(mat.length == 16 + 8)
    assert(mat.filter(_.getAs[Long]("doc_id") == 21L)
      .map(_.getAs[Long]("repeat_idx")).sorted.toSeq == Seq(1L, 2L))
    // fractional epoch: budget 20 → rare quota (20*2/6)=6 = 1 full epoch
    // + 2 extra docs in digest order; deterministic under reordering
    val p2 = Corpus.epochMix(docs, "doc_id", "src", "t", 20L, 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_repeats")).toMap
    assert((21L to 24L).map(p2).sorted.toSeq == Seq(1L, 1L, 2L, 2L))
    val p3 = Corpus.epochMix(docs.orderBy(rand(3)), "doc_id", "src", "t", 20L, 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_repeats")).toMap
    assert(p2 == p3)
  }

  test("scoreBucketsAgainst agrees with training on trained bins and clamps unseen ones") {
    import spark.implicits._
    val train = (1 to 100).map(i => (i.toLong, i / 1000.0)).toDF("doc_id", "s")
    val model = Corpus.bucketModel(train, "doc_id", "s", nBuckets = 10, binWidthMicro = 1L)
    assert(model.count() == 9)
    // trained rows re-score identically through the frozen thresholds
    val trained = Corpus.scoreBuckets(train, "doc_id", "s", 10, 1L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("bucket")).toMap
    val frozen = Corpus.scoreBucketsAgainst(train, model, "doc_id", "s", 1L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("bucket")).toMap
    assert(frozen == trained)
    // unseen scores clamp: below range → 0, above range → 9
    val unseen = Seq((200L, 0.0001), (201L, 0.5)).toDF("doc_id", "s")
    val ub = Corpus.scoreBucketsAgainst(unseen, model, "doc_id", "s", 1L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("bucket")).toMap
    assert(ub == Map(200L -> 0, 201L -> 9))
  }

  test("scoreBuckets: near-equal deciles on a continuous score, tied bins stay whole") {
    import spark.implicits._
    // 100 distinct scores 0.001..0.100 → ten exact deciles of 10
    val cont = (1 to 100).map(i => (i.toLong, i / 1000.0)).toDF("doc_id", "s")
    val out = Corpus.scoreBuckets(cont, "doc_id", "s", nBuckets = 10, binWidthMicro = 1L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("bucket")).toMap
    val sizes = out.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(sizes == (0 to 9).map(_ -> 10).toMap, s"sizes $sizes")
    assert(out(1L) == 0 && out(100L) == 9)
    // monotone: higher score never gets a lower bucket
    assert((1L to 99L).forall(i => out(i) <= out(i + 1)))
    // massive ties: one bin holding 80% of rows takes ONE bucket whole
    val tied = ((1 to 80).map(i => (i.toLong, 0.5)) ++ Seq((81L, 0.1), (82L, 0.9)))
      .toDF("doc_id", "s")
    val tb = Corpus.scoreBuckets(tied, "doc_id", "s", 10, 1L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("bucket")).toMap
    assert(tb(81L) == 0)
    assert((1L to 80L).map(tb).toSet.size == 1) // all ties share one bucket
    assert(tb(82L) == 9)
  }

  test("electBest keeps the highest-score member per cluster, ties to smaller id") {
    import spark.implicits._
    val assigned = Seq(
      (1L, 100L, 0.5), (2L, 100L, 0.9), (3L, 100L, 0.9), // tie at 0.9 → id 2 wins
      (4L, 200L, 0.1))                                   // singleton keeps
      .toDF("id", "component", "quality")
    val out = Dedup.electBest(assigned, "id", "component", "quality")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("elect_rank"), r.getAs[Boolean]("keep"))).toMap
    assert(out(2L) == ((1L, true)) && out(3L) == ((2L, false)))
    assert(out(1L) == ((3L, false)))
    assert(out(4L) == ((1L, true)))
  }

  test("contrastiveTriplets pairs each anchor with nearest same-label and different-label partners") {
    import spark.implicits._
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val emb = Seq(
      (1L, v(1, 0), 0), (2L, v(0.99, 0.1), 0), (3L, v(0.7, 0.7), 0),
      (4L, v(0.9, 0.43), 1), (5L, v(0, 1), 1))
      .toDF("vec_id", "embedding", "label")
    val anchors = emb.filter(col("vec_id") === 1)
      .select(col("vec_id").as("aid"), col("embedding").as("avec"), col("label").as("alabel"))
    val out = Similarity.contrastiveTriplets(emb, "vec_id", "embedding", "label",
      anchors, "aid", "avec", "alabel").collect().head
    assert(out.getAs[Long]("pos_id") == 2L)  // nearest same-label
    assert(out.getAs[Long]("neg_id") == 4L)  // nearest different-label
    assert(out.getAs[Double]("margin") > 0.0) // easy triplet: pos closer than neg
  }

  test("hardNegatives returns only different-label neighbors, ranked by cosine") {
    import spark.implicits._
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val emb = Seq(
      (1L, v(1, 0), 0), (2L, v(0.99, 0.1), 0), // same label as query: excluded
      (3L, v(0.9, 0.3), 1), (4L, v(0.5, 0.8), 1), (5L, v(0, 1), 2))
      .toDF("vec_id", "embedding", "label")
    val q = emb.filter(col("vec_id") === 1)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
        col("label").as("query_label"))
    val out = Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
      q, "query_id", "query_vec", "query_label", k = 10).collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(3L, 4L, 5L)) // cos order
    assert(out.forall(_.getAs[Int]("neighbor_label") != 0))
  }

  test("prototypePrune drops the per-cell most-prototypical quota, keeps outliers") {
    import spark.implicits._
    // two separable clusters around (1,0) and (0,1); one far outlier per
    // cluster (lowest cent-cos → always kept at dropPct=50)
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val emb = Seq(
      (1L, v(1, 0)), (2L, v(1, 0.05)), (3L, v(1, -0.05)), (4L, v(0.4, 0.3)),
      (11L, v(0, 1)), (12L, v(0.05, 1)), (13L, v(-0.05, 1)), (14L, v(0.3, 0.4)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, v(1, 0)), (1L, v(0, 1))).toDF("cell", "cvec")
    val out = Similarity.prototypePrune(emb, "vec_id", "embedding", cents, "cell", "cvec", dropPct = 50)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("proto_rank"), r.getAs[Long]("cell_size"), r.getAs[Boolean]("keep"))).toMap
    // each cell has 4 members → drop quota = 2: the two closest to the
    // centroid drop, the outlier (rank 4) and rank 3 survive
    assert(out.values.forall(_._2 == 4L))
    assert(out.count(!_._2._3) == 4)
    assert(out(4L)._3 && out(14L)._3) // outliers always kept
    assert(!out(1L)._3 && !out(11L)._3) // exact-centroid members dropped
    // dropPct = 0 keeps everything
    val all = Similarity.prototypePrune(emb, "vec_id", "embedding", cents, "cell", "cvec", 0)
      .collect()
    assert(all.forall(_.getAs[Boolean]("keep")))
  }

  test("bpeTrain learns greedy merges with exact tie-breaks; bpeSegment applies them left-to-right") {
    import spark.implicits._
    // "abab" x3 + "aab" x2: round 0 pair counts: (a,b)=8, (b,a)=3, (a,a)=2
    val docs = Seq((1L, "abab abab abab aab aab")).toDF("doc_id", "text")
    val merges = Corpus.bpeTrain(docs, "text", nMerges = 3).collect()
      .map(r => (r.getAs[Int]("merge_rank"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[String]("merged"), r.getAs[Long]("pair_count")))
    assert(merges(0) == ((0, "a", "b", "ab", 8L)))
    // after merging ab: "abab"->[ab,ab] x3 → (ab,ab)=3; "aab"->[a,ab] x2 → (a,ab)=2
    assert(merges(1) == ((1, "ab", "ab", "abab", 3L)))
    assert(merges(2) == ((2, "a", "ab", "aab", 2L)))
    val m = Corpus.bpeTrain(docs, "text", nMerges = 3)
    val seg = Corpus.bpeSegment(Seq((7L, "abab aab ababab ba")).toDF("doc_id", "text"),
      "doc_id", "text", m).collect().head
    // ababab: greedy → [ab,ab,ab] → [abab, ab]; ba: no merge applies
    assert(seg.getAs[String]("segmented") == "abab aab abab+ab b+a")
    assert(seg.getAs[Long]("n_words") == 4L)
    assert(seg.getAs[Long]("n_subwords") == 6L)
    // repeat semantics: "b b b b" under (b,b) merges to [bb][bb], not [bb][b][b]
    val m2 = Seq((0, "b", "b", "bb", 1L)).toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
    val seg2 = Corpus.bpeSegment(Seq((1L, "bbbb bbb")).toDF("doc_id", "text"), "doc_id", "text", m2)
      .collect().head
    assert(seg2.getAs[String]("segmented") == "bb+bb bb+b")
  }

  test("bpeTrainBatched: batchSize=1 reproduces bpeTrain exactly; batches skip symbol conflicts") {
    import spark.implicits._
    // a corpus with merged-symbol reuse and ties — the sequential trainer's
    // hardest fixture — must survive the batched path at batchSize = 1
    val docs = Seq((1L, "abab abab abab aab aab merger merger mer er er er")).toDF("doc_id", "text")
    val seqMerges = Corpus.bpeTrain(docs, "text", nMerges = 6).collect().map(_.toSeq)
    val b1Merges = Corpus.bpeTrain(docs, "text", nMerges = 6, batchSize = 1)
      .collect().map(_.toSeq)
    assert(b1Merges.toSeq == seqMerges.toSeq)
    // the exact greedy sequence, derived by hand: 8 (a,b) and 8 (e,r)
    // occurrences tie and break on lhs; merged symbols are reused
    assert(seqMerges.toSeq == Seq(
      Seq(0, "a", "b", "ab", 8L), Seq(1, "e", "r", "er", 8L), Seq(2, "ab", "ab", "abab", 3L),
      Seq(3, "m", "er", "mer", 3L), Seq(4, "a", "ab", "aab", 2L), Seq(5, "g", "er", "ger", 2L)))

    // conflict skip: pair counts (a,b)=10 > (b,c)=9 > (c,d)=8 > (x,y)=7;
    // one round at batchSize=3 accepts (a,b), rejects (b,c) on the shared
    // b, then accepts (c,d) and caps — all at ROUND-START counts
    val conflict = Seq((1L,
      (Seq.fill(10)("ab") ++ Seq.fill(9)("bc") ++ Seq.fill(8)("cd") ++ Seq.fill(7)("xy"))
        .mkString(" "))).toDF("doc_id", "text")
    val batched = Corpus.bpeTrain(conflict, "text", nMerges = 6, batchSize = 3)
      .collect().map(r => (r.getAs[Int]("merge_rank"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[String]("merged"), r.getAs[Long]("pair_count")))
    assert(batched(0) == ((0, "a", "b", "ab", 10L)))
    assert(batched(1) == ((1, "c", "d", "cd", 8L)))
    assert(batched(2) == ((2, "x", "y", "xy", 7L)))
    // round 2 (cap 3) has exactly one surviving pair left; the static
    // round structure ends after ceil(6/3)=2 rounds with 4 total merges
    assert(batched(3) == ((3, "b", "c", "bc", 9L)))
    assert(batched.length == 4)
    // determinism: the table is a pure function of the corpus
    val again = Corpus.bpeTrain(conflict, "text", nMerges = 6, batchSize = 3)
      .collect().map(_.toSeq)
    assert(again.toSeq == batched.map(t => Seq(t._1, t._2, t._3, t._4, t._5)).toSeq)
    // the batched table feeds bpeSegment unchanged
    val seg = Corpus.bpeSegment(Seq((9L, "abcd xy")).toDF("doc_id", "text"), "doc_id", "text",
      Corpus.bpeTrain(conflict, "text", nMerges = 6, batchSize = 3)).collect().head
    assert(seg.getAs[String]("segmented") == "ab+cd xy")
  }

  test("scoreBucketsBy buckets independently per group; ccnetTiers orders by LM evidence within language") {
    import spark.implicits._
    // two groups whose score ranges do not overlap: bucketing must be
    // computed inside each group, not over the pooled distribution
    val rows = (1 to 10).map(i => (i.toLong, "a", i.toDouble)) ++
      (1 to 10).map(i => (100L + i, "b", 100.0 + i))
    val bk = Corpus.scoreBucketsBy(rows.toDF("doc_id", "grp", "s"),
        "grp", "doc_id", "s", nBuckets = 2, binWidthMicro = 1000000L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("bucket")).toMap
    (1 to 5).foreach(i => assert(bk(i.toLong) == 0))
    (6 to 10).foreach(i => assert(bk(i.toLong) == 1))
    (1 to 5).foreach(i => assert(bk(100L + i) == 0))
    (6 to 10).foreach(i => assert(bk(100L + i) == 1))

    // ccnet tiers: within each lang, docs of common words (low avg_nll)
    // land in the head tier, rare-word docs in the tail
    val common = "the the the cat cat"
    val corpus = Seq(
      (1L, "en", common), (2L, "en", common + " dog"), (3L, "en", "zyx qwv unique rare"),
      (11L, "fr", common), (12L, "fr", common + " dog"), (13L, "fr", "bizarre unheard gloss rare"),
      (20L, "en", "   ")) // token-less: excluded
      .toDF("doc_id", "lang", "text")
    val lm = Corpus.lmCounts(corpus, "text")
    val tiers = Corpus.ccnetTiers(corpus, lm, "doc_id", "text", "lang", nTiers = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("tier")).toMap
    assert(!tiers.contains(20L))
    assert(tiers(1L) == 0 && tiers(11L) == 0) // head: most-frequent words
    assert(tiers(3L) == 2 && tiers(13L) == 2) // tail: rare words
    assert(tiers(2L) == 1 && tiers(12L) == 1)
  }

  test("redactPiiAudited: per-category counts on original text, replacements chained in pattern order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail bob.smith@corp-mail.example.org or call 555-123-4567 from 10.0.0.1 now"),
      (2L, "overlap a555-123-4567@b.com stays one email"),
      (3L, "nothing sensitive here"),
      (4L, null.asInstanceOf[String]),
      (5L, "two mails x@y.zz and w@v.qq plus +1 555-000-1111 wait that is 555 000 1111"))
      .toDF("doc_id", "text")
    val out = Corpus.redactPiiAudited(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_email"), r.getAs[Long]("n_phone"), r.getAs[Long]("n_ip"),
          r.getAs[Long]("n_pii")), r.getAs[String]("text_redacted"))).toMap
    assert(out(1L)._1 == ((1L, 1L, 1L, 3L)))
    assert(out(1L)._2 == "mail <EMAIL> or call <PHONE> from <IP> now")
    // the phone digits sit INSIDE the email: counted on the original (1
    // each), but the email replacement runs first so the phone survives
    // only as part of the mask — no double replacement
    assert(out(2L)._1 == ((1L, 1L, 0L, 2L)))
    assert(out(2L)._2 == "overlap <EMAIL> stays one email")
    assert(out(3L)._1 == ((0L, 0L, 0L, 0L)))
    assert(out(4L)._1 == ((0L, 0L, 0L, 0L)) && out(4L)._2 == "")
    // '555 000 1111' (spaces) matches the space-separated variant too
    assert(out(5L)._1 == ((2L, 2L, 0L, 4L)))
    assert(out(5L)._2 == "two mails <EMAIL> and <EMAIL> plus +1 <PHONE> wait that is <PHONE>")
  }

  test("charStats: disjoint class counts and exact-integer entropy") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaa"), // single symbol → zero entropy
      (2L, "abab"), // two equiprobable symbols → 2·2·round(ln 2 ·1e6)
      (3L, "a1 !"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Corpus.charStats(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(1L).getAs[Long]("entropy_micro_nats") == 0L)
    assert(out(2L).getAs[Long]("entropy_micro_nats") == 4L * 693147L)
    val d3 = out(3L)
    assert(d3.getAs[Long]("n_chars") == 4L && d3.getAs[Long]("n_alpha") == 1L &&
      d3.getAs[Long]("n_digit") == 1L && d3.getAs[Long]("n_space") == 1L &&
      d3.getAs[Long]("n_other") == 1L)
    // the four classes are disjoint and exhaustive
    assert(d3.getAs[Long]("n_alpha") + d3.getAs[Long]("n_digit") +
      d3.getAs[Long]("n_space") + d3.getAs[Long]("n_other") == d3.getAs[Long]("n_chars"))
    val d4 = out(4L)
    assert(d4.getAs[Long]("n_chars") == 0L && d4.getAs[Long]("entropy_micro_nats") == 0L)
  }

  test("charStats native expression == HOF reference on real corpus text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val native = Corpus.charStats(docs, "doc_id", "text").orderBy("id").collect()
    val hof = Corpus.charStatsHof(docs, "doc_id", "text").orderBy("id").collect()
    assert(native.length == hof.length && native.length > 0)
    native.zip(hof).foreach { case (a, b) => assert(a == b) }
  }

  test("gopherRepetition: nine A1.1 signals from one row-local pass, coverage counts overlaps once") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"), // top-n rules fire; no 5+-gram repeats
      (2L, (1 to 60).map(i => s"t$i").mkString(" ")), // all unique, long enough to be non-degenerate → keep
      (3L, "x y z w v x y z w v u1 u2"), // repeated 5-gram covers 10 of 14 chars
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Corpus.gopherRepetition(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    val d1 = out(1L)
    assert(d1.getAs[Long]("total_chars") == 6L)
    assert(d1.getAs[Long]("top2_chars") == 6L) // (a,b) x3 of len 2
    assert(d1.getAs[Long]("top3_chars") == 6L) // (a,b,a) x2 of len 3
    assert(d1.getAs[Long]("top4_chars") == 8L) // overlap: numerator may exceed total
    assert(d1.getAs[Long]("dup5_chars") == 0L)
    assert(d1.getAs[String]("reasons") == "top_2gram,top_3gram,top_4gram")
    assert(!d1.getAs[Boolean]("keep"))
    val d2 = out(2L)
    // all counts 1: the "most frequent" 2-gram is the longest one (6
    // chars of t10-ish pairs) — negligible against 171 total chars
    assert(d2.getAs[Long]("top2_chars") == 6L && d2.getAs[Boolean]("keep"))
    val d3 = out(3L)
    assert(d3.getAs[Long]("total_chars") == 14L)
    // the 5-gram (x y z w v) occurs twice: positions 0..4 and 5..9 — ten
    // 1-char tokens covered, the union counted once
    assert(d3.getAs[Long]("dup5_chars") == 10L)
    assert(d3.getAs[Long]("dup6_chars") == 0L)
    assert(d3.getAs[String]("reasons").contains("dup_5gram"))
    val d4 = out(4L)
    assert(d4.getAs[Long]("total_chars") == 0L && d4.getAs[Boolean]("keep"))
  }

  test("gopherRules: every rule fires independently on exact integer signals") {
    import spark.implicits._
    val w40 = (1 to 40).map(i => s"word$i the of").mkString(" ") // 120 words, stopwords ok
    val docs = Seq(
      (1L, w40), // 120 words in [50,100000], all rules pass
      (2L, "the of tiny"), // 3 words < 50 → bad_word_count
      (3L, (1 to 60).map(_ => "ab the of").mkString(" ")), // mean len (2+3+2)/3=2.33 < 3
      (4L, (1 to 30).map(_ => "the of ####").mkString(" ")), // 120 # / 90 words > 10%
      (5L, (1 to 30).map(_ => "the of see...").mkString(" ")), // 30 ellipses / 90 words > 10%
      (6L, (1 to 60).map(i => s"- item$i the of").mkString("\n")), // every line bullet > 90%
      (7L, (1 to 60).map(i => s"line$i the of trails ...").mkString("\n")), // every line ends ... > 30%
      (8L, (1 to 60).map(_ => "1234 567 the of 89 00 11 22 33 44").mkString(" ")), // 2/10 alpha < 80%
      (9L, (1 to 60).map(i => s"word$i only one stop the").mkString(" ")), // 1 distinct stopword < 2
      (10L, ((1 to 30).map(i => s"uniq$i the of x y z") ++
        (1 to 20).map(_ => "repeat the of me now please")).mkString("\n")), // 19/50 dup lines > 30%
      (11L, Seq.fill(2)((1 to 30).map(i => s"par$i the of a b c").mkString("\n"))
        .mkString("\n\n"))) // doubled text → dup paragraph + dup lines + char rules
      .toDF("doc_id", "text")
    val out = Corpus.gopherRules(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("reasons"), r.getAs[Boolean]("keep"))).toMap
    assert(out(1L) == (("", true)))
    assert(out(2L)._1 == "bad_word_count")
    assert(out(3L)._1 == "bad_mean_word_length")
    assert(out(4L)._1.contains("too_many_hashes")) // '####' also fails the alpha rule
    assert(out(5L)._1.contains("too_many_ellipses"))
    assert(out(6L)._1.contains("too_many_bullet_lines")) // '-' words also dent alpha
    assert(out(7L)._1.contains("too_many_ellipsis_lines"))
    assert(out(8L)._1.contains("too_few_alpha_words"))
    assert(out(9L)._1 == "too_few_stopwords")
    assert(out(10L)._1.contains("dup_lines"))
    assert(out(11L)._1.contains("dup_paragraphs") && out(11L)._1.contains("dup_lines") &&
      out(11L)._1.contains("dup_line_chars") && out(11L)._1.contains("dup_paragraph_chars"))
    assert(!out(11L)._2)
    // exact signal spot-checks on the doubled doc: 61 lines (30 + the
    // empty between-paragraph line + 30), 31 distinct; 2 paragraphs, 1
    // distinct, the dup paragraph carrying exactly half the char mass
    val d11 = Corpus.gopherRules(docs.filter($"doc_id" === 11L), "doc_id", "text").head()
    assert(d11.getAs[Long]("n_lines") == 61L && d11.getAs[Long]("n_dup_lines") == 30L)
    assert(d11.getAs[Long]("n_paras") == 2L && d11.getAs[Long]("n_dup_paras") == 1L)
    assert(d11.getAs[Long]("dup_para_chars") * 2 == d11.getAs[Long]("para_chars"))
  }

  test("c4LineFilter applies each line rule and each doc rule independently") {
    import spark.implicits._
    val good = "this line has enough words."
    val docs = Seq(
      (1L, s"$good\nanother proper sentence right here!\nthird full sentence is also fine?"),
      (2L, s"$good\nno terminal punctuation here at all\n$good\n$good"), // punct rule drops line 2
      (3L, s"$good\ntoo short.\n$good\n$good"), // word-count rule
      (4L, s"$good\nthis JavaScript line would be dropped.\n$good\n$good"), // case-insensitive js rule
      (5L, s"$good\ncode block { right inside.\n$good"), // doc rule: brace
      (6L, s"$good\nsome classic Lorem Ipsum filler.\n$good\n$good"), // doc rule: lorem ipsum
      (7L, s"$good\n$good")) // only 2 surviving lines < minLines
      .toDF("doc_id", "text")
    val out = Corpus.c4LineFilter(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept_lines"), r.getAs[Boolean]("keep"))).toMap
    assert(out(1L) == ((3L, 3L, true)))
    assert(out(2L) == ((4L, 3L, true))) // line dropped, doc survives on the rest
    assert(out(3L) == ((4L, 3L, true)))
    assert(out(4L) == ((4L, 3L, true)))
    assert(out(5L) == ((3L, 3L, false))) // line rules all pass; brace kills the doc
    assert(out(6L) == ((4L, 4L, false)))
    assert(out(7L) == ((2L, 2L, false)))
  }

  test("packSequences tiles each shard's token stream exactly and reconstructs every doc") {
    import spark.implicits._
    val docs = (1L to 30L).map(i =>
      (i, (1L to (i % 7) * 13 + 4).map(j => s"t${i}_$j").mkString(" "), s"s${i % 3}"))
      .toDF("doc_id", "text", "src")
    val frags = Corpus.packSequences(docs, "doc_id", "text", seqLen = 16, shardCol = "src")
      .collect()
    val byDoc = frags.groupBy(_.getAs[Long]("id"))
    val docToks = docs.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // every doc reconstructs from its fragments in frag_idx order
    for ((id, fs) <- byDoc) {
      val rebuilt = fs.sortBy(_.getAs[Long]("frag_idx")).map(_.getAs[String]("frag_text")).mkString(" ")
      assert(rebuilt == docToks(id), s"doc $id")
      assert(fs.map(_.getAs[Long]("n_frag_tokens")).sum == docToks(id).split("\\s+").length)
    }
    // within a shard, every sequence except the last is exactly full, and
    // fragments tile [0, seqLen) without gap or overlap
    for ((_, sf) <- frags.groupBy(_.getAs[String]("shard"))) {
      val bySeq = sf.groupBy(_.getAs[Long]("seq_id")).toSeq.sortBy(_._1)
      for (((q, fs), k) <- bySeq.zipWithIndex) {
        val spans = fs.map(r => (r.getAs[Long]("start_in_seq"), r.getAs[Long]("n_frag_tokens")))
          .sortBy(_._1)
        assert(spans.head._1 == 0L, s"seq $q starts at 0")
        spans.sliding(2).filter(_.length == 2).foreach { pair =>
          assert(pair(0)._1 + pair(0)._2 == pair(1)._1, s"seq $q contiguous")
        }
        val total = spans.map(_._2).sum
        if (k < bySeq.length - 1) assert(total == 16L, s"seq $q full")
        else assert(total <= 16L, s"seq $q last")
      }
    }
    // deterministic under input reordering (the digest order is data-pure)
    val again = Corpus.packSequences(docs.orderBy(rand(7)), "doc_id", "text", 16, "src")
      .collect().map(_.toString).sorted.toSeq
    assert(again == frags.map(_.toString).sorted.toSeq)
  }

  test("spanDedup removes non-first duplicated spans as a position union; short docs pass through") {
    import spark.implicits._
    // 6-token duplicated run planted in docs 1 and 2 (span length 4 →
    // three duplicated windows in each, overlapping → union removal)
    val dup = "d1 d2 d3 d4 d5 d6"
    val docs = Seq(
      (1L, s"a1 a2 $dup a3 a4"),
      (2L, s"b1 $dup b2 b3 b4"),
      (3L, "c1 c2 c3")) // shorter than spanLen: no windows
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", spanLen = 4)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_spans"),
         r.getAs[Long]("n_removed_tokens"), r.getAs[String]("text_deduped"))).toMap
    // doc 1 is the first global occurrence → keeps its copy intact
    assert(out(1L) == ((10L, 0L, 0L, s"a1 a2 $dup a3 a4")))
    // doc 2 loses the union of its three duplicated windows = the whole run
    assert(out(2L) == ((10L, 3L, 6L, "b1 b2 b3 b4")))
    // doc 3: below spanLen, byte-identical pass-through
    assert(out(3L) == ((3L, 0L, 0L, "c1 c2 c3")))
  }

  test("quantileNormalizeAgainst: own-corpus apply == inline; carry-down + below-range NULL") {
    import spark.implicits._
    val train = Seq((1L, "A", 0.1), (2L, "A", 0.2), (3L, "A", 0.3),
      (4L, "B", 0.7), (5L, "B", 0.8), (6L, "B", 0.9)).toDF("id", "g", "s")
    val model = Corpus.quantileNormalizeModel(train, "g", "s")
    // applying the model to its own training corpus reproduces the inline op
    val served = Corpus.quantileNormalizeAgainst(train, model, "g", "id", "s")
      .collect().map(_.toString).sorted.toSeq
    val inline = Corpus.quantileNormalizeBy(train, "g", "id", "s")
      .collect().map(_.toString).sorted.toSeq
    assert(served == inline, s"served=$served inline=$inline")
    // new rows: 0.25 (between trained A bins) carries DOWN to 0.2's
    // mapping; 0.05 (below A's range) gets NULL; untrained group NULL
    val fresh = Seq((10L, "A", 0.25), (11L, "A", 0.05), (12L, "Z", 0.5))
      .toDF("id", "g", "s")
    val got = Corpus.quantileNormalizeAgainst(fresh, model, "g", "id", "s")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(4)), Option(r.get(5))))).toMap
    val a02 = Corpus.quantileNormalizeBy(train, "g", "id", "s")
      .filter(col("id") === 2L).collect().head
    assert(got(10L) == ((Some(a02.getLong(4)), Some(a02.getLong(5)))), s"$got")
    assert(got(11L) == ((None, None)), s"below range must be NULL: $got")
    assert(got(12L) == ((None, None)), s"untrained group must be NULL: $got")
  }

  test("leakageSafeSplitIncremental: components inherit together; no-match batch == plain split") {
    import spark.implicits._
    val batch = (1L to 20L).map(i => (i, s"doc $i")).toDF("id", "text")
    // batch components: {1,2} chained; {3} solo. 2 matches corpus 100
    // (split 'val' by fiat) → BOTH 1 and 2 inherit 'val'; 3 hashes.
    val bPairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val xPairs = Seq((2L, 100L), (2L, 200L)).toDF("bid", "cid") // min cid = 100
    val corpus = Seq((100L, "val"), (200L, "test")).toDF("cid", "split")
    val got = Corpus.leakageSafeSplitIncremental(
        batch, "id", bPairs, "id_a", "id_b",
        corpus, "cid", "split", xPairs, "bid", "cid", salt = "graft")
      .select("id", "component", "inherited_from", "bucket", "split")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3)), r.getString(4)))).toMap
    assert(got.size == 20, "row conservation")
    assert(got(1L) == ((1L, Some(100L), None, "val")), s"$got")
    assert(got(2L) == ((1L, Some(100L), None, "val")), "whole component inherits")
    assert(got(3L)._2.isEmpty && got(3L)._3.nonEmpty, "unmatched hashes with a bucket")
    // a batch with no cross pairs reproduces the plain component split
    val plain = Corpus.leakageSafeSplit(batch, "id", bPairs, "id_a", "id_b", "graft")
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val none = Corpus.leakageSafeSplitIncremental(
        batch, "id", bPairs, "id_a", "id_b",
        corpus, "cid", "split", xPairs.filter(col("bid") < 0), "bid", "cid",
        salt = "graft")
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(none == plain, s"none=$none plain=$plain")
  }

  test("applyChanges: latest wins, delete beats upsert on ts tie, unknown op fails loudly") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val feed = Seq(
      (1L, "x1", "upsert", 10L), (1L, "x2", "upsert", 20L), // latest upsert wins
      (2L, "y", "upsert", 30L), (2L, "y-del", "delete", 30L), // tie → delete
      (4L, "new", "upsert", 5L)) // insert
      .toDF("id", "v", "op", "cts")
    val got = Corpus.applyChanges(base, feed, "id", "op", "cts")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "x2", 3L -> "c", 4L -> "new"), s"$got")
    val bad = Seq((1L, "z", "uspert", 1L)).toDF("id", "v", "op", "cts")
    val e = intercept[Exception] {
      Corpus.applyChanges(base, bad, "id", "op", "cts").collect()
    }
    assert(e.getMessage.contains("unknown op") ||
      Option(e.getCause).exists(_.getMessage.contains("unknown op")), s"$e")
  }

  test("quantileNormalizeBy: same within-group rank → same normalized value across scales") {
    import spark.implicits._
    // two groups with disjoint raw scales; rank-aligned rows must land on
    // identical normalized values
    val df = Seq(
      (1L, "A", 0.1), (2L, "A", 0.2), (3L, "A", 0.3),
      (4L, "B", 0.7), (5L, "B", 0.8), (6L, "B", 0.9)
    ).toDF("id", "g", "s")
    val got = Corpus.quantileNormalizeBy(df, "g", "id", "s")
      .collect().map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5)))).toMap
    // hand-derived: bins 100/200/300/700/800/900 each count 1, N=6;
    // mid-ranks per group (n=3): 166666 / 500000 / 833333 → global
    // positions 0 / 3 / 4 → bins 100 / 700 / 800 → micro 100000/700000/800000
    assert(got(1L) == ((166666L, 100000L)), s"$got")
    assert(got(2L) == ((500000L, 700000L)), s"$got")
    assert(got(3L) == ((833333L, 800000L)), s"$got")
    assert(got(4L) == got(1L) && got(5L) == got(2L) && got(6L) == got(3L),
      s"rank-aligned rows must normalize identically: $got")
    // singleton group sits at the median rank
    val solo = Corpus.quantileNormalizeBy(
      Seq((1L, "X", 0.5)).toDF("id", "g", "s"), "g", "id", "s")
      .collect().head
    assert(solo.getLong(4) == 500000L)
  }

  test("leakageSafeSplit: near-dup components never straddle a split; unpaired rows match hashSplit") {
    import spark.implicits._
    val corpus = (1L to 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // plant components: {1,2,3} chained, {10,11}, everything else unpaired
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Corpus.leakageSafeSplit(corpus, "doc_id", pairs, "id_a", "id_b",
        salt = "graft")
      .select("doc_id", "component", "split")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got.size == 40, "row conservation")
    // all members of a component share the component label AND the split
    assert(Seq(1L, 2L, 3L).map(got(_)).distinct.size == 1)
    assert(got(1L)._1 == 1L)
    assert(Seq(10L, 11L).map(got(_)).distinct.size == 1)
    assert(got(10L)._1 == 10L)
    // unpaired rows degenerate to the plain id-hash split
    val plain = Corpus.hashSplit(corpus, "doc_id", salt = "graft")
      .select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (4L to 9L).foreach { i =>
      assert(got(i) == ((i, plain(i))), s"unpaired doc $i must match hashSplit")
    }
  }

  test("native UnigramViterbi is bit-equal to the HOF reference DP on every word form") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions._
    val scores = Map("th" -> -800000L, "the" -> -700000L, "e" -> -1200000L,
      "t" -> -1500000L, "h" -> -1600000L, "ca" -> -900000L, "cat" -> -850000L)
    // ties, unknown single chars, forbidden multi-chars, truncation past
    // maxWordLen, empty string, a multi-codepoint char
    val words = Seq("the", "thecat", "zzz", "a", "", "thethethethethe",
      "cathe", "\u00e9cat").toDF("w")
    val native = words.select(col("w"),
      graft.expressions.UnigramViterbi(col("w"), scores, 3, 12).as("sp"))
    val hof = words.select(col("w"),
      graft.operators.Corpus.unigramViterbiHof(col("w"),
        typedLit(scores), 3, 12).as("sp"))
    val n = native.collect().map(r => r.getString(0) -> r.getSeq[Any](1).toString).toMap
    val h = hof.collect().map(r => r.getString(0) -> r.getSeq[Any](1).toString).toMap
    assert(n == h, s"native=$n\nhof=$h")
  }
}
