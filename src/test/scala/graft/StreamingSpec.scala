package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{MetaStreamWriter, Streams}
import graft.streaming.Streams.Event

/** Structured-Streaming tests driven by MemoryStream: watermarked windowed
  * aggregation, watermark-bounded dedup, custom stateful sessionization, and
  * the metadata-carrying stream writer facade. */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("tumbling window agg over a stream (complete mode)") {
    import spark.implicits._
    val ms = MemoryStream[Event](spark)
    ms.addData(
      Event(1L, ts(1), 100L, "click", 1.0),
      Event(2L, ts(2), 100L, "click", 2.0),
      Event(3L, ts(31), 101L, "buy", 10.0))
    val agg = Streams.tumblingAgg(ms.toDF(), "ts", "30 minutes", "10 minutes")
    val q = Streams.runToMemory(agg, "tumbling_out", OutputMode.Complete())
    try {
      val rows = spark.table("tumbling_out").collect()
      assert(rows.length == 2)
      val byType = rows.map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_events")).toMap
      assert(byType == Map("click" -> 2L, "buy" -> 1L))
    } finally q.stop()
  }

  test("append mode emits only watermark-finalized windows") {
    import spark.implicits._
    val ms = MemoryStream[Event](spark)
    val agg = Streams.tumblingAgg(ms.toDF(), "ts", "10 minutes", "5 minutes")
    val q = Streams.runToMemory(agg, "append_out", OutputMode.Append())
    try {
      ms.addData(Event(1L, ts(1), 100L, "click", 1.0), Event(2L, ts(2), 100L, "click", 2.0))
      q.processAllAvailable()
      // watermark still at 10:02-5min → first window not finalized yet
      assert(spark.table("append_out").isEmpty)
      // an event far past the window advances the watermark and closes it
      ms.addData(Event(3L, ts(45), 100L, "click", 3.0))
      q.processAllAvailable()
      ms.addData(Event(4L, ts(59), 100L, "click", 4.0))
      q.processAllAvailable()
      val finalized = spark.table("append_out").collect()
      assert(finalized.exists(r => r.getAs[Long]("n_events") == 2L),
        s"expected the closed 10:00 window, got ${finalized.mkString(",")}")
    } finally q.stop()
  }

  test("watermarked stream-stream interval join matches the batch join and evicts expired state") {
    import spark.implicits._
    // impressions and clicks: click attributes to an impression with the
    // same ad key within 10 minutes
    val imp = MemoryStream[(Long, Timestamp)](spark)
    val clk = MemoryStream[(Long, Timestamp)](spark)
    val impDf = imp.toDF().toDF("ad", "imp_ts")
    val clkDf = clk.toDF().toDF("cad", "click_ts")
    val joined = Streams.streamIntervalJoin(impDf, clkDf,
        "ad", "cad", "imp_ts", "click_ts", maxDelaySeconds = 600)
      .select(col("ad"), col("imp_ts"), col("click_ts"))
    // APPEND is the only output mode Spark supports for stream-stream
    // inner joins — this query starting at all IS the mode pin
    val q = Streams.runToMemory(joined, "ssjoin_out", OutputMode.Append())
    try {
      // batch 1: one attributable click (10:05 − 10:00 ≤ 10 min), one
      // out-of-window click (10:31 − 10:20 > 10 min)
      imp.addData((7L, ts(0)), (8L, ts(20)))
      clk.addData((7L, ts(5)), (8L, ts(31)))
      q.processAllAvailable()
      val onTime = spark.table("ssjoin_out").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
      assert(onTime == Set((7L, ts(0), ts(5))), onTime.toString)
      // the SAME call on batch frames is the plain interval join — the
      // streamed result must match it row for row on the same data
      val batch = Streams.streamIntervalJoin(
          Seq((7L, ts(0)), (8L, ts(20))).toDF("ad", "imp_ts"),
          Seq((7L, ts(5)), (8L, ts(31))).toDF("cad", "click_ts"),
          "ad", "cad", "imp_ts", "click_ts", maxDelaySeconds = 600)
        .select(col("ad"), col("imp_ts"), col("click_ts"))
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
      assert(batch == onTime, s"stream ≡ batch violated: $batch vs $onTime")
      // advance BOTH watermarks far past imp 7's join window
      // (10:00 + 10 min); its state-store entry is now evictable
      imp.addData((99L, Timestamp.valueOf("2024-01-01 12:00:00")))
      clk.addData((98L, Timestamp.valueOf("2024-01-01 12:00:00")))
      q.processAllAvailable()
      // a click inside imp 7's window but behind the watermark arrives
      // late: the evicted state must NOT produce a join row
      clk.addData((7L, ts(8)))
      q.processAllAvailable()
      val afterLate = spark.table("ssjoin_out").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
      assert(afterLate == onTime,
        s"late click joined against evicted state: $afterLate")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups repeated event ids") {
    import spark.implicits._
    val ms = MemoryStream[Event](spark)
    ms.addData(
      Event(1L, ts(1), 100L, "click", 1.0),
      Event(1L, ts(2), 100L, "click", 1.0), // dup id within watermark
      Event(2L, ts(3), 100L, "click", 2.0))
    val dd = Streams.dedupWithinWatermark(ms.toDF(), "ts", "30 minutes", Seq("event_id"))
    val q = Streams.runToMemory(dd, "dedup_out", OutputMode.Append())
    try {
      assert(spark.table("dedup_out").select("event_id").distinct().count() ==
        spark.table("dedup_out").count())
      assert(spark.table("dedup_out").count() == 2)
    } finally q.stop()
  }

  test("streaming incremental near-dedup matches a doc stream against a static corpus") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val corpus = Seq(
      (1L, base),
      (2L, "completely different content about database query engines and columnar storage")
    ).toDF("doc_id", "text")
    val ms = MemoryStream[(Long, String)](spark)
    val stream = ms.toDF().toDF("doc_id", "text")
    val out = Streams.incrementalNearDupStream(stream, corpus, "doc_id", "text")
    // batch 1: one duplicate of corpus doc 1, one novel doc
    ms.addData((10L, base), (11L, "novel text on watermark semantics in state stores"))
    val q = Streams.runToMemory(out, "inc_dedup_out", OutputMode.Update())
    try {
      val rows1 = spark.table("inc_dedup_out").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows1 == Map(10L -> 1L), s"got $rows1") // novel doc emits nothing
      // batch 2: a second micro-batch matches too — the stream keeps going
      ms.addData((12L, base))
      q.processAllAvailable()
      val rows2 = spark.table("inc_dedup_out").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows2 == Map(10L -> 1L, 12L -> 1L), s"got $rows2")
    } finally q.stop()
  }

  test("streaming winnow near-dedup emits exactly the batch operator's matches") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val nearDup = base.replace("today", "tonight")
    val corpus = Seq(
      (1L, base),
      (2L, "completely different content about database query engines and columnar storage")
    ).toDF("doc_id", "text")
    val batchDocs = Seq(
      (10L, nearDup),
      (11L, "novel text on watermark semantics in state stores"))
    val ms = MemoryStream[(Long, String)](spark)
    val out = Streams.winnowIncrementalStream(
      ms.toDF().toDF("doc_id", "text"), corpus, "doc_id", "text")
    ms.addData(batchDocs: _*)
    val q = Streams.runToMemory(out, "winnow_inc_out", OutputMode.Update())
    try {
      val streamed = spark.table("winnow_inc_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // the batch twin on the same batch: matched rows must agree bit-for-bit
      // (winnowing recall is deterministic, confirm is exact arithmetic);
      // the stream emits only matched docs, the batch also NULL-rows new ones
      val batch = graft.operators.Dedup.winnowIncremental(
          corpus, batchDocs.toDF("doc_id", "text"), "doc_id", "text")
        .filter(col("matched_id").isNotNull).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch, s"stream $streamed vs batch $batch")
      assert(streamed.map(_._1) == Set(10L), s"only the near-dup matches: $streamed")
      // a later micro-batch keeps matching — the static index re-joins
      ms.addData((12L, base))
      q.processAllAvailable()
      val rows2 = spark.table("winnow_inc_out").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows2 == Map(10L -> 1L, 12L -> 1L), s"got $rows2")
    } finally q.stop()
  }

  test("streaming SemDeDup emits exactly the batch operator's matched verdicts") {
    import spark.implicits._
    val store = Seq(
      (1L, Seq(1.0f, 0f, 0f, 0f)),
      (2L, Seq(0.8f, 0.6f, 0f, 0f)),
      (3L, Seq(0f, 0f, 1.0f, 0f))).toDF("vec_id", "embedding")
    val centroids = Seq(
      (0L, Seq(1.0f, 0f, 0f, 0f)),
      (1L, Seq(0f, 0f, 1.0f, 0f))).toDF("cell", "cvec")
    val batchDocs = Seq(
      (11L, Seq(0.995f, 0.0998f, 0f, 0f)), // dup of store 1
      (12L, Seq(0f, 1.0f, 0f, 0f)),        // semantically new — emits nothing
      (13L, Seq(0f, 0f, 0.98f, 0.15f)))    // dup of store 3
    val ms = MemoryStream[(Long, Seq[Float])](spark)
    val out = Streams.semanticDedupStream(
      ms.toDF().toDF("vec_id", "embedding"), store, "vec_id", "embedding",
      centroids, "cell", "cvec", threshold = 0.95)
    ms.addData(batchDocs: _*)
    val q = Streams.runToMemory(out, "semdedup_out", OutputMode.Update())
    try {
      val streamed = spark.table("semdedup_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // bit-equal to the batch twin's non-NULL verdicts: same assignment
      // fold, same exact-cosine confirm, same min/max aggregate
      val batch = graft.operators.Dedup.semanticDedupIncremental(
          store, batchDocs.toDF("vec_id", "embedding"), "vec_id", "embedding",
          centroids, "cell", "cvec", threshold = 0.95)
        .filter(col("matched_id").isNotNull)
        .select("id", "matched_id", "best_cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch, s"stream $streamed vs batch $batch")
      assert(streamed.map(_._1) == Set(11L, 13L), s"only duplicates emit: $streamed")
      // a later micro-batch keeps matching against the static store
      ms.addData((14L, Seq(0.99f, 0f, 0f, 0.1f)))
      q.processAllAvailable()
      val rows2 = spark.table("semdedup_out").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows2 == Map(11L -> 1L, 13L -> 3L, 14L -> 1L), s"got $rows2")
    } finally q.stop()
  }

  test("streaming decontamination is stateless append and matches the batch operator") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val bench = Seq((1L, base)).toDF("doc_id", "text")
    val ms = MemoryStream[(Long, String)](spark)
    val stream = ms.toDF().toDF("doc_id", "text")
    val out = graft.operators.Corpus.decontaminate(stream, bench, "doc_id", "text")
    ms.addData(
      (10L, base), // full overlap
      (11L, base.replace("quiet", "noisy")), // partial overlap
      (12L, "novel text on watermark semantics in state stores"), // clean
      (14L, null)) // NULL text must come out (0, false), as in batch
    // APPEND mode works — proof the operator carries no streaming aggregate
    val q = Streams.runToMemory(out, "decon_out", OutputMode.Append())
    try {
      ms.addData((13L, base)) // second micro-batch flows through statelessly
      q.processAllAvailable()
      val got = spark.table("decon_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
      val batch = graft.operators.Corpus.decontaminate(
          Seq((10L, base), (11L, base.replace("quiet", "noisy")),
            (12L, "novel text on watermark semantics in state stores"),
            (13L, base), (14L, null))
            .toDF("doc_id", "text"),
          bench, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
      assert(got == batch, s"stream $got != batch $batch")
      assert(got.map(t => t._1 -> t._3).toMap ==
        Map(10L -> true, 11L -> true, 12L -> false, 13L -> true, 14L -> false))
    } finally q.stop()
  }

  test("lmScoreStream is stateless and bit-equal to the batch scorer incl. OOV and NULLs") {
    import spark.implicits._
    val corpus = Seq((1L, "a a b c"), (2L, "b c c d")).toDF("doc_id", "text")
    val counts = graft.operators.Corpus.lmCounts(corpus, "text")
    val batchRows = Seq(
      (10L, "a b c"),          // all in vocab
      (11L, "a zzz qqq"),      // mostly OOV — must score via c = 0
      (12L, null.asInstanceOf[String]), // NULL text → (0, NULL, NULL)
      (13L, "d d d"))
    val ms = MemoryStream[(Long, String)](spark)
    val out = graft.operators.Corpus.lmScoreAgainst(
      ms.toDF().toDF("doc_id", "text"), counts, "doc_id", "text")
    ms.addData(batchRows.take(3): _*)
    // APPEND mode works — proof the scorer carries no streaming aggregate
    val q = Streams.runToMemory(out, "lm_out", OutputMode.Append())
    try {
      ms.addData(batchRows.drop(3): _*) // second micro-batch flows statelessly
      q.processAllAvailable()
      def norm(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).sortBy(_._1).toSeq
      val got = norm(spark.table("lm_out").collect())
      val batch = norm(graft.operators.Corpus.lmScoreAgainst(
        batchRows.toDF("doc_id", "text"), counts, "doc_id", "text").collect())
      // EXACT equality incl. doubles: both paths sum identical micro-nats
      assert(got == batch, s"stream $got != batch $batch")
      // OOV-heavy doc must score strictly worse than the in-vocab doc
      val nll = got.map(t => t._1 -> t._3).toMap
      assert(nll(11L).get > nll(10L).get)
      assert(nll(12L).isEmpty && got.find(_._1 == 12L).get._2 == 0L)
    } finally q.stop()
  }

  test("decontaminate and lmScoreAgainst on a stream equal the batch call on empty, NULL-id, NULL-text and non-BMP input") {
    import spark.implicits._
    import graft.operators.Corpus
    val emoji = "\uD83D\uDE00" // U+1F600, one surrogate pair
    val bench = Seq((1L, s"the quick brown $emoji fox")).toDF("doc_id", "text")
    val counts = Corpus.lmCounts(
      Seq((1L, s"the quick $emoji brown fox $emoji")).toDF("doc_id", "text"), "text")
    val rows = Seq(
      (Option.empty[Long], "the quick brown fox jumps"), // the one NULL-id row
      (Some(10L), null.asInstanceOf[String]),
      (Some(11L), s"the quick brown $emoji fox jumps"),
      (Some(12L), s"$emoji $emoji unseen words"))
    def sorted(rs: Array[org.apache.spark.sql.Row]) = rs.toSeq.sortBy(_.toString)
    def check(name: String, op: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val ms = MemoryStream[(Option[Long], String)](spark)
      val q = Streams.runToMemory(op(ms.toDF().toDF("doc_id", "text")), name, OutputMode.Append())
      try {
        ms.addData(Seq.empty[(Option[Long], String)]) // an empty micro-batch
        q.processAllAvailable()
        assert(spark.table(name).isEmpty, s"$name: empty micro-batch emitted rows")
        ms.addData(rows.take(2): _*)
        ms.addData(rows.drop(2): _*)
        q.processAllAvailable()
        val got = sorted(spark.table(name).collect())
        val batch = sorted(op(rows.toDF("doc_id", "text")).collect())
        assert(got == batch, s"$name: stream $got != batch $batch")
        assert(got.length == rows.length)
      } finally q.stop()
    }
    check("edge_decon_out", Corpus.decontaminate(_, bench, "doc_id", "text"))
    check("edge_lm_out", Corpus.lmScoreAgainst(_, counts, "doc_id", "text"))
    // the emoji-bearing shingles really match: doc 11 shares all three of
    // the benchmark's, the NULL-id row only "the quick brown"
    val shared = Corpus.decontaminate(rows.toDF("doc_id", "text"), bench, "doc_id", "text")
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getLong(1))
      .toMap
    assert(shared == Map(None -> 1L, Some(10L) -> 0L, Some(11L) -> 3L, Some(12L) -> 0L),
      s"$shared")
  }

  test("dsirScoreStream is stateless and bit-equal to the batch scorer against a frozen model") {
    import spark.implicits._
    val target = Seq((1L, "alpha beta gamma alpha beta"), (2L, "beta gamma delta"))
      .toDF("doc_id", "text")
    val rawPool = Seq((3L, "alpha beta spam"), (4L, "unrelated junk page"))
      .toDF("doc_id", "text")
    val model = graft.operators.Corpus.dsirModel(rawPool, target, "text", buckets = 256)
    val batchRows = Seq(
      (10L, "alpha beta gamma"),            // target-lookalike
      (11L, "unrelated junk page spam"),    // raw-lookalike
      (12L, null.asInstanceOf[String]),     // NULL text → (0, 0)
      (13L, "delta"))                       // single token, no bigrams
    val ms = MemoryStream[(Long, String)](spark)
    val out = graft.operators.Corpus.dsirScoreAgainst(
      ms.toDF().toDF("doc_id", "text"), model, "doc_id", "text", buckets = 256)
    ms.addData(batchRows.take(3): _*)
    // APPEND mode works — the scorer carries no streaming aggregate
    val q = Streams.runToMemory(out, "dsir_out", OutputMode.Append())
    try {
      ms.addData(batchRows.drop(3): _*)
      q.processAllAvailable()
      def norm(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      val got = norm(spark.table("dsir_out").collect())
      val batch = norm(graft.operators.Corpus.dsirScoreAgainst(
        batchRows.toDF("doc_id", "text"), model, "doc_id", "text", buckets = 256).collect())
      assert(got == batch, s"stream $got != batch $batch")
      val w = got.map(t => t._1 -> t._3).toMap
      // the target-lookalike outscores the raw-lookalike; NULL text is (0, 0)
      assert(w(10L) > w(11L))
      assert(got.find(_._1 == 12L).get == ((12L, 0L, 0L)))
    } finally q.stop()
  }

  test("c4FilterStream and bpeSegmentStream are stateless and bit-equal to their batch twins") {
    import spark.implicits._
    val rows = Seq(
      (1L, "good long sentence right here.\nshort.\nanother proper full sentence here!"),
      (2L, "this javascript line is long enough.\nplain line with no punctuation at all"))
    val trainDocs = Seq((0L, "abab abab aab")).toDF("doc_id", "text")
    val merges = graft.operators.Corpus.bpeTrain(trainDocs, "text", 2)
    val ms = MemoryStream[(Long, String)](spark)
    val sdf = ms.toDF().toDF("doc_id", "text")
    val c4 = graft.operators.Corpus.c4LineFilter(sdf, "doc_id", "text")
    val bpe = graft.operators.Corpus.bpeSegmentChain(sdf, "doc_id", "text", merges)
    val bpeFast = graft.operators.Corpus.bpeSegment(sdf, "doc_id", "text", merges)
    val gopher = graft.operators.Corpus.gopherRules(sdf, "doc_id", "text")
    val pii = graft.operators.Corpus.redactPiiAudited(sdf, "doc_id", "text")
    val grep = graft.operators.Corpus.gopherRepetition(sdf, "doc_id", "text")
    val cst = graft.operators.Corpus.charStats(sdf, "doc_id", "text")
    ms.addData(rows: _*)
    val q1 = Streams.runToMemory(c4, "c4_out", OutputMode.Append())
    val q2 = Streams.runToMemory(bpe, "bpe_out", OutputMode.Append())
    val q3 = Streams.runToMemory(bpeFast, "bpe_fast_out", OutputMode.Append())
    val q4 = Streams.runToMemory(gopher, "gopher_out", OutputMode.Append())
    val q5 = Streams.runToMemory(pii, "pii_out", OutputMode.Append())
    val q6 = Streams.runToMemory(grep, "grep_out", OutputMode.Append())
    val q7 = Streams.runToMemory(cst, "cst_out", OutputMode.Append())
    try {
      def norm(rs: Array[org.apache.spark.sql.Row]) = rs.map(_.toString).sorted.toSeq
      assert(norm(spark.table("c4_out").collect()) ==
        norm(graft.operators.Corpus.c4LineFilter(rows.toDF("doc_id", "text"), "doc_id", "text").collect()))
      assert(norm(spark.table("bpe_out").collect()) ==
        norm(graft.operators.Corpus.bpeSegment(rows.toDF("doc_id", "text"), "doc_id", "text", merges).collect()))
      assert(norm(spark.table("bpe_fast_out").collect()) ==
        norm(spark.table("bpe_out").collect()))
      assert(norm(spark.table("gopher_out").collect()) ==
        norm(graft.operators.Corpus.gopherRules(rows.toDF("doc_id", "text"), "doc_id", "text").collect()))
      assert(norm(spark.table("pii_out").collect()) ==
        norm(graft.operators.Corpus.redactPiiAudited(rows.toDF("doc_id", "text"), "doc_id", "text").collect()))
      assert(norm(spark.table("grep_out").collect()) ==
        norm(graft.operators.Corpus.gopherRepetition(rows.toDF("doc_id", "text"), "doc_id", "text").collect()))
      assert(norm(spark.table("cst_out").collect()) ==
        norm(graft.operators.Corpus.charStats(rows.toDF("doc_id", "text"), "doc_id", "text").collect()))
    } finally { q1.stop(); q2.stop(); q3.stop(); q4.stop(); q5.stop(); q6.stop(); q7.stop() }
  }

  test("unigramSegmentStream is stateless and bit-equal to its batch twin") {
    import spark.implicits._
    val trainDocs = Seq((0L, "the cat sat on the mat the cat ran"),
      (1L, "the dog sat on the log")).toDF("doc_id", "text")
    val vocab = graft.operators.Corpus.unigramTrain(trainDocs, "text",
      vocabSize = 30, seedSize = 40)
    val rows = Seq((10L, "the cat on a log"), (11L, "unseen wordz"))
    val ms = MemoryStream[(Long, String)](spark)
    val out = graft.operators.Corpus.unigramSegment(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", vocab)
    val batchOut = graft.operators.Corpus.unigramSegment(
      rows.toDF("doc_id", "text"), "doc_id", "text", vocab)
    // on a stream the segmenter is row-local: no Aggregate or Join in the
    // plan (the batch call's per-distinct-word join would carry state)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    def statefulNodes(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect { case a: Aggregate => a; case j: Join => j }
    assert(statefulNodes(out).isEmpty, out.queryExecution.analyzed.toString)
    assert(statefulNodes(batchOut).nonEmpty)
    ms.addData(rows: _*)
    val q = Streams.runToMemory(out, "uni_out", OutputMode.Append())
    try {
      q.processAllAvailable()
      def norm(rs: Array[org.apache.spark.sql.Row]) = rs.map(_.toString).sorted.toSeq
      assert(norm(spark.table("uni_out").collect()) == norm(batchOut.collect()))
      assert(spark.table("uni_out").count() > 0)
    } finally q.stop()
  }

  test("lineDedupStream verdicts match the batch incremental removal sets") {
    import spark.implicits._
    val corpus = Seq((1L, "boilerplate header\nreal old content")).toDF("doc_id", "text")
    val batchRows = Seq(
      (10L, "boilerplate header\nfresh new content"),
      (11L, "totally novel doc\nboilerplate header"))
    val ms = MemoryStream[(Long, String)](spark)
    val out = graft.operators.Corpus.lineVerdicts(ms.toDF().toDF("doc_id", "text"), corpus, "doc_id", "text")
    ms.addData(batchRows: _*)
    val q = Streams.runToMemory(out, "ld_out", OutputMode.Append())
    try {
      val got = spark.table("ld_out").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Int]("idx")) -> r.getAs[Boolean]("dup")).toMap
      assert(got == Map((10L, 0) -> true, (10L, 1) -> false, (11L, 0) -> false, (11L, 1) -> true))
      // the batch reassembly agrees with the verdicts
      val batch = graft.operators.Corpus.lineDedupAgainst(
        batchRows.toDF("doc_id", "text"), corpus, "doc_id", "text").collect()
        .map(r => r.getAs[Long]("id") -> (r.getAs[Long]("n_removed_lines"), r.getAs[String]("text_deduped"))).toMap
      assert(batch(10L) == ((1L, "fresh new content")))
      assert(batch(11L) == ((1L, "totally novel doc")))
    } finally q.stop()
  }

  test("vocabScoreStream and blocklistStream are stateless and bit-equal to their batch twins") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha alpha alpha beta"), (2L, "alpha beta beta rare")).toDF("doc_id", "text")
    val model = graft.operators.Corpus.vocabModel(corpus, "text", perMille = 200L)
    val rows = Seq((10L, "alpha beta unknown"), (11L, null.asInstanceOf[String]))
    val ms = MemoryStream[(Long, String)](spark)
    val sdf = ms.toDF().toDF("doc_id", "text")
    val vs = graft.operators.Corpus.vocabCoverageAgainst(sdf, model, "doc_id", "text")
    val bl = graft.operators.Corpus.blocklistFilter(sdf, "doc_id", "text", Seq("unknown"))
    ms.addData(rows: _*)
    val q1 = Streams.runToMemory(vs, "vs_out", OutputMode.Append())
    val q2 = Streams.runToMemory(bl, "bl_out", OutputMode.Append())
    try {
      def norm(rs: Array[org.apache.spark.sql.Row]) = rs.map(_.toString).sorted.toSeq
      assert(norm(spark.table("vs_out").collect()) ==
        norm(graft.operators.Corpus.vocabCoverageAgainst(
          rows.toDF("doc_id", "text"), model, "doc_id", "text").collect()))
      assert(norm(spark.table("bl_out").collect()) ==
        norm(graft.operators.Corpus.blocklistFilter(
          rows.toDF("doc_id", "text"), "doc_id", "text", Seq("unknown")).collect()))
      // the frozen model scored "unknown" and "rare" as OOV
      val oov = spark.table("vs_out").collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_oov")).toMap
      assert(oov == Map(10L -> 1L, 11L -> 0L))
    } finally { q1.stop(); q2.stop() }
  }

  test("bucketScoreStream assigns frozen curriculum buckets statelessly") {
    import spark.implicits._
    val train = (1 to 100).map(i => (i.toLong, i / 1000.0)).toDF("doc_id", "s")
    val model = graft.operators.Corpus.bucketModel(train, "doc_id", "s", 10, 1L)
    val ms = MemoryStream[(Long, Double)](spark)
    val out = graft.operators.Corpus.scoreBucketsAgainst(ms.toDF().toDF("doc_id", "s"), model, "doc_id", "s", 1L)
    ms.addData((10L, 0.005), (11L, 0.095), (12L, 9.9))
    val q = Streams.runToMemory(out, "bs_out", OutputMode.Append())
    try {
      val got = spark.table("bs_out").collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Int]("bucket")).toMap
      assert(got == Map(10L -> 0, 11L -> 9, 12L -> 9)) // in-range + clamped
    } finally q.stop()
  }

  test("softSampleStream verdicts are stateless and bit-equal to the batch coin") {
    import spark.implicits._
    val rows = (1L to 40L).map(i => (i, i / 40.0))
    val ms = MemoryStream[(Long, Double)](spark)
    val out = graft.operators.Corpus.softQualitySample(ms.toDF().toDF("doc_id", "s"), "doc_id", "s", tau = 0.5)
    ms.addData(rows.take(20): _*)
    val q = Streams.runToMemory(out, "soft_out", OutputMode.Append())
    try {
      // a second micro-batch must not change earlier verdicts (pure
      // function of id, no state)
      ms.addData(rows.drop(20): _*)
      q.processAllAvailable()
      def norm(rs: Array[org.apache.spark.sql.Row]) = rs.map(_.toString).sorted.toSeq
      assert(norm(spark.table("soft_out").collect()) ==
        norm(graft.operators.Corpus.softQualitySample(
          rows.toDF("doc_id", "s"), "doc_id", "s", tau = 0.5).collect()))
    } finally q.stop()
  }

  test("spanDedupStream verdicts match the batch incremental removal") {
    import spark.implicits._
    val dup = "d1 d2 d3 d4 d5"
    val corpus = Seq((1L, s"old text $dup more old words here")).toDF("doc_id", "text")
    val ms = MemoryStream[(Long, String)](spark)
    val out = graft.operators.Dedup.spanVerdicts(ms.toDF().toDF("doc_id", "text"), corpus,
      "doc_id", "text", spanLen = 4)
    ms.addData((10L, s"n1 $dup n2 n3"))
    val q = Streams.runToMemory(out, "sd_out", OutputMode.Append())
    try {
      val got = spark.table("sd_out").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Int]("s")) -> r.getAs[Boolean]("dup")).toMap
      // doc 10 = [n1 d1..d5 n2 n3]: windows at s=1,2 are inside the dup
      // run; 0 and 3,4 straddle fresh tokens
      assert(got == Map((10L, 0) -> false, (10L, 1) -> true, (10L, 2) -> true,
        (10L, 3) -> false, (10L, 4) -> false))
      val batch = graft.operators.Dedup.spanDedupAgainst(
        Seq((10L, s"n1 $dup n2 n3")).toDF("doc_id", "text"), corpus, "doc_id", "text", 4)
        .collect().head
      assert(batch.getAs[String]("text_deduped") == "n1 n2 n3")
      assert(batch.getAs[Long]("n_removed_tokens") == 5L)
    } finally q.stop()
  }

  test("stateful sessionization keeps running per-user state across batches") {
    import spark.implicits._
    val ms = MemoryStream[Event](spark)
    val sess = Streams.sessionize(ms.toDS())
    val q = Streams.runToMemory(sess.toDF(), "sess_out", OutputMode.Append())
    try {
      ms.addData(Event(1L, ts(1), 100L, "click", 1.0), Event(2L, ts(2), 100L, "click", 2.0))
      q.processAllAvailable()
      ms.addData(Event(3L, ts(3), 100L, "buy", 10.0), Event(4L, ts(4), 200L, "click", 5.0))
      q.processAllAvailable()
      val snaps = spark.table("sess_out").collect()
      // second snapshot for user 100 must accumulate all 3 events
      val u100 = snaps.filter(_.getAs[Long]("user_id") == 100L).map(_.getAs[Long]("n_events")).max
      assert(u100 == 3L)
      val u200 = snaps.filter(_.getAs[Long]("user_id") == 200L)
      assert(u200.length == 1 && u200.head.getAs[Double]("total_value") == 5.0)
    } finally q.stop()
  }

  test("session windows split on the gap and count per user") {
    import spark.implicits._
    val ms = MemoryStream[Event](spark)
    ms.addData(
      Event(1L, ts(1), 100L, "click", 1.0),
      Event(2L, ts(3), 100L, "click", 1.0),  // same session (gap 5m)
      Event(3L, ts(20), 100L, "click", 1.0), // new session
      Event(4L, ts(2), 200L, "click", 1.0))
    val sess = Streams.sessionWindowAgg(ms.toDF(), "ts", "5 minutes", "10 minutes")
    val q = Streams.runToMemory(sess, "sesswin_out", OutputMode.Complete())
    try {
      val rows = spark.table("sesswin_out").collect()
      val u100 = rows.filter(_.getAs[Long]("user_id") == 100L)
      assert(u100.length == 2, s"expected 2 sessions for user 100, got ${u100.mkString(",")}")
      assert(u100.map(_.getAs[Long]("n_events")).sorted.sameElements(Array(1L, 2L)))
      assert(rows.count(_.getAs[Long]("user_id") == 200L) == 1)
    } finally q.stop()
  }

  test("sliding windows assign each event to every covering window") {
    import spark.implicits._
    val ms = MemoryStream[Event](spark)
    ms.addData(
      Event(1L, ts(5), 100L, "click", 1.0),  // windows [09:50,10:10) and [10:00,10:20)
      Event(2L, ts(15), 100L, "click", 1.0)) // windows [10:00,10:20) and [10:10,10:30)
    val agg = Streams.slidingAgg(ms.toDF(), "ts", "20 minutes", "10 minutes", "5 minutes")
    val q = Streams.runToMemory(agg, "sliding_out", OutputMode.Complete())
    try {
      val rows = spark.table("sliding_out").collect()
        .map(r => r.getAs[Timestamp]("wstart").toString -> r.getAs[Long]("n_events")).toMap
      assert(rows == Map(
        "2024-01-01 09:50:00.0" -> 1L,
        "2024-01-01 10:00:00.0" -> 2L,
        "2024-01-01 10:10:00.0" -> 1L))
    } finally q.stop()
  }

  test("streaming parquet sink persists the metadata sidecar") {
    import spark.implicits._
    import java.nio.file.Files
    val base = Files.createDirectories(java.nio.file.Paths.get("target/streaming_spec"))
    val out = base.resolve("sink_out").toString
    val ckpt = base.resolve("sink_ckpt_" + System.nanoTime()).toString
    val ms = MemoryStream[Event](spark)
    ms.addData(Event(1L, ts(1), 100L, "click", 1.0), Event(2L, ts(2), 100L, "buy", 2.0))
    val mf = MetaFrame(ms.toDF(), Map("pipeline" -> "events", "primary_key" -> Seq("event_id")))
    val q = mf.writeStream.outputMode("append").option("checkpointLocation", ckpt)
      .startParquetWithSidecar(out)
    try q.processAllAvailable() finally q.stop()
    val back = graft.sources.MetaPersist.readParquet(spark, out)
    assert(back.count() == 2)
    assert(back.metadata("pipeline") == "events")
    assert(back.primaryKey.contains(Seq("event_id")))
  }

  test("MetaStreamWriter keeps metadata through fluent config and runs") {
    import spark.implicits._
    val ms = MemoryStream[Event](spark)
    ms.addData(Event(1L, ts(1), 100L, "click", 1.0))
    val mf = MetaFrame(ms.toDF(), Map("pipeline" -> "events"))
    val writer = mf.writeStream.format("memory").queryName("meta_out").outputMode("append")
    assert(writer.metadata == Map("pipeline" -> "events"))
    val q = writer.start()
    try {
      q.processAllAvailable()
      assert(spark.table("meta_out").count() == 1)
    } finally q.stop()
  }

  test("streaming ANN top-k against the materialized index matches the batch search rank for rank") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 4, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_stream").toString
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", cents, "cell", "cvec", dir)
    val corpusCells = graft.sources.MetaPersist.readModel(
      spark, s"${Similarity.resolveIvfIndex(spark, dir)}/corpus", "ivf_corpus").df
    val qrows = emb.filter(col("vec_id") < 3).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val ms = MemoryStream[(Long, Array[Float])](spark)
    val out = Streams.annTopKStream(
      ms.toDF().toDF("query_id", "query_vec"), corpusCells, "vec_id", "embedding",
      cents, "query_id", "query_vec", k = 5, nprobe = 2)
    ms.addData(qrows.take(2): _*)
    val q = Streams.runToMemory(out, "ann_stream_out", OutputMode.Update())
    try {
      q.processAllAvailable()
      ms.addData(qrows.drop(2): _*) // later queries flow through the same index
      q.processAllAvailable()
      val streamed = spark.table("ann_stream_out").collect().flatMap { r =>
        r.getSeq[org.apache.spark.sql.Row](1).zipWithIndex.map { case (s, i) =>
          (r.getLong(0), (i + 1).toLong, s.getLong(1),
            BigDecimal(s.getDouble(0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }.toSet
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val batch = Similarity.ivfTopK(emb, "vec_id", "embedding", cents, "cell", "cvec",
          queries, "query_id", "query_vec", k = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch, s"stream $streamed vs batch $batch")
    } finally q.stop()
  }

  test("streaming compressed-domain ANN (IVF×PQ codes) matches the batch ADC ranking rank for rank") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 4, iters = 2)
    val cb = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 4, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_stream").toString
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", cents, "cell", "cvec", dir,
      pqCodebooks = Some(cb), pqDim = 64, pqM = 8)
    val vdir = Similarity.resolveIvfIndex(spark, dir)
    // the serving inputs come from the PUBLISHED layout: codes-only corpus
    // projection, versioned codebooks — no float corpus vectors anywhere
    val encodedCells = graft.sources.MetaPersist.readModel(spark, s"$vdir/corpus", "ivf_corpus")
      .df.select("vec_id", "codes", "cell")
    val cbLoaded = graft.sources.MetaPersist.readModel(spark, s"$vdir/codebooks", "pq_codebooks").df
    val qrows = emb.filter(col("vec_id") < 3).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val ms = MemoryStream[(Long, Array[Float])](spark)
    val out = Streams.annPqTopKStream(
      ms.toDF().toDF("query_id", "query_vec"), encodedCells, "vec_id", "codes",
      cents, cbLoaded, ksub = 4, "query_id", "query_vec", k = 5, nprobe = 2)
    ms.addData(qrows.take(2): _*)
    val q = Streams.runToMemory(out, "ivfpq_stream_out", OutputMode.Update())
    try {
      q.processAllAvailable()
      ms.addData(qrows.drop(2): _*) // later queries flow through the same index
      q.processAllAvailable()
      val streamed = spark.table("ivfpq_stream_out").collect().flatMap { r =>
        r.getSeq[org.apache.spark.sql.Row](1).zipWithIndex.map { case (s, i) =>
          (r.getLong(0), (i + 1).toLong, s.getLong(1),
            BigDecimal(s.getDouble(0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }.toSet
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val batch = Similarity.ivfPqAdcRanked(emb, "vec_id", "embedding",
          cents, "cell", "cvec", cb, dim = 64, m = 8, ksub = 4,
          queries, "query_id", "query_vec", limit = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          BigDecimal(r.getDouble(3)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toSet
      assert(streamed == batch, s"stream $streamed vs batch $batch")
    } finally q.stop()
  }

  test("foreachBatch IVFPQ serving binds one version per micro-batch and picks up a republish at the next") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Similarity
    val emb = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_serve").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ivfpq_serve_ckpt").toString
    val c1 = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 4, iters = 1)
    val cb1 = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 4, iters = 1)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", c1, "cell", "cvec", dir,
      pqCodebooks = Some(cb1), pqDim = 64, pqM = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    def inline(cents: org.apache.spark.sql.DataFrame, cb: org.apache.spark.sql.DataFrame,
        ksub: Int, qids: Seq[Long]) =
      rows(Similarity.ivfPqTopK(emb, "vec_id", "embedding", cents, "cell", "cvec",
        cb, dim = 64, m = 8, ksub = ksub,
        emb.filter(col("vec_id").isin(qids: _*))
          .select(col("vec_id").as("query_id"), col("embedding").as("query_vec")),
        "query_id", "query_vec", k = 5, nprobe = 2, shortlist = 20))
    val qrows = emb.filter(col("vec_id") < 3).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val served = scala.collection.concurrent.TrieMap[Long, Set[(Long, Long, Long, Double)]]()
    val ms = MemoryStream[(Long, Array[Float])](spark)
    val q = Streams.annPqServeStream(
      ms.toDF().toDF("query_id", "query_vec"), dir, "query_id", "query_vec",
      ckpt, k = 5, nprobe = 2, shortlist = 20,
      trigger = Trigger.ProcessingTime(0)) { (out, id) => served(id) = rows(out) }
    try {
      ms.addData(qrows.take(2): _*)
      q.processAllAvailable()
      // retrain with different parameters and republish BETWEEN batches
      val c2 = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 3, iters = 2)
      val cb2 = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 8, iters = 2)
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", c2, "cell", "cvec", dir,
        pqCodebooks = Some(cb2), pqDim = 64, pqM = 8)
      ms.addData(qrows.drop(2): _*)
      q.processAllAvailable()
      // batch 0 bound v1; batch 1 picked up v2 with no restart
      assert(served(0L) == inline(c1, cb1, 4, Seq(0L, 1L)),
        s"batch 0 must serve from the v1 artifacts: ${served(0L)}")
      assert(served(1L) == inline(c2, cb2, 8, Seq(2L)),
        s"batch 1 must serve from the republished v2 artifacts: ${served(1L)}")
    } finally q.stop()
  }

  test("streaming embedding near-dedup emits exactly the batch operator's straddling pairs") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1f, 0.05f, 0f, 0f)),
      (2L, Array(0f, 1f, 0.05f, 0f)),
      (3L, Array(0f, 0f, 0f, 1f))).toDF("vec_id", "vec")
    val b1 = Seq(
      (10L, Array(0.99f, 0.06f, 0f, 0f)), // near-dup of corpus 1
      (11L, Array(0.5f, -0.5f, 0.5f, -0.5f))) // novel direction
    val b2 = Seq((12L, Array(0.01f, 0.98f, 0.06f, 0f))) // near-dup of corpus 2
    val ms = MemoryStream[(Long, Array[Float])](spark)
    // probes = 1 is the single-table path: the base bucket is lshBucket's
    val out = graft.operators.Dedup.embeddingNearDupMultiProbeIncremental(
        corpus, ms.toDF().toDF("vec_id", "vec"), "vec_id", "vec", dim = 4, threshold = 0.95,
        probes = 1)
      .select(col("id").as("stream_id"), col("matched_id").as("corpus_id"), col("cos"))
    ms.addData(b1: _*)
    // APPEND mode works — the operator carries no streaming aggregate
    val q = Streams.runToMemory(out, "emb_stream_out", OutputMode.Append())
    try {
      q.processAllAvailable()
      ms.addData(b2: _*) // second micro-batch flows through statelessly
      q.processAllAvailable()
      val streamed = spark.table("emb_stream_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // the batch twin on the union, restricted to straddling pairs, must
      // agree bit-for-bit (same buckets, same exact-cosine confirm)
      val union = corpus.union((b1 ++ b2).toDF("vec_id", "vec"))
      val batch = graft.operators.Dedup
        .embeddingNearDup(union, "vec_id", "vec", dim = 4, threshold = 0.95)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter(p => (p._1 >= 10L) != (p._2 >= 10L))
        .map(p => if (p._1 >= 10L) (p._1, p._2, p._3) else (p._2, p._1, p._3)).toSet
      assert(streamed == batch, s"stream $streamed vs batch $batch")
      assert(streamed.map(t => (t._1, t._2)) == Set((10L, 1L), (12L, 2L)), s"got $streamed")
    } finally q.stop()
  }

  test("multi-probe streaming embedding near-dedup: per-query recall dial over one O(n) corpus index") {
    import spark.implicits._
    import graft.operators.Dedup
    // deterministic pseudo-random fixture loose enough (threshold 0.3,
    // nbits 2) that some straddling pairs split base buckets — the pairs
    // the single-table serving path misses and multi-probe exists to find
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextGaussian().toFloat)
    val corpusData = (0L until 30L).map(i => (i, vec()))
    val corpus = corpusData.toDF("vec_id", "vec")
    val batch1 = (100L until 110L).map(i => (i, vec()))
    val batch2 = (110L until 120L).map(i => (i, vec()))
    val allBatch = batch1 ++ batch2
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val exact = (for {
      (bi, bv) <- allBatch; (ci, cv) <- corpusData
      if cosine(bv, cv) >= 0.3
    } yield (bi, ci)).toSet
    def run(probes: Int): Set[(Long, Long)] = {
      val ms = MemoryStream[(Long, Array[Float])](spark)
      val out = Dedup.embeddingNearDupMultiProbeIncremental(
          corpus, ms.toDF().toDF("vec_id", "vec"), "vec_id", "vec",
          dim = 8, threshold = 0.3, nbits = 2, probes = probes)
        .select(col("id").as("stream_id"), col("matched_id").as("corpus_id"),
          col("cos"), col("nbits"), col("n_probes"))
      ms.addData(batch1: _*)
      val q = Streams.runToMemory(out, s"emb_mp_stream_$probes", OutputMode.Append())
      try {
        q.processAllAvailable()
        ms.addData(batch2: _*) // statelessness: second batch probes the SAME index
        q.processAllAvailable()
        val rows = spark.table(s"emb_mp_stream_$probes").collect()
        assert(rows.forall(_.getAs[Int]("n_probes") == probes))
        rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally q.stop()
    }
    // T=1 is exactly the single-table serving path (base-bucket collisions)
    val single = run(1)
    // full probing (maxProbes(2) = 4): every bucket reachable → the output
    // IS the exact straddling cosine pair set, bit-for-bit
    val full = run(4)
    assert(full == exact, s"full probing must equal exact: ${full.diff(exact)} / ${exact.diff(full)}")
    // the recall fix is OBSERVABLE: single-table misses real pairs that
    // full probing recovers; every single-table pair survives (base bucket
    // is probe 1 of the schedule)
    assert(single.subsetOf(full))
    assert(single != full, "fixture must exercise pairs the single-table path misses")
    // partial probing sits between, monotone in T
    val two = run(2)
    assert(single.subsetOf(two) && two.subsetOf(full))
    // stream ≡ batch: the streaming run at T=2 is bit-equal to the batch
    // incremental operator over the union of both micro-batches — the
    // stream path shares the batch plan verbatim, across batch boundaries
    val batchOp = Dedup.embeddingNearDupMultiProbeIncremental(
        corpus, allBatch.toDF("vec_id", "vec"), "vec_id", "vec",
        dim = 8, threshold = 0.3, nbits = 2, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(two == batchOp, s"stream $two vs batch $batchOp")
  }

  test("foreachBatch corpus ingestion grows the store and attributes every drop stage") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Corpus
    import graft.streaming.Ingest
    val dirBase = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val (corpusDir, auditDir, ckpt) = (s"$dirBase/corpus", s"$dirBase/audit", s"$dirBase/ckpt")
    val good = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val novel = "spark catalyst optimizer pushes filters below joins for scan pruning wins"
    val benchText = "benchmark evaluation question answer pairs held out strictly from training"
    val bench = Seq((1L, benchText)).toDF("doc_id", "text")
    // frozen gate LM, trained once on clean reference text
    val lm = Corpus.lmCounts(Seq((1L, good), (2L, novel)).toDF("doc_id", "text"), "text")
    val ms = MemoryStream[(Long, String, String, String)](spark)
    val q = Ingest.ingestCorpus(
      ms.toDF().toDF("doc_id", "text", "source", "lang"),
      corpusDir, auditDir, bench, lm,
      "doc_id", "text", "source", "lang",
      checkpointDir = ckpt, trigger = Trigger.ProcessingTime(0),
      maxTopNgramFrac = 0.5)
    try {
      ms.addData(
        (10L, good, "web", "en"), // accepted
        (11L, good, "web", "en"), // in-batch dup of 10 → canonical election
        (12L, benchText + " plus trailing filler words here", "web", "en"), // eval leak
        (13L, "buy buy buy buy buy buy", "ads", "en")) // repetitive → gate
      q.processAllAvailable()
      // batch 2 AFTER batch 1 committed: 14 duplicates a doc ACCEPTED in
      // batch 1 — visible only because the store grew between batches
      ms.addData(
        (14L, good, "web2", "en"),
        (15L, novel, "web", "en"))
      q.processAllAvailable()
    } finally q.stop()

    val audit = spark.read.parquet(auditDir).collect()
      .map(r => r.getAs[Long]("id") ->
        ((Option(r.getAs[String]("drop_stage")), r.getAs[Boolean]("keep"),
          Option(r.getAs[String]("split"))))).toMap
    assert(audit.size == 6, s"one audit row per streamed doc: $audit")
    assert(audit(10L)._1.isEmpty && audit(10L)._2 && audit(10L)._3.isDefined)
    assert(audit(11L)._1.contains("duplicate"), s"in-batch dup: ${audit(11L)}")
    assert(audit(12L)._1.contains("contaminated"))
    assert(audit(13L)._1.contains("quality"))
    assert(audit(14L)._1.contains("duplicate_corpus"),
      s"batch-2 dup of an accepted doc must hit the grown store: ${audit(14L)}")
    assert(audit(15L)._1.isEmpty && audit(15L)._2)
    assert(audit.values.forall(v => v._3.isDefined == v._2), "split iff accepted")
    // the store holds exactly the accepted docs
    // store schema is the normalized (id, text, source, lang)
    val store = spark.read.parquet(corpusDir).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(store == Set(10L, 15L), s"store: $store")
    // the streamed batch-1 audit is bit-equal to the batch operator run
    // directly on the same slice against an empty corpus
    val b1 = Seq(
      (10L, good, "web", "en"), (11L, good, "web", "en"),
      (12L, benchText + " plus trailing filler words here", "web", "en"),
      (13L, "buy buy buy buy buy buy", "ads", "en"))
      .toDF("doc_id", "text", "source", "lang")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id"), Option(r.getAs[String]("drop_stage")),
        r.getAs[Boolean]("keep"), Option(r.getAs[String]("split")),
        r.getAs[Long]("n_tokens"))
    val direct = Ingest.assembleMicroBatch(b1, b1.limit(0), bench, lm,
        "doc_id", "text", "source", "lang", maxTopNgramFrac = 0.5)
      .collect().map(key).toSet
    val streamed1 = spark.read.parquet(auditDir)
      .filter(col("batch_id") === 0L).collect().map(key).toSet
    assert(streamed1 == direct, s"stream $streamed1 vs direct $direct")

    // compaction: two batch partitions; the committed batch 0 merges into
    // the batch_id=-1 epoch, the newest partition (batch 1 — the only
    // possibly-uncommitted one) is rewritten in place, NOT merged
    def parquetFiles(dir: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(dir))
    }
    assert(parquetFiles(corpusDir) >= 2, "two batches should leave >1 file")
    assert(Ingest.compactStore(spark, corpusDir) == 2,
      "epoch file + rewritten newest-batch file")
    val subdirs = new java.io.File(corpusDir).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(subdirs == Set("batch_id=-1", "batch_id=1"), s"got $subdirs")
    assert(spark.read.parquet(corpusDir).select("id")
      .collect().map(_.getLong(0)).toSet == Set(10L, 15L))
    // ingestion continues against the COMPACTED store: a dup of doc 10
    // still resolves duplicate_corpus
    val ms2 = MemoryStream[(Long, String, String, String)](spark)
    val q2 = Ingest.ingestCorpus(
      ms2.toDF().toDF("doc_id", "text", "source", "lang"),
      corpusDir, auditDir, bench, lm,
      "doc_id", "text", "source", "lang",
      checkpointDir = s"$dirBase/ckpt2", trigger = Trigger.ProcessingTime(0),
      maxTopNgramFrac = 0.5)
    try {
      ms2.addData((16L, good, "web3", "en"))
      q2.processAllAvailable()
    } finally q2.stop()
    val a16 = spark.read.parquet(auditDir).filter(col("id") === 16L)
      .collect().map(r => Option(r.getAs[String]("drop_stage"))).toSeq
    assert(a16 == Seq(Some("duplicate_corpus")), s"got $a16")
  }

  test("curated ingestion rewrites against the growing store; replay is exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Corpus
    import graft.streaming.Ingest
    val dirBase = java.nio.file.Files.createTempDirectory("graft_curated").toString
    val (corpusDir, auditDir) = (s"$dirBase/corpus", s"$dirBase/audit")
    val leak = "b1 b2 b3 b4"
    val bench = Seq((1L, s"held out $leak benchmark", "b", "x")).toDF("doc_id", "text", "source", "lang")
    // vocab: every wN word is frequent, zz* words are not
    val vocabSrc = (1 to 50).map(i => (i.toLong, Seq.fill(4)(s"w${i % 8}").mkString(" ")))
      .toDF("doc_id", "text")
    val vocab = Corpus.vocabModel(vocabSrc, "text", perMille = 10L)
    val ms = MemoryStream[(Long, String, String, String)](spark)
    val q = Ingest.ingestCurated(
      ms.toDF().toDF("doc_id", "text", "source", "lang"),
      corpusDir, auditDir, bench, vocab,
      "doc_id", "text", "source", "lang",
      checkpointDir = s"$dirBase/ckpt", trigger = Trigger.ProcessingTime(0),
      spanLen = 4, maxOovFrac = 0.5)
    val b1 = Seq(
      (20L, s"w0 w1 w2 w3\nw4 $leak w5", "web", "en"), // repeats 10's line + leaks
      (21L, "zz1 zz2 zz3 zz4", "web", "en")) // all-OOV → dropped
    try {
      ms.addData((10L, "w0 w1 w2 w3\nw4 w5 w6 w7", "web", "en"))
      q.processAllAvailable()
      ms.addData(b1: _*)
      q.processAllAvailable()
    } finally q.stop()

    val store = spark.read.parquet(corpusDir)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("text")).toMap
    // doc 10 admitted verbatim; doc 20 lost the store-duplicate line AND
    // the leaked span; doc 21 gated out
    assert(store(10L) == "w0 w1 w2 w3\nw4 w5 w6 w7")
    assert(store(20L) == "w4 w5")
    assert(!store.contains(21L))
    val audit = spark.read.parquet(auditDir).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_removed_lines"), r.getAs[Long]("n_decont_tokens"),
         Option(r.getAs[String]("drop_stage")))).toMap
    assert(audit(20L) == ((1L, 4L, None)))
    assert(audit(21L)._3.contains("oov"))

    // replay batch 1: identical store + audit (the at-least-once case)
    def snapshot(dir: String): Seq[String] = spark.read.parquet(dir)
      .collect().map(_.mkString("|")).sorted.toSeq
    val (s0, a0) = (snapshot(corpusDir), snapshot(auditDir))
    val base1 = b1.toDF("id", "text", "source", "lang")
    Ingest.runCuratedBatch(base1, 1L, corpusDir, auditDir, bench, vocab,
      spanLen = 4, maxOovFrac = 0.5)
    assert(snapshot(corpusDir) == s0, "replay must not change the store")
    assert(snapshot(auditDir) == a0, "replay must not change the audit")
  }

  test("curated ingestion with the PII stage masks the store text, audits counts, and replays exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Corpus
    import graft.streaming.Ingest
    val dirBase = java.nio.file.Files.createTempDirectory("graft_curated_pii").toString
    val (corpusDir, auditDir) = (s"$dirBase/corpus", s"$dirBase/audit")
    val bench = Seq((1L, "held out b1 b2 b3 b4 benchmark", "b", "x"))
      .toDF("doc_id", "text", "source", "lang")
    // the vocabulary must contain the masking tokens — the gate scores the
    // MASKED text, which is the point of running PII before the gate
    val vocabSrc = (1 to 50).map(i =>
      (i.toLong, s"w${i % 8} w${i % 8} <EMAIL> <PHONE> <IP>")).toDF("doc_id", "text")
    val vocab = Corpus.vocabModel(vocabSrc, "text", perMille = 10L)
    val ms = MemoryStream[(Long, String, String, String)](spark)
    val q = Ingest.ingestCurated(
      ms.toDF().toDF("doc_id", "text", "source", "lang"),
      corpusDir, auditDir, bench, vocab,
      "doc_id", "text", "source", "lang",
      checkpointDir = s"$dirBase/ckpt", trigger = Trigger.ProcessingTime(0),
      spanLen = 4, maxOovFrac = 0.5, piiPatterns = Corpus.DefaultPiiPatterns)
    val b0 = Seq(
      (10L, "w0 w1 bob@example.org w2", "web", "en"),
      (11L, "w3 call 555-123-4567 from 10.0.0.7 w4", "web", "en"))
    try {
      ms.addData(b0: _*)
      q.processAllAvailable()
    } finally q.stop()

    val store = spark.read.parquet(corpusDir)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("text")).toMap
    assert(store(10L) == "w0 w1 <EMAIL> w2", s"store must carry the MASKED text: $store")
    assert(store(11L) == "w3 call <PHONE> from <IP> w4")
    val audit = spark.read.parquet(auditDir).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_email"), r.getAs[Long]("n_phone"), r.getAs[Long]("n_ip"),
          r.getAs[Long]("n_pii"), Option(r.getAs[String]("drop_stage"))))).toMap
    assert(audit(10L) == ((1L, 0L, 0L, 1L, None)), s"per-category audit: $audit")
    assert(audit(11L) == ((0L, 1L, 1L, 2L, None)))

    // replay the batch (the at-least-once case): store + audit unchanged
    def snapshot(dir: String): Seq[String] = spark.read.parquet(dir)
      .collect().map(_.mkString("|")).sorted.toSeq
    val (s0, a0) = (snapshot(corpusDir), snapshot(auditDir))
    Ingest.runCuratedBatch(b0.toDF("id", "text", "source", "lang"), 0L,
      corpusDir, auditDir, bench, vocab,
      spanLen = 4, maxOovFrac = 0.5, piiPatterns = Corpus.DefaultPiiPatterns)
    assert(snapshot(corpusDir) == s0, "replay must not change the store")
    assert(snapshot(auditDir) == a0, "replay must not change the audit")
  }

  test("ingestion replay is exactly-once: re-delivering a batch leaves store and audit identical") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Corpus
    import graft.streaming.Ingest
    val dirBase = java.nio.file.Files.createTempDirectory("graft_replay").toString
    val (corpusDir, auditDir) = (s"$dirBase/corpus", s"$dirBase/audit")
    val good = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val novel = "spark catalyst optimizer pushes filters below joins for scan pruning wins"
    val bench = Seq((1L, "benchmark held out text strictly")).toDF("doc_id", "text")
    val lm = Corpus.lmCounts(Seq((1L, good), (2L, novel)).toDF("doc_id", "text"), "text")
    val ms = MemoryStream[(Long, String, String, String)](spark)
    val q = Ingest.ingestCorpus(
      ms.toDF().toDF("doc_id", "text", "source", "lang"),
      corpusDir, auditDir, bench, lm,
      "doc_id", "text", "source", "lang",
      checkpointDir = s"$dirBase/ckpt", trigger = Trigger.ProcessingTime(0),
      maxTopNgramFrac = 0.5)
    val b2 = Seq((20L, good, "web2", "en"), // dup of the batch-1-accepted doc 10
      (21L, novel, "web", "en")) // accepted
    try {
      ms.addData((10L, good, "web", "en"), (11L, good, "web", "en"))
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()

    def snapshot(dir: String): Seq[String] = spark.read.parquet(dir)
      .collect().map(_.mkString("|")).sorted.toSeq
    val store0 = snapshot(corpusDir)
    val audit0 = snapshot(auditDir)
    assert(store0.size == 2 && audit0.size == 4, s"store $store0 audit $audit0")

    // replay batch 1 (the at-least-once case: foreachBatch re-delivers the
    // same data under the same batch id). The replay must see the corpus
    // WITHOUT its own first attempt's partition, recompute the identical
    // verdicts — doc 21 stays accepted, NOT duplicate_corpus against
    // itself — and overwrite its own partitions in place.
    val base2 = b2.toDF("id", "text", "source", "lang")
    Ingest.runBatch(base2, 1L, corpusDir, auditDir, bench, lm, maxTopNgramFrac = 0.5)
    assert(snapshot(corpusDir) == store0, "replay must not change the store")
    assert(snapshot(auditDir) == audit0, "replay must not change the audit")
    // replaying twice more converges identically (idempotence, not luck)
    Ingest.runBatch(base2, 1L, corpusDir, auditDir, bench, lm, maxTopNgramFrac = 0.5)
    assert(snapshot(corpusDir) == store0 && snapshot(auditDir) == audit0)
  }

  test("compactAuditStore merges each batch partition to one file, preserving attribution and replay") {
    import spark.implicits._
    import graft.operators.Corpus
    import graft.streaming.Ingest
    val dirBase = java.nio.file.Files.createTempDirectory("graft_acompact").toString
    val (corpusDir, auditDir) = (s"$dirBase/corpus", s"$dirBase/audit")
    val good = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val novel = "spark catalyst optimizer pushes filters below joins for scan pruning wins"
    val bench = Seq((1L, "benchmark held out text strictly")).toDF("doc_id", "text")
    val lm = Corpus.lmCounts(Seq((1L, good), (2L, novel)).toDF("doc_id", "text"), "text")
    val b1 = Seq((10L, good, "web", "en"), (11L, good, "web", "en"))
      .toDF("id", "text", "source", "lang")
    val b2 = Seq((20L, good, "web2", "en"), (21L, novel, "web", "en"))
      .toDF("id", "text", "source", "lang")
    Ingest.runBatch(b1, 0L, corpusDir, auditDir, bench, lm, maxTopNgramFrac = 0.5)
    Ingest.runBatch(b2, 1L, corpusDir, auditDir, bench, lm, maxTopNgramFrac = 0.5)

    def snapshot(dir: String): Seq[String] = spark.read.parquet(dir)
      .collect().map(_.mkString("|")).sorted.toSeq
    def parquetFiles(dir: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(dir))
    }
    // a wide micro-batch leaves one file per task — fabricate one from
    // batch 0's rows (same file schema: the partition column lives in the
    // directory name) so the merge has real small files to collapse
    val wide = spark.read.parquet(auditDir).drop("batch_id")
    wide.repartition(3).write.parquet(s"$auditDir/batch_id=7")
    val audit0 = snapshot(auditDir) // includes the batch_id partition column
    assert(audit0.size == 8)
    assert(parquetFiles(auditDir) >= 5, "micro-batch writes leave many small files")
    assert(Ingest.compactAuditStore(spark, auditDir) == 3, "one file per batch partition")
    // partitions survive — attribution is NOT squashed into an epoch
    val subdirs = new java.io.File(auditDir).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(subdirs == Set("batch_id=0", "batch_id=1", "batch_id=7"), s"got $subdirs")
    assert(snapshot(auditDir) == audit0, "rows and attribution byte-stable")
    // replay after compaction: the overwrite targets exactly its own
    // (now single-file) partition and converges to the same bytes
    Ingest.runBatch(b2, 1L, corpusDir, auditDir, bench, lm, maxTopNgramFrac = 0.5)
    assert(snapshot(auditDir) == audit0, "replay onto a compacted store is still idempotent")
    // half-swap crash recovery applies to the audit store too
    val fs = new org.apache.hadoop.fs.Path(auditDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(auditDir),
      new org.apache.hadoop.fs.Path(auditDir + ".compact"))
    assert(Ingest.compactAuditStore(spark, auditDir) == 3)
    assert(snapshot(auditDir) == audit0)
  }

  test("NULL-id docs get their own null_id verdict, not an arbitrary stage label") {
    import spark.implicits._
    import graft.operators.Corpus
    import graft.streaming.Ingest
    val good = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val lm = Corpus.lmCounts(Seq((1L, good)).toDF("doc_id", "text"), "text")
    val bench = Seq((1L, "benchmark held out text")).toDF("doc_id", "text")
    // same text on both rows: the null-id doc must neither vanish from the
    // audit nor participate in dedup (doc 10 stays canonical-alone)
    val batch = Seq((Option(10L), good, "web", "en"),
      (Option.empty[Long], good, "web", "en")).toDF("doc_id", "text", "source", "lang")
    val out = Ingest.assembleMicroBatch(batch, batch.limit(0), bench, lm,
        "doc_id", "text", "source", "lang", maxTopNgramFrac = 0.5)
      .collect().map(r => Option(r.get(0)) ->
        ((Option(r.getAs[String]("drop_stage")), r.getAs[Boolean]("keep"),
          r.isNullAt(r.fieldIndex("n_tokens"))))).toMap
    assert(out.size == 2, s"one audit row per doc incl. the null id: $out")
    assert(out(Some(10L))._1.isEmpty && out(Some(10L))._2, s"got ${out(Some(10L))}")
    assert(out(None)._1.contains("null_id") && !out(None)._2, s"got ${out(None)}")
    assert(out(None)._3, "a null-id doc never reaches the gate: n_tokens stays null")
  }

  test("compactStore auto-recovers a half-swapped crash state") {
    import spark.implicits._
    import graft.streaming.Ingest
    val dir = java.nio.file.Files.createTempDirectory("graft_swap").toString + "/store"
    Seq((1L, "a"), (2L, "b")).toDF("id", "text")
      .write.parquet(s"$dir/batch_id=0")
    Seq((3L, "c")).toDF("id", "text").write.parquet(s"$dir/batch_id=1")
    assert(Ingest.compactStore(spark, dir) == 2)
    val rows = spark.read.parquet(dir).select("id").collect().map(_.getLong(0)).toSet
    assert(rows == Set(1L, 2L, 3L))
    // simulate a crash in the two-rename window: compacted dir complete on
    // disk (here: a copy of the live content), live dir moved aside
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(dir),
      fs, new org.apache.hadoop.fs.Path(dir + ".compact"), false, true,
      spark.sparkContext.hadoopConfiguration)
    require(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".old")))
    // re-running detects the state, rolls the complete compact dir forward,
    // and compacts normally — no manual rename needed
    assert(Ingest.compactStore(spark, dir) == 2)
    assert(spark.read.parquet(dir).select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".old")))
    // the roll-BACK path: only <dir>.old remains
    require(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".old")))
    assert(Ingest.compactStore(spark, dir) == 2)
    assert(spark.read.parquet(dir).select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
  }

  test("dq monitoring evaluates the batch constraint suite per micro-batch") {
    import spark.implicits._
    import graft.operators.Checks
    val ms = MemoryStream[Event](spark)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long, Boolean)]()
    val q = Streams.eachBatch(ms.toDF())(
        Checks.check(_, Seq(Checks.NotNull("event_type"), Checks.RowCountBetween(1L, 2L)))) { verdicts =>
      buf.synchronized {
        buf ++= verdicts.collect().map(r => (r.getAs[Long]("batch_id"),
          r.getString(0), r.getLong(3), r.getLong(4), r.getBoolean(5)))
      }
    }
    try {
      ms.addData(Event(1L, ts(1), 100L, "click", 1.0), Event(2L, ts(2), 100L, "buy", 2.0))
      q.processAllAvailable()
      ms.addData(Event(3L, ts(3), 100L, "click", 1.0), Event(4L, ts(4), 101L, "buy", 2.0),
        Event(5L, ts(5), 102L, "click", 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val byBatch = buf.groupBy(_._1)
    // batch 0: 2 rows → both constraints pass
    assert(byBatch(0L).map(t => t._2 -> ((t._3, t._4, t._5))).toMap ==
      Map("not_null(event_type)" -> ((0L, 2L, true)), "row_count" -> ((0L, 2L, true))),
      s"$buf")
    // batch 1: 3 rows → the row-count bound fails WITH batch scope
    assert(byBatch(1L).map(t => t._2 -> ((t._3, t._4, t._5))).toMap ==
      Map("not_null(event_type)" -> ((0L, 3L, true)), "row_count" -> ((1L, 3L, false))),
      s"$buf")
  }

  test("bm25 serving streams queries against the frozen index, bit-equal to batch") {
    import spark.implicits._
    import graft.operators.Retrieval
    val corpus = Seq(
      (1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "apple cherry cherry date"), (4L, "date egg")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bm25srv").toString + "/idx"
    Retrieval.bm25Index(corpus, "doc_id", "text", dir)
    val ms = MemoryStream[(Long, String)](spark)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Seq[Any])]()
    val q = Streams.eachBatch(ms.toDF().toDF("qid", "qtext"))(b =>
        Retrieval.bm25TopKIndexed(b.sparkSession, dir, b, "qid", "qtext", k = 3)) { res =>
      buf.synchronized {
        buf ++= res.collect().map(r => (r.getAs[Long]("batch_id"), r.toSeq.dropRight(1)))
      }
    }
    try {
      ms.addData((100L, "apple cherry"))
      q.processAllAvailable()
      ms.addData((200L, "banana egg"), (300L, "date"))
      q.processAllAvailable()
    } finally q.stop()
    val qs = Seq((100L, "apple cherry"), (200L, "banana egg"), (300L, "date"))
      .toDF("qid", "qtext")
    val batch = Retrieval.bm25TopKIndexed(spark, dir, qs, "qid", "qtext", k = 3)
      .collect().map(_.toSeq).toSet
    assert(buf.map(_._2).toSet == batch, s"stream=${buf.toSeq}\nbatch=$batch")
    // batch ids partition the stream output by arrival batch
    assert(buf.filter(_._1 == 0L).map(_._2.head).toSet == Set(100L), s"$buf")
    assert(buf.filter(_._1 == 1L).map(_._2.head).toSet == Set(200L, 300L), s"$buf")
  }

  test("streaming funnel snapshot ≡ batch funnel over append-only arrivals") {
    import spark.implicits._
    import graft.operators.Events
    val ms = MemoryStream[Streams.Event](spark)
    val out = Streams.funnelStream(ms.toDS(), Seq("view", "click", "purchase"))
    val q = Streams.runToMemory(out.toDF(), "funnel_out", OutputMode.Update())
    val b1 = Seq(
      Streams.Event(1L, ts(1), 1L, "view", 1.0),
      Streams.Event(2L, ts(2), 1L, "purchase", 1.0),  // out of order: no click yet
      Streams.Event(3L, ts(1), 2L, "click", 1.0),     // click before any view
      Streams.Event(4L, ts(3), 3L, "view", 1.0))
    val b2 = Seq(
      Streams.Event(5L, ts(4), 1L, "click", 1.0),
      Streams.Event(6L, ts(5), 1L, "purchase", 1.0),  // completes across batches
      Streams.Event(7L, ts(6), 3L, "view", 1.0))      // repeat step: no advance
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // latest snapshot per user: the memory sink appends every update, and
    // steps_completed is monotone per user (equal-depth snapshots are
    // identical rows), so max-depth IS the final state
    val snap = spark.table("funnel_out")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]))))
      .groupBy(_._1).view.mapValues(_.maxBy(_._2._1)._2).toMap
    val events = (b1 ++ b2).toDS().toDF()
    val batch = Events.funnel(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(snap == batch, s"stream=$snap\nbatch=$batch")
    assert(snap(1L)._1 == 3L && snap(2L)._1 == 0L && snap(3L)._1 == 1L, s"$snap")
  }

  test("funnel-latency monitor: last verdict ≡ batch funnelLatency over all events") {
    import spark.implicits._
    import graft.operators.Events
    val storeDir = "target/streaming_spec/funnel_latency_store"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(storeDir))
    val ms = MemoryStream[Streams.Event](spark)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Seq[org.apache.spark.sql.Row])]()
    val q = Streams.funnelLatencyMonitorStream(ms.toDS(),
        Seq("view", "click", "purchase"), storeDir) { v =>
      val rows = v.collect().toSeq
      buf.synchronized { buf += ((rows.head.getAs[Long]("batch_id"), rows)) }
    }
    val b1 = Seq(
      Streams.Event(1L, ts(1), 1L, "view", 1.0),
      Streams.Event(2L, ts(2), 1L, "click", 1.0),
      Streams.Event(3L, ts(1), 2L, "view", 1.0),
      Streams.Event(4L, ts(3), 3L, "view", 1.0))
    val b2 = Seq(
      Streams.Event(5L, ts(4), 1L, "purchase", 1.0),  // completes across batches
      Streams.Event(6L, ts(5), 2L, "click", 1.0),
      Streams.Event(7L, ts(6), 4L, "click", 1.0))     // click w/o view: depth 0
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def key(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val last = key(buf.maxBy(_._1)._2)
    val batch = key(Events.funnelLatency(Events.funnel(
      (b1 ++ b2).toDS().toDF(), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))).collect().toSeq)
    assert(last == batch, s"stream=$last\nbatch=$batch")
    // depth-0 user 4 excluded; depths 1 (user 3), 2 (user 2), 3 (user 1)
    assert(last.map(_._1) == Set(1L, 2L, 3L), s"$last")
  }

  test("retention monitor: last verdict ≡ batch retentionCohorts; replay and duplicates harmless") {
    import spark.implicits._
    import graft.operators.Events
    val storeDir = "target/streaming_spec/retention_store"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(storeDir))
    def week(n: Int): Timestamp = Timestamp.valueOf(f"2024-01-${1 + 7 * n}%02d 10:00:00")
    val ms = MemoryStream[(Long, Timestamp)](spark)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Set[(java.sql.Date, Long, Long, Double)])]()
    val q = Streams.retentionMonitorStream(ms.toDF().toDF("user_id", "ts"),
        "user_id", "ts", storeDir) { v =>
      val rows = v.collect().toSeq
      buf.synchronized {
        buf += ((rows.head.getAs[Long]("batch_id"),
          rows.map(r => (r.getDate(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet))
      }
    }
    // cohort A: users 1,2 in week 0; user 1 returns weeks 1 and 2.
    // cohort B: user 3 joins week 1, returns week 2. Duplicates everywhere.
    val b1 = Seq((1L, week(0)), (2L, week(0)), (1L, week(0)), (1L, week(1)))
    val b2 = Seq((1L, week(2)), (3L, week(1)), (3L, week(2)), (2L, week(0)))
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val last = buf.maxBy(_._1)._2
    val batch = Events.retentionCohorts(
        (b1 ++ b2).toDF("user_id", "ts"), "user_id", "ts")
      .collect().map(r => (r.getDate(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(last == batch, s"stream=$last\nbatch=$batch")
    // cohort A week 1 retention = 1/2, week 2 = 1/2; cohort B week 1 = 1/1
    assert(batch.exists(x => x._2 == 1L && x._4 == 0.5), s"$batch")
  }

  test("centroid drift monitor flags the micro-batch carrying a reversed shard") {
    import spark.implicits._
    import graft.operators.Similarity
    val ref = Seq((1, Seq(1.0f, 0.0f)), (1, Seq(1.0f, 0.0f)),
      (2, Seq(0.0f, 1.0f))).toDF("label", "embedding")
    val baseline = Similarity.centroidBaseline(ref, "label", "embedding", dim = 2)
    val ms = MemoryStream[(Int, Seq[Float])](spark)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Int, Option[Long])]()
    val q = Streams.eachBatch(ms.toDF().toDF("label", "embedding"))(
        Similarity.scoreCentroidDriftAgainst(_, baseline, "label", "embedding", dim = 2)) { v =>
      buf.synchronized {
        buf ++= v.collect().map(r => (r.getAs[Long]("batch_id"), r.getInt(0),
          Option(r.get(4)).map(_.asInstanceOf[Long])))
      }
    }
    try {
      ms.addData((1, Seq(1.0f, 0.0f)))              // unchanged direction
      q.processAllAvailable()
      ms.addData((1, Seq(-1.0f, 0.0f)))             // reversed shard
      q.processAllAvailable()
    } finally q.stop()
    val byBatch = buf.groupBy(_._1).view
      .mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    assert(byBatch(0L)(1) == Some(0L), s"unchanged batch drifts 0: $buf")
    assert(byBatch(0L)(2) == None, s"label absent from the batch: NULL: $buf")
    assert(byBatch(1L)(1) == Some(2000000L), s"reversed shard flags at 2e6: $buf")
  }

  test("CDC apply stream: sequential in-order batches == one-shot latest-wins merge") {
    import spark.implicits._
    import graft.operators.Corpus
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val b1 = Seq((1L, "x1", "upsert", 10L), (2L, "gone", "delete", 11L),
      (4L, "new", "upsert", 12L))
    val b2 = Seq((1L, "x2", "upsert", 20L), (4L, "gone", "delete", 21L),
      (5L, "late", "upsert", 22L))
    // snapshot store: an in-memory frame behind the read/write hooks
    var snapshot = base
    val ms = MemoryStream[(Long, String, String, Long)](spark)
    val q = Streams.applyChangesStream(
        ms.toDF().toDF("id", "v", "op", "cts"), "id", "op", "cts") {
      () => snapshot
    } { (next, _) =>
      val rows = next.collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
      snapshot = rows.toDF("id", "v")
    }
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = snapshot.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val oneShot = Corpus.applyChanges(base, (b1 ++ b2).toDF("id", "v", "op", "cts"),
        "id", "op", "cts")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == oneShot, s"streamed=$streamed oneShot=$oneShot")
    assert(streamed == Map(1L -> "x2", 3L -> "c", 5L -> "late"), s"$streamed")
  }

  test("fd monitor: per-batch verdicts bit-equal to the batch checker") {
    import spark.implicits._
    import graft.operators.Checks
    val ms = MemoryStream[(Long, String)](spark)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Boolean, Long)]()
    val q = Streams.eachBatch(ms.toDF().toDF("k", "v"))(
        Checks.fdCheck(_, Seq(("k", "v")))) { verdicts =>
      val r = verdicts.select("batch_id", "holds", "g3_remove_rows").head()
      buf.synchronized { buf += ((r.getLong(0), r.getBoolean(1), r.getLong(2))) }
    }
    val clean = Seq((1L, "a"), (2L, "b"), (1L, "a"))
    val broken = Seq((5L, "x"), (5L, "y"), (5L, "x"), (6L, "z"))
    try {
      ms.addData(clean: _*); q.processAllAvailable()
      ms.addData(broken: _*); q.processAllAvailable()
    } finally q.stop()
    assert(buf.toSet == Set((0L, true, 0L), (1L, false, 1L)), s"$buf")
    // bit-equality with the batch checker over the same rows
    val batch = Checks.fdCheck(broken.toDF("k", "v"), Seq(("k", "v"))).head()
    assert(batch.getBoolean(6) == false && batch.getLong(5) == 1L)
  }

  test("streaming co-occurrence store: union of emitted batch stores serves == one-shot batch") {
    import spark.implicits._
    import graft.operators.Graph
    val ms = MemoryStream[(Long, String)](spark)
    val buf = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val q = Streams.eachBatch(ms.toDF().toDF("basket", "item"))(
        Graph.coOccurrenceStore(_, "basket", "item")) { store =>
      val rows = store.collect()
      buf.synchronized { buf ++= rows }
    }
    // basket-disjoint micro-batches; (A,B) once per batch — the serve-time
    // floor must still see count 2
    val b1 = Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "C"))
    val b2 = Seq((3L, "A"), (3L, "B"), (4L, "B"), (4L, "C"))
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(buf.map(_.getLong(4)).distinct.sorted == Seq(0L, 1L), "both batch_ids present")
    val storedRows: Seq[(String, String, String, Long)] = buf.toSeq.map { r =>
      (r.getString(0), Option(r.getString(1)).orNull,
        Option(r.getString(2)).orNull, r.getLong(3))
    }
    val stored = storedRows.toDF("kind", "item_a", "item_b", "n")
    val served = Graph.coOccurrenceFromStore(stored, minPairCount = 2)
      .collect().map(_.toString).sorted.toSeq
    val direct = Graph.coOccurrence((b1 ++ b2).toDF("basket", "item"),
        "basket", "item", minPairCount = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(served == direct, s"served=$served direct=$direct")
    assert(served.exists(_.contains("[A,B,2,")), s"merged floor must keep (A,B): $served")
  }

  test("psi monitor scores micro-batch drift against the frozen baseline") {
    import spark.implicits._
    import graft.operators.Checks
    val ref = (1 to 100).map(i => i.toDouble).toDF("v")
    val baseline = Checks.psiBaseline(ref, "v", buckets = 5)
    val ms = MemoryStream[Double](spark)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val q = Streams.eachBatch(ms.toDF().toDF("v"))(Checks.scorePsiAgainst(_, baseline, "v")) { verdicts =>
      val total = verdicts.agg(org.apache.spark.sql.functions.sum("psi_micro"))
        .collect()(0).getLong(0)
      val bid = verdicts.select("batch_id").head().getLong(0)
      buf.synchronized { buf += ((bid, total, verdicts.count())) }
    }
    try {
      ms.addData((1 to 100).map(_.toDouble): _*)   // same distribution
      q.processAllAvailable()
      ms.addData((101 to 200).map(_.toDouble): _*) // fully shifted
      q.processAllAvailable()
    } finally q.stop()
    val byBatch = buf.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byBatch(0L) == ((0L, 5L)), s"identical batch: exact-zero PSI: $buf")
    assert(byBatch(1L)._1 > 1000000L && byBatch(1L)._2 == 5L,
      s"shifted batch must land far past the act band: $buf")
    // bit-equality with the batch scorer over the same rows
    val batchScore = Checks.scorePsiAgainst(
        (101 to 200).map(_.toDouble).toDF("v"), baseline, "v")
      .agg(org.apache.spark.sql.functions.sum("psi_micro")).collect()(0).getLong(0)
    assert(batchScore == byBatch(1L)._1, s"stream=${byBatch(1L)._1} batch=$batchScore")
  }

  test("chi2 monitor scores micro-batch categorical drift against the frozen baseline, bit-equal to batch") {
    import spark.implicits._
    import graft.operators.Checks
    val ref = (Seq.fill(60)("a") ++ Seq.fill(30)("b") ++ Seq.fill(10)("c")).toDF("cat")
    val baseline = Checks.chi2Baseline(ref, "cat", maxCategories = 3)
    val ms = MemoryStream[String](spark)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val q = graft.streaming.Streams.eachBatch(ms.toDF().toDF("cat"))(
        Checks.scoreChi2Against(_, baseline, "cat")) { verdicts =>
      val total = verdicts.agg(org.apache.spark.sql.functions.sum("chi2_term_micro"))
        .collect()(0).getLong(0)
      val bid = verdicts.select("batch_id").head().getLong(0)
      buf.synchronized { buf += ((bid, total, verdicts.count())) }
    }
    val shifted = Seq.fill(50)("zz") ++ Seq.fill(40)("b") ++ Seq.fill(10)("c")
    try {
      ms.addData(Seq.fill(60)("a") ++ Seq.fill(30)("b") ++ Seq.fill(10)("c"): _*)
      q.processAllAvailable()
      ms.addData(shifted: _*)   // 'a' vanished, an unseen label floods __other__
      q.processAllAvailable()
    } finally q.stop()
    val byBatch = buf.map(t => t._1 -> ((t._2, t._3))).toMap
    // identical batch: observed == expected in every cell → exact zero
    assert(byBatch(0L) == ((0L, 5L)), s"identical batch must score 0: $buf")
    assert(byBatch(1L)._1 > 10000000L && byBatch(1L)._2 == 5L,
      s"vanished-label + new-label batch must spike: $buf")
    val batchScore = Checks.scoreChi2Against(shifted.toDF("cat"), baseline, "cat")
      .agg(org.apache.spark.sql.functions.sum("chi2_term_micro")).collect()(0).getLong(0)
    assert(batchScore == byBatch(1L)._1, s"stream=${byBatch(1L)._1} batch=$batchScore")
  }

  test("volume monitor scores micro-batches against a frozen baseline, bit-equal to batch") {
    import spark.implicits._
    import graft.operators.Events
    // history: click counts 10 / 12 / 14 over three days; no buy history
    val hist = (Seq.fill(10)(1) ++ Seq.fill(12)(2) ++ Seq.fill(14)(3)).zipWithIndex
      .map { case (day, i) =>
        (i.toLong, Timestamp.valueOf(f"2024-01-$day%02d 10:${i % 60}%02d:00"),
          1L, "click", 1.0)
      }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val baseline = Events.anomalyBaseline(hist, "ts", "event_type")
    val batchRows = (1 to 40).map(i => Streams.Event(100L + i,
        Timestamp.valueOf(f"2024-01-04 10:${i % 60}%02d:00"), 1L, "click", 1.0)) :+
      Streams.Event(999L, Timestamp.valueOf("2024-01-04 11:00:00"), 2L, "buy", 1.0)
    val ms = MemoryStream[Streams.Event](spark)
    val buf = scala.collection.mutable.ArrayBuffer[
      (Long, String, Long, Long, Option[Long], Boolean)]()
    val q = Streams.eachBatch(ms.toDF())(
        Events.scoreAgainstBaseline(_, baseline, "ts", "event_type")) { v =>
      buf.synchronized {
        buf ++= v.collect().map(r => (r.getAs[Long]("batch_id"), r.getString(0),
          r.getLong(2), r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]),
          r.getBoolean(5)))
      }
    }
    try {
      ms.addData(batchRows: _*)
      q.processAllAvailable()
    } finally q.stop()
    val byType = buf.map(t => t._2 -> ((t._3, t._4, t._5, t._6))).toMap
    // click day 4: mean 12, var 8/3, the dailyAnomalies spec's exact z
    val z = math.round(28.0 * 1e6 / math.sqrt(8.0 / 3.0))
    assert(byType("click") == ((40L, 3L, Some(z), true)), s"$buf")
    // a type with no baseline scores NULL (warm-up semantics), never flags
    assert(byType("buy") == ((1L, 0L, None, false)), s"$buf")
    // batch backfill over the same numbers is bit-identical
    val back = Events.scoreAgainstBaseline(
        ms.toDS().sparkSession.createDataFrame(batchRows), baseline, "ts", "event_type")
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getBoolean(5)))).toMap
    assert(back == byType, s"stream=$byType batch=$back")
  }

  test("canary scan is stateless on a stream: append-mode hits match batch") {
    import spark.implicits._
    val ms = MemoryStream[(Long, String)](spark)
    val scanned = graft.operators.Corpus.canaryScan(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", Seq("CANARY-A1"))
    val q = Streams.runToMemory(scanned, "canary_out", OutputMode.Append())
    try {
      ms.addData((1L, "x CANARY-A1 y"), (2L, "clean"))
      q.processAllAvailable()
      ms.addData((3L, "CANARY-A1 CANARY-A1"))
      q.processAllAvailable()
      val got = spark.table("canary_out").collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == Map(1L -> 1L, 3L -> 2L), s"$got")
    } finally q.stop()
  }

  test("monitor stores prune to keepVersions and survive a checkpointed restart") {
    import spark.implicits._
    import graft.operators.Events
    val storeDir = "target/streaming_spec/retention_prune_store"
    val ckptDir = "target/streaming_spec/retention_prune_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(storeDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckptDir))
    def week(n: Int): Timestamp = Timestamp.valueOf(f"2024-01-${1 + 7 * n}%02d 10:00:00")
    def versionIds(): Seq[Long] =
      Streams.storeVersionIds(spark, storeDir).map(_._1)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Set[(java.sql.Date, Long, Long, Double)])]()
    // ONE MemoryStream across both query incarnations (it retains all
    // batches, so the checkpointed offsets stay resolvable after restart)
    val ms = MemoryStream[(Long, Timestamp)](spark)
    def runBatches(batches: Seq[Seq[(Long, Timestamp)]]): Unit = {
      val q = Streams.retentionMonitorStream(ms.toDF().toDF("user_id", "ts"),
          "user_id", "ts", storeDir,
          checkpointDir = Some(ckptDir), keepVersions = 2) { v =>
        val rows = v.collect().toSeq
        buf.synchronized {
          buf += ((rows.head.getAs[Long]("batch_id"),
            rows.map(r => (r.getDate(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet))
        }
      }
      try batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
    }
    val b1 = Seq((1L, week(0)), (2L, week(0)))
    val b2 = Seq((1L, week(1)), (3L, week(1)))
    val b3 = Seq((1L, week(2)), (3L, week(2)))
    runBatches(Seq(b1, b2, b3))
    // keepVersions=2: after batches 0,1,2 only v1 and v2 remain on disk —
    // the store holds <= keep full copies, not one per micro-batch forever
    assert(versionIds() == Seq(1L, 2L), versionIds().toString)
    // restart from the SAME checkpoint: MemoryStream state is gone but the
    // batch-id clock keeps rising (3, ...) — the restarted query merges the
    // durable store instead of silently writing below the stored max
    val b4 = Seq((2L, week(1)))
    runBatches(Seq(b4))
    assert(versionIds().last > 2L, s"restart must keep counting up: ${versionIds()}")
    assert(versionIds().size <= 2, versionIds().toString)
    // final verdict ≡ batch retentionCohorts over the union of all four
    // micro-batches — nothing was lost to pruning or the restart
    val last = buf.maxBy(_._1)._2
    val batch = Events.retentionCohorts(
        (b1 ++ b2 ++ b3 ++ b4).toDF("user_id", "ts"), "user_id", "ts")
      .collect().map(r => (r.getDate(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(last == batch, s"stream=$last\nbatch=$batch")
  }
}
