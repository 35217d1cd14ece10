package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.operators.{AsOfJoin, Dedup}
import graft.sources.MetaPersist

/** Regression tests for the round-1 advisory findings (ADVICE.md r1): each
  * test pins the exact failure scenario the advisory described. */
class AdviceRegressionSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark

  // ---- ADVICE r1 high: pk-overwriting projections must drop the verified flag

  test("projection that overwrites a pk column re-enables real dedup") {
    import spark.implicits._
    val base = Seq(("p1", 1L), ("p2", 2L), ("p3", 3L)).toDF("product_id", "quantity")
    val unique = MetaFrame(base, Map.empty[String, Any])
      .groupBy("product_id").agg(sum("quantity").as("q"))

    // withColumn clobbers the pk with a constant → all rows now collide
    val clobbered = unique.withColumn("product_id", lit("same"))
    val deduped = clobbered.dropDuplicates(Seq("product_id"))
    assert(!(deduped.df eq clobbered.df), "must not elide after pk overwrite")
    assert(deduped.count() == 1L)

    // select with a computed alias over the pk name → same story
    val aliased = unique.select(lit("x").as("product_id"), col("q"))
    val deduped2 = aliased.dropDuplicates(Seq("product_id"))
    assert(!(deduped2.df eq aliased.df), "must not elide after select-alias overwrite")
    assert(deduped2.count() == 1L)

    // but a projection that passes the pk through untouched still elides
    val passThrough = unique.withColumn("q2", col("q") * 2)
    assert(passThrough.dropDuplicates(Seq("product_id", "q2")).df eq passThrough.df,
      "pass-through projection must keep the elision proof")
  }

  // ---- ADVICE r1 medium: refineClusters must actually merge chains

  test("refineClusters merges a 3-node chain in one pointer-jumping round") {
    import spark.implicits._
    // 1 is a root; 2 points at 1; 3 points at 2 (chain needs one refinement)
    val asg = Seq((1L, 1L), (2L, 1L), (3L, 2L)).toDF("id", "cluster_id")
    val got = Dedup.refineClusters(asg, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connectedComponents merges components joined only through a non-min vertex") {
    import spark.implicits._
    // edges 1-3 and 2-3: pointer assignments would give 1→1, 2→2, 3→1 and
    // pointer jumping can never pull 2 into the component — the edge list can
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connectedComponents collapses a long path graph") {
    import spark.implicits._
    val pairs = (1L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.forall(_ == 1L), s"path graph must collapse to one component: $got")
  }

  test("refineToFixpoint collapses a 5-node chain to one component") {
    import spark.implicits._
    val asg = Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L)).toDF("id", "cluster_id")
    val got = Dedup.refineToFixpoint(asg, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.forall(_ == 1L), s"all nodes must reach root 1: $got")
  }

  // ---- ADVICE r1 medium: as-of join with nullable payloads

  test("as-of join carries NULL payload from the newest match, not an older value") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val left = Seq(("a", ts(7L)), ("a", ts(10L))).toDF("k", "lts")
    // newest right row (ts=8) has a genuinely NULL payload
    val right = Seq(("a", ts(5L), Option(1.0)), ("a", ts(8L), None: Option[Double]))
      .toDF("k", "rts", "px")
    val out = AsOfJoin.backward(left, right, "k", "lts", "rts", Seq("px"))
      .collect().map(r => r.getAs[java.sql.Timestamp]("lts").getTime / 1000 ->
        Option(r.getAs[java.lang.Double]("asof_px"))).toMap
    assert(out(7L).contains(1.0), "ts=7 matches the ts=5 row with px=1.0")
    assert(out(10L).isEmpty, "ts=10 matches the ts=8 row whose px is NULL — must stay NULL")
  }

  test("as-of tolerance checks the same row the payload comes from") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val left = Seq(("a", ts(10L))).toDF("k", "lts")
    val right = Seq(("a", ts(5L), Option(1.0)), ("a", ts(8L), None: Option[Double]))
      .toDF("k", "rts", "px")
    // most recent match is ts=8 (within tol=3) with NULL px: result is NULL,
    // NOT ts=5's 1.0 (outside tol anyway — the old impl mixed the two rows)
    val out = AsOfJoin.backward(left, right, "k", "lts", "rts", Seq("px"), tolerance = Some(3L))
      .head()
    assert(out.isNullAt(out.fieldIndex("asof_px")))
  }

  test("right rows with NULL timestamps are never as-of matches") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val left = Seq(("a", ts(10L))).toDF("k", "lts")
    val right = Seq(("a", None: Option[java.sql.Timestamp], Option(5.0)))
      .toDF("k", "rts", "px")
    val out = AsOfJoin.backward(left, right, "k", "lts", "rts", Seq("px")).head()
    assert(out.isNullAt(out.fieldIndex("asof_px")),
      "a NULL-timestamp right row has no order position and must not match")
  }

  test("backwardBucketed equals backward for every bucket width (hot-key mitigation)") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // one hot key with dense left rows, sparse right rows (so narrow widths
    // leave many right-free buckets and the carry-in must reach several
    // buckets back), a cold key, left rows older than every right row, AND
    // NULL-key / NULL-timestamp left rows — backward keeps those with NULL
    // asof_* columns, so the bucketed stitch join must be null-safe to agree
    val left = ((0 until 200).map(i => (Option("hot"), Option(ts(i * 3L + 1)))) ++
      Seq((Option("cold"), Option(ts(40L))), (Option("cold"), Option(ts(2L))),
        (Option("nomatch"), Option(ts(9L))),
        (None: Option[String], Option(ts(12L))),       // NULL key
        (Option("hot"), None: Option[java.sql.Timestamp]), // NULL ts
        (None: Option[String], None: Option[java.sql.Timestamp]))) // both NULL
      .toDF("k", "lts")
    val right = ((0 until 40).map(i => ("hot", ts(i * 17L), Option(i * 1.5))) ++
      Seq(("cold", ts(35L), Option(99.0)),
        ("hot", ts(300L), None: Option[Double]))).toDF("k", "rts", "px")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (Option(r.getString(0)),
          Option(r.getAs[java.sql.Timestamp](1)).map(_.getTime),
          Option(r.getAs[java.lang.Double]("asof_px"))))
        .sortBy(t => (t._1, t._2)).toSeq
    val expected = canon(AsOfJoin.backward(left, right, "k", "lts", "rts", Seq("px")))
    for (width <- Seq(1L, 7L, 50L, 100000L)) {
      val got = canon(AsOfJoin.backwardBucketed(left, right, "k", "lts", "rts", Seq("px"), width))
      assert(got == expected, s"bucketWidth=$width diverges from backward")
    }
    // tolerance applies identically through the bucketed carry
    val expTol = canon(AsOfJoin.backward(left, right, "k", "lts", "rts", Seq("px"), Some(5L)))
    val gotTol = canon(
      AsOfJoin.backwardBucketed(left, right, "k", "lts", "rts", Seq("px"), 7L, Some(5L)))
    assert(gotTol == expTol, "tolerance diverges under bucketing")
  }

  // ---- ADVICE r1 low: sidecar escape roundtrip

  test("metadata sidecar roundtrips backslash-n and control characters") {
    import spark.implicits._
    val dir = Files.createDirectories(java.nio.file.Paths.get("target/advice_spec"))
      .resolve("sidecar").toString
    val tricky = "a\\nb\tq\"uote\nline2end\\t"
    val mf = MetaFrame(Seq((1L, "x")).toDF("id", "v"), Map("tricky" -> tricky, "plain" -> "ok"))
    MetaPersist.writeParquet(mf, dir)
    val back = MetaPersist.readParquet(spark, dir)
    assert(back.metadata("tricky") == tricky)
    assert(back.metadata("plain") == "ok")
  }

  // ---- ADVICE r3 low: codec dispatch survives corrupt image-like payloads

  test("decode falls back to the stub on payloads that crash ImageIO, not just IOException") {
    // a truncated PNG: magic bytes pass the format sniff, the chunk data is
    // garbage — plugin readers may throw RuntimeExceptions here, which must
    // surface as the stub features, not a task failure
    val corrupt = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R', 7, 7, 7, 7, 7, 7, 7)
    val feats = multimodal.Multimodal.MediaCodec.decode(corrupt)
    assert(feats.length == multimodal.Multimodal.MediaCodec.FeatureDim)
    assert(feats.sameElements(multimodal.Multimodal.MediaCodec.decodeStub(corrupt)))
  }

  // ---- ADVICE r3 low: freeCheckpoint only frees bare checkpoint frames

  test("freeCheckpoint is a no-op on plans that merely embed a checkpoint") {
    import spark.implicits._
    val cp = Seq((1L, "a"), (2L, "b")).toDF("id", "v").localCheckpoint()
    val derived = cp.filter(col("id") > 0L).select(col("id"))
    org.apache.spark.sql.graftbridge.freeCheckpoint(derived)
    // the embedded checkpoint must still be materialized and queryable
    assert(cp.count() == 2L)
    org.apache.spark.sql.graftbridge.freeCheckpoint(cp) // root case still frees
  }

  test("non-convergent refineToFixpoint still throws (cleanup path does not swallow)") {
    import spark.implicits._
    // a 9-node pointer chain needs >1 round; budget 0 rounds forces the
    // non-convergence throw, which must survive the checkpoint cleanup
    val chain = (1L to 9L).map(i => (i, math.max(i - 1, 1L))).toDF("id", "cluster_id")
    val e = intercept[IllegalStateException] {
      Dedup.refineToFixpoint(chain, "id", maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  // ---- ADVICE r4 low: failure paths free in-flight checkpoints too

  /** The directory holding every checkpoint dir this test JVM sets. */
  private def checkpointRoot: java.io.File = {
    val dir = new java.io.File(
      new java.net.URI(spark.sparkContext.getCheckpointDir.get).getPath)
    dir.getParentFile
  }

  private def checkpointFiles(): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0) else 1
    walk(checkpointRoot)
  }

  test("failed iterative loops leave no new reliable-checkpoint files") {
    import spark.implicits._
    import graft.operators.{Classifier, Graph}
    val before = checkpointFiles()
    // a 17-node pointer chain needs ~log2 rounds; budget 1 forces the
    // non-convergence throw AFTER a round materialized its checkpoint —
    // every file that round wrote (promoted AND in-flight) must be freed
    val chain = (1L to 17L).map(i => (i, math.max(i - 1, 1L))).toDF("id", "cluster_id")
    intercept[IllegalStateException] {
      Dedup.refineToFixpoint(chain, "id", maxRounds = 1)
    }
    val edges = (1L to 16L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(edges, "id_a", "id_b", maxRounds = 1)
    }
    assert(checkpointFiles() == before,
      s"failure paths must free all reliable-checkpoint files (before=$before after=${checkpointFiles()})")

    // ADVICE r19 #1: a converged result is a PROJECTION of the final
    // round, so the root-only freeCheckpoint is a no-op on it; its owner
    // reclaims the final round with freeCheckpoints
    val cc = Dedup.connectedComponents(edges, "id_a", "id_b")
    val refined = Dedup.refineToFixpoint(chain, "id")
    assert(checkpointFiles() > before, "each result keeps its final round")
    org.apache.spark.sql.graftbridge.freeCheckpoint(cc)
    org.apache.spark.sql.graftbridge.freeCheckpoint(refined)
    assert(checkpointFiles() > before, "freeCheckpoint does not reach under a projection")
    org.apache.spark.sql.graftbridge.freeCheckpoints(cc)
    org.apache.spark.sql.graftbridge.freeCheckpoints(refined)
    assert(checkpointFiles() == before, "freeCheckpoints reclaims the final rounds")

    // more loops, each failed at its 2nd and 4th reliable checkpoint: the
    // failure lands after loop-invariant frames and earlier rounds are
    // materialized, and every one of them must be freed
    val path = ((1L to 6L).map(i => (i, i + 1)) ++ Seq((7L, 8L), (8L, 9L), (9L, 7L)))
      .toDF("src", "dst")
    val docs = Seq((1L, "good clean text", 1), (2L, "spam spam buy now", 0),
      (3L, "clean good words", 1), (4L, "buy spam now", 0)).toDF("id", "text", "y")
    val loops: Seq[(String, () => Any)] = Seq(
      "kCore" -> (() => Graph.kCore(path, "src", "dst", k = 2)),
      "labelPropagation" -> (() => Graph.labelPropagation(path, "src", "dst")),
      "pageRankInt" -> (() => Graph.pageRankInt(path, "src", "dst")),
      "trainLogistic" -> (() => Classifier.trainLogistic(docs, "id", "text", "y", dim = 16)))
    for ((name, run) <- loops; n <- Seq(2, 4)) {
      val err = intercept[Exception] {
        FailingCheckpointFs.failingNth(spark, checkpointRoot, n)(run())
      }
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("injected checkpoint failure")),
        s"$name must fail at its checkpoint #$n under a checkpoint dir, got $err")
      assert(checkpointFiles() == before,
        s"$name failing at checkpoint #$n left files (before=$before after=${checkpointFiles()})")
    }
  }

  test("replaying Ingest.runBatch leaves no new checkpoint files") {
    import spark.implicits._
    import graft.operators.Corpus
    import graft.streaming.Ingest
    val dirBase = Files.createTempDirectory("graft_replay_pins").toString
    val good = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val novel = "spark catalyst optimizer pushes filters below joins for scan pruning wins"
    val bench = Seq((1L, "benchmark held out text strictly")).toDF("doc_id", "text")
    val lm = Corpus.lmCounts(Seq((1L, good), (2L, novel)).toDF("doc_id", "text"), "text")
    val batch = Seq((20L, good, "web", "en"), (21L, novel, "web", "en"), (22L, good, "web", "en"))
      .toDF("id", "text", "source", "lang")
    val before = checkpointFiles()
    // stage pins are always local, and both deliveries free theirs after
    // the writes — under the session's checkpoint dir too
    for (_ <- 1 to 2)
      Ingest.runBatch(batch, 0L, s"$dirBase/corpus", s"$dirBase/audit", bench, lm,
        maxTopNgramFrac = 0.5)
    assert(spark.read.parquet(s"$dirBase/audit").count() == 3L)
    assert(checkpointFiles() == before,
      s"a replayed batch left checkpoint files (before=$before after=${checkpointFiles()})")
  }

  // ---- ADVICE r1 low: dot product length-mismatch semantics

  test("native dot and HOF dot agree on mismatched lengths: both NULL") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val row = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("native"),
      VectorFunctions.dotHof(col("a"), col("b")).as("hof")).head()
    assert(row.isNullAt(0), "native dot must be NULL on length mismatch")
    assert(row.isNullAt(1), "HOF dot is NULL on length mismatch (zip_with null-pad)")
  }

  // ---- ADVICE r7 low: multi-stream AVIs must not interleave foreign frames

  /** Hand-built two-stream AVI: an 'auds' strl FIRST (stream 00), then the
    * 'vids' strl (stream 01), movi carrying one garbage '00db' chunk (stream
    * 0) and real '01db' DIB frames (stream 1). The walker must collect ONLY
    * the '01db' frames. */
  private def twoStreamAvi(vidsFrames: Seq[Array[Byte]], w: Int, h: Int,
      secondVids: Boolean = false): Array[Byte] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val garbage = Array.fill[Byte](w * 3 * h)(0x55)
    val hdrl = 4 + (8 + 4) + (8 + 4) + (8 + 40) // 2 strh bodies + 1 strf
    val movi = 4 + (8 + garbage.length) +
      vidsFrames.map(f => 8 + f.length + (f.length & 1)).sum
    val riff = 4 + (8 + hdrl) + (8 + movi)
    val buf = java.nio.ByteBuffer.allocate(8 + riff)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(s: String): Unit = { buf.put(s.getBytes(ascii)); () }
    fourcc("RIFF"); buf.putInt(riff); fourcc("AVI ")
    fourcc("LIST"); buf.putInt(hdrl); fourcc("hdrl")
    fourcc("strh"); buf.putInt(4); fourcc(if (secondVids) "vids" else "auds")
    fourcc("strh"); buf.putInt(4); fourcc("vids")
    fourcc("strf"); buf.putInt(40)
    buf.putInt(40); buf.putInt(w); buf.putInt(h)
    buf.putShort(1); buf.putShort(24)
    buf.putInt(0) // BI_RGB
    buf.putInt(vidsFrames.head.length)
    buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0)
    fourcc("LIST"); buf.putInt(movi); fourcc("movi")
    fourcc("00db"); buf.putInt(garbage.length); buf.put(garbage)
    vidsFrames.foreach { f =>
      fourcc("01db"); buf.putInt(f.length); buf.put(f)
      if ((f.length & 1) == 1) buf.put(0.toByte)
    }
    buf.array()
  }

  private def grayDib(w: Int, h: Int, v: Int): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val dib = new Array[Byte](stride * h)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      dib(y * stride + 3 * x + c) = v.toByte
    dib
  }

  test("AVI walker collects only the video stream's chunks in a multi-stream file") {
    import graft.multimodal.Multimodal.MediaCodec
    val w = 8; val h = 8
    val frames = Seq(grayDib(w, h, 200), grayDib(w, h, 10))
    val avi = twoStreamAvi(frames, w, h)
    val got = MediaCodec.aviDibFrames(avi)
    assert(got.isDefined, "two-stream AVI with one video stream must parse")
    val (gw, gh, fs) = got.get
    assert((gw, gh) == (w, h))
    assert(fs.size == 2, s"must collect exactly the 2 video frames, got ${fs.size}")
    assert(fs.zip(frames).forall { case (a, b) => a.sameElements(b) },
      "collected frames must be the '01db' video chunks, not the '00db' audio chunk")
    // and the decoded per-frame histograms see only the video pixels
    val hists = MediaCodec.videoFrameHistograms(avi).get
    assert(hists.size == 2)
    assert(hists(0)(200 * MediaCodec.FeatureDim / 256) == (w * h).toLong)
    assert(hists(1)(10 * MediaCodec.FeatureDim / 256) == (w * h).toLong)
  }

  test("an AVI declaring two video streams is rejected, not frame-interleaved") {
    import graft.multimodal.Multimodal.MediaCodec
    val avi = twoStreamAvi(Seq(grayDib(8, 8, 42)), 8, 8, secondVids = true)
    assert(MediaCodec.aviDibFrames(avi).isEmpty)
    assert(MediaCodec.videoFrameHistograms(avi).isEmpty)
  }

  // ---- ADVICE r7 low: frameHistograms must validate geometry itself

  test("frameHistograms rejects hostile or degenerate geometry on direct calls") {
    import graft.multimodal.Multimodal.MediaCodec
    val tiny = Vector(Array.fill[Byte](16)(0))
    // stride*height overflows Int for these — must be None, not AIOOBE
    assert(MediaCodec.frameHistograms(1 << 16, 1 << 16, tiny).isEmpty)
    // zero/negative dims — must be None, not a division-by-zero in the guard
    assert(MediaCodec.frameHistograms(0, 8, tiny).isEmpty)
    assert(MediaCodec.frameHistograms(8, 0, tiny).isEmpty)
    assert(MediaCodec.frameHistograms(-1, -1, tiny).isEmpty)
    // sane geometry still works
    val ok = MediaCodec.frameHistograms(8, 8, Vector(grayDib(8, 8, 99)))
    assert(ok.exists(_.head.sum == 64L))
  }

  // ---- ADVICE r11 high: frozen bucket scoring must return bucket LABELS,
  // not threshold ranks — they differ whenever tied scores overfill a bin
  // and the trained labels skip values

  test("scoreBucketsAgainst agrees with scoreBuckets on a skewed/tied distribution") {
    import graft.operators.Corpus
    import spark.implicits._
    // 80 rows tied at 0.5 plus one 0.1 and one 0.9 outlier: trained labels
    // are {0, 9} (the 0.5 mass overfills bucket 0; 0.9 jumps to 9), so the
    // model holds ONE threshold whose label is 9 — a count-of-thresholds
    // scorer would hand the top row bucket 1
    val rows = (1L to 80L).map(i => (i, 0.5)) ++ Seq((81L, 0.1), (82L, 0.9))
    val df = rows.toDF("doc_id", "score")
    val trained = Corpus.scoreBuckets(df, "doc_id", "score", nBuckets = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(trained(82L) == 9, s"top outlier must train into bucket 9, got ${trained(82L)}")
    assert(trained(81L) == 0 && trained(1L) == 0)
    val model = Corpus.bucketModel(df, "doc_id", "score", nBuckets = 10)
    val frozen = Corpus.scoreBucketsAgainst(df, model, "doc_id", "score")
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(frozen == trained,
      s"frozen scorer must reproduce every trained label; diff = ${
        trained.collect { case (k, v) if frozen(k) != v => (k, v, frozen(k)) }.take(5)}")
    // unseen bins still clamp: below-range → 0, above-range → largest label
    val probe = Seq((900L, 0.01), (901L, 0.99)).toDF("doc_id", "score")
    val p = Corpus.scoreBucketsAgainst(probe, model, "doc_id", "score")
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(p(900L) == 0 && p(901L) == 9)
  }

  // ---- ADVICE r11 low: NULL groups (and groups literally named "null")
  // must bucket within their own distribution, not collide or go NULL

  test("scoreBucketsBy buckets NULL groups and a group named 'null' independently") {
    import graft.operators.Corpus
    val spark2 = spark
    import spark2.implicits._
    // NULL group scores 1..4; group "null" scores 101..104 — if the keys
    // collided, one group's thresholds would mislabel the other's rows
    val rows: Seq[(Long, String, Double)] =
      Seq((1L, null, 1.0), (2L, null, 2.0), (3L, null, 3.0), (4L, null, 4.0),
        (5L, "null", 101.0), (6L, "null", 102.0), (7L, "null", 103.0), (8L, "null", 104.0))
    val df = rows.toDF("doc_id", "grp", "score")
    val got = Corpus.scoreBucketsBy(df, "grp", "doc_id", "score",
        nBuckets = 2, binWidthMicro = 1000000L)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.get(4))).toSeq
    assert(got.forall(_._3 != null), s"no row may get a NULL bucket: $got")
    val buckets = got.map(t => t._1 -> t._3.asInstanceOf[Int]).toMap
    // each group splits at ITS OWN median: lower half 0, upper half 1
    assert(buckets(1L) == 0 && buckets(2L) == 0 && buckets(3L) == 1 && buckets(4L) == 1,
      s"NULL group must bucket within its own distribution: $buckets")
    assert(buckets(5L) == 0 && buckets(6L) == 0 && buckets(7L) == 1 && buckets(8L) == 1,
      s"'null'-named group must bucket within its own distribution: $buckets")
  }

  // ---- ADVICE r11 low: curateCorpus must label NULL-id docs "null_id"
  // like its ingestion twin, not let them surface as a bogus "budget" drop

  test("curateCorpus gives NULL-id docs their own null_id verdict") {
    import graft.operators.Assembly
    val spark2 = spark
    import spark2.implicits._
    val corpus: Seq[(java.lang.Long, String, String)] = Seq(
      (1L, "alpha beta gamma delta", "web"),
      (2L, "epsilon zeta eta theta", "web"),
      (null, "orphan text with no id", "web"))
    val bench = Seq((99L, "benchmark passage tokens", "web"))
      .toDF("doc_id", "text", "source")
    val audit = Assembly.curateCorpus(corpus.toDF("doc_id", "text", "source"),
        bench, "doc_id", "text", "source")
      .collect()
    val nullRow = audit.find(_.isNullAt(0)).getOrElse(fail("NULL-id audit row missing"))
    assert(nullRow.getString(6) == "null_id",
      s"NULL-id doc must be dropped as null_id, got ${nullRow.getString(6)}")
    assert(!nullRow.getBoolean(7))
    assert(audit.filter(!_.isNullAt(0)).forall(_.getString(6) != "null_id"))
  }

  // ---- ADVICE r11 low: c4LineFilter's keep must be a real boolean for
  // NULL text even at minLines = 0 (NULL && true = NULL would leak out);
  // the fix computes docOk over the coalesced text, so NULL ≡ ""

  test("c4LineFilter returns a non-NULL keep for NULL text at minLines=0") {
    import graft.operators.Corpus
    val spark2 = spark
    import spark2.implicits._
    val rows: Seq[(Long, String)] =
      Seq((1L, null), (2L, ""), (3L, "A good line ends here."))
    val got = Corpus.c4LineFilter(rows.toDF("doc_id", "text"), "doc_id", "text",
        minWordsPerLine = 2, minLines = 0)
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(got(1L).isDefined, "NULL text must yield a real boolean, not NULL")
    assert(got(1L) == got(2L), s"NULL text must verdict like empty text: $got")
    assert(got(3L).contains(true))
    // at the default minLines = 3 a NULL doc is (non-NULL) false
    val strict = Corpus.c4LineFilter(rows.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(strict(1L).contains(false))
  }

  // ---- ADVICE r12 medium: selectTokenBudget's pass-1 histogram read
  // min/max(cast(id as long)) via getLong, so a STRING-id corpus NPE'd on
  // the driver before its documented non-numeric fallback could run

  test("selectTokenBudget runs on a string-id corpus, boundary window included") {
    import graft.operators.Corpus
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      ("a", 0.9, 10L), ("b", 0.9, 10L),
      ("c", 0.5, 10L), ("d", 0.5, 10L), ("e", 0.5, 10L))
      .toDF("doc_id", "score", "n_tokens")
    // budget 30: bin 900 (20 tokens) fully selected; bin 500 is the
    // boundary with 10 remaining -> id-ordered prefix keeps only "c"
    val got = Corpus.selectTokenBudget(docs, "doc_id", "score", "n_tokens", budget = 30L)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(got == Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "d" -> 0L, "e" -> 0L), s"$got")
  }

  // ---- ADVICE r12 low: NULL score / NULL token hardening — NULL-score
  // rows vanished from the boundary branch (both === and =!= are NULL)
  // and all-NULL token bins NPE'd the driver getLong reads

  test("selectTokenBudget: NULL score gets an explicit 0 verdict, NULL tokens weigh 0") {
    import graft.operators.Corpus
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, Option(0.9), Option(10L)),
      (2L, Option.empty[Double], Option(10L)),   // NULL score
      (3L, Option(0.9), Option.empty[Long]),     // NULL tokens in a selected bin
      (4L, Option(0.2), Option(5L)))
      .toDF("doc_id", "score", "n_tokens")
    // budget 12: bin 900 holds 10 + 0 tokens (doc 3 weighs 0) -> full;
    // bin 200 (5 tokens) is the boundary with 2 remaining -> doc 4 out
    val rows = Corpus.selectTokenBudget(docs, "doc_id", "score", "n_tokens", budget = 12L)
      .collect()
    assert(rows.length == 4, "one row per input row, NULL-score row included")
    val got = rows.map(r => r.getLong(0) -> ((Option(r.get(2)), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) == ((Some(900L), 10L, 1L)), s"$got")
    assert(got(2L) == ((None, 10L, 0L)), s"NULL score: explicit 0 verdict, NULL bin: $got")
    assert(got(3L) == ((Some(900L), 0L, 1L)), s"NULL tokens weigh 0: $got")
    assert(got(4L) == ((Some(200L), 5L, 0L)), s"$got")
  }

  test("selectTokenBudgetBy: NULL-score rows keep their group with a 0 verdict") {
    import graft.operators.Corpus
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      ("en", 1L, Option(0.9), Option(10L)),
      ("en", 2L, Option.empty[Double], Option(3L)),
      ("fr", 3L, Option(0.8), Option(4L)),
      ("fr", 4L, Option(0.8), Option.empty[Long]))
      .toDF("lang", "doc_id", "score", "n_tokens")
    val rows = Corpus.selectTokenBudgetBy(docs, "lang", "doc_id", "score", "n_tokens",
        budget = 10L)
      .collect()
    assert(rows.length == 4, "one row per input row")
    val got = rows.map(r => r.getLong(0) ->
      ((r.getString(1), Option(r.get(3)), r.getLong(4), r.getLong(5)))).toMap
    assert(got(1L) == (("en", Some(900L), 10L, 1L)), s"$got")
    assert(got(2L) == (("en", None, 3L, 0L)), s"NULL score keeps its group: $got")
    assert(got(3L) == (("fr", Some(800L), 4L, 1L)), s"$got")
    assert(got(4L) == (("fr", Some(800L), 0L, 1L)), s"NULL tokens weigh 0: $got")
  }

  // ---- ADVICE r12 low: knnGraph silently cast ids to long — string ids
  // became NULL, the id =!= __nid self-exclusion dropped every candidate,
  // and the graph returned silently empty

  test("knnGraph keeps string ids intact instead of returning a silently empty graph") {
    import graft.operators.{Dedup, Similarity}
    val spark2 = spark
    import spark2.implicits._
    val vecs = Seq(
      ("d1", Seq(1.0f, 0f, 0f, 0f)),
      ("d2", Seq(0.99f, 0.1f, 0f, 0f)),
      ("d3", Seq(0.8f, 0.6f, 0f, 0f)),
      ("d4", Seq(0f, 0f, 1.0f, 0f))).toDF("vec_id", "embedding")
    val centroids = Seq(
      (0L, Seq(1.0f, 0f, 0f, 0f)),
      (1L, Seq(0f, 0f, 1.0f, 0f))).toDF("cell", "cvec")
    def run(cap: Long): Map[String, Seq[String]] =
      Similarity.knnGraph(vecs, "vec_id", "embedding", centroids, "cell", "cvec",
          k = 2, maxCellNeighbors = cap)
        .orderBy("id", "rank").collect()
        .groupBy(_.getAs[String]("id"))
        .view.mapValues(_.toSeq.map(_.getAs[String]("neighbor_id"))).toMap
    // the same graph the long-id fixture pins in PipelineOpsSpec
    val exact = run(Dedup.Exact)
    assert(exact == Map("d1" -> Seq("d2", "d3"), "d2" -> Seq("d1", "d3"),
      "d3" -> Seq("d2", "d1")), s"$exact")
    // the capped (window) branch under string ids
    assert(run(1L) == Map("d2" -> Seq("d1"), "d3" -> Seq("d1")))
  }

  test("knnGraph preserves a non-long integral id type on both id columns") {
    import graft.operators.Similarity
    import org.apache.spark.sql.types.IntegerType
    val spark2 = spark
    import spark2.implicits._
    val vecs = Seq(
      (1, Seq(1.0f, 0f)), (2, Seq(0.9f, 0.436f))).toDF("vec_id", "embedding")
    val centroids = Seq((0L, Seq(1.0f, 0f))).toDF("cell", "cvec")
    val out = Similarity.knnGraph(vecs, "vec_id", "embedding", centroids, "cell", "cvec", k = 1)
    assert(out.schema("id").dataType == IntegerType)
    assert(out.schema("neighbor_id").dataType == IntegerType)
    assert(out.count() == 2L)
  }

  // ---- ADVICE r13 medium: bm25TopK over a string-id corpus NULLed every
  // doc id through the non-ANSI long cast into TopKAgg's id slot and
  // returned corrupt rankings

  test("bm25 family ranks a string-id corpus instead of NULLing every doc id") {
    import graft.operators.Retrieval
    val spark2 = spark
    import spark2.implicits._
    val texts = Seq(
      "spark shuffles data across executors",
      "spark spark spark tuning guide",
      "ducks like water",
      "water water everywhere")
    val strDocs = texts.zipWithIndex.map { case (t, i) => (s"doc-$i", t) }
      .toDF("doc_id", "text")
    val longDocs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val strQs = Seq(("q1", "spark water")).toDF("qid", "qtext")
    val gotStr = Retrieval.bm25TopK(strDocs, "doc_id", "text", strQs, "qid", "qtext", k = 4)
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("doc_id"), r.getAs[Long]("score_micro")))
    val gotLong = Retrieval.bm25TopK(longDocs, "doc_id", "text", strQs, "qid", "qtext", k = 4)
      .orderBy("rank").collect()
      .map(r => (s"doc-${r.getAs[Long]("doc_id")}", r.getAs[Long]("score_micro")))
    assert(gotStr.nonEmpty && gotStr.forall(_._1 != null), gotStr.mkString(","))
    assert(gotStr.toSeq == gotLong.toSeq,
      s"string-id ranking must equal the integral-id ranking: " +
        s"${gotStr.mkString(",")} vs ${gotLong.mkString(",")}")
    // the PRF-expansion round trips doc ids back through the postings join
    val exp = Retrieval.bm25ExpandedTopK(strDocs, "doc_id", "text", strQs, "qid", "qtext",
      k = 4, fbDocs = 2, fbTerms = 2)
    assert(exp.collect().forall(_.getAs[String]("doc_id") != null))
  }

  test("bm25TopK preserves a non-long integral doc-id type") {
    import graft.operators.Retrieval
    import org.apache.spark.sql.types.IntegerType
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1, "a b"), (2, "a c")).toDF("doc_id", "text")
    val qs = Seq(("q1", "a")).toDF("qid", "qtext")
    val out = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "qid", "qtext", k = 2)
    assert(out.schema("doc_id").dataType == IntegerType)
    assert(out.count() == 2L)
  }

  // ---- ADVICE r13 medium: freqByGroup long-cast a string item column to
  // NULL row-by-row and filled the store with silently-empty sketches

  test("freqByGroup rejects non-integral items; freqStrByGroup tracks string domains") {
    import graft.operators.Sketches
    val spark2 = spark
    import spark2.implicits._
    val df = (Seq.fill(60)("common.com") ++ Seq("rare-a.com", "rare-b.com"))
      .zipWithIndex.map { case (d, i) => (i % 2, d) }.toDF("grp", "domain")
    val err = intercept[IllegalArgumentException] {
      Sketches.freqByGroup(df, "grp", "domain")
    }
    assert(err.getMessage.contains("freqStrByGroup"), err.getMessage)
    // the string twin: sketch, round-trip the binary, union, read items
    val sk = Sketches.freqStrByGroup(df, "grp", "domain", maxMapSize = 16)
    val items = Sketches.freqStrUnionItems(sk, maxMapSize = 16)
      .collect().map(r => (r.getAs[String]("item"),
        r.getAs[Long]("lb"), r.getAs[Long]("ub")))
    val common = items.filter(_._1 == "common.com")
    assert(common.length == 2, s"dominant domain tracked in both groups: ${items.mkString(",")}")
    assert(common.forall { case (_, lb, ub) => lb <= 30 && 30 <= ub },
      s"true count 30 within [lb, ub]: ${common.mkString(",")}")
    // and the integral path still rejects nothing it supports
    val ints = Seq((0, 7), (0, 7), (0, 9)).toDF("grp", "item")
    assert(Sketches.freqUnionItems(
      Sketches.freqByGroup(ints, "grp", "item", maxMapSize = 16), 16).count() == 2L)
  }

  // ---- ADVICE r13 low: outliersMad's equi-joins dropped NULL-group rows,
  // breaking the documented "returns every input row" contract

  test("outliersMad preserves NULL-group rows and flags within the NULL group") {
    import graft.operators.Checks
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq(
      (Some("a"), Some(1.0)), (Some("a"), Some(1.1)), (Some("a"), Some(0.9)),
      (Some("a"), Some(1.0)), (Some("a"), Some(50.0)),
      (None, Some(2.0)), (None, Some(2.1)), (None, Some(1.9)),
      (None, Some(2.0)), (None, Some(99.0)),
      (None, None))
    val df = rows.toDF("grp", "v")
    val got = Checks.outliersMad(df, "grp", "v", k = 3.0)
    assert(got.count() == rows.length.toLong,
      "every input row returned, NULL group included")
    val nullGrp = got.filter(col("grp").isNull).collect()
    assert(nullGrp.length == 6)
    assert(nullGrp.filter(_.getAs[Boolean]("is_outlier"))
      .map(_.getAs[Double]("v")).toSeq == Seq(99.0),
      "the NULL group's own Hampel flag fires on its outlier")
    assert(got.filter(col("v").isNull).collect()
      .forall(!_.getAs[Boolean]("is_outlier")), "NULL values are never outliers")
  }

  // ---- ADVICE r13 low: funnel's cap ran AFTER collect_list materialized
  // every matching event — now the bounded TopKAgg caps inside the buffer

  test("funnel cap bounds the aggregation itself and matches uncapped semantics under the cap") {
    import graft.operators.Events
    val spark2 = spark
    import spark2.implicits._
    val base = Seq(
      (1L, 1L, "2024-01-01 00:00:01", "view"),
      (2L, 1L, "2024-01-01 00:00:02", "click"),
      (3L, 2L, "2024-01-01 00:00:03", "view"))
    // a bot user floods step 1 with 5k events after its real first view
    val bot = (0 until 5000).map(i =>
      (100L + i, 3L, f"2024-01-01 01:${i / 60 % 60}%02d:${i % 60}%02d", "view"))
    val df = (base ++ bot).toDF("event_id", "user_id", "ts", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    val capped = Events.funnel(df, "user_id", "ts", "event_type",
        Seq("view", "click"), maxStepEventsPerUser = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == Map(1L -> 2L, 2L -> 1L, 3L -> 1L), s"$capped")
    // under the cap, capped output is bit-identical to the uncapped run
    val small = base.toDF("event_id", "user_id", "ts", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    val a = Events.funnel(small, "user_id", "ts", "event_type", Seq("view", "click"),
      maxStepEventsPerUser = 1000).orderBy("user_id").collect().toSeq
    val b = Events.funnel(small, "user_id", "ts", "event_type", Seq("view", "click"),
      maxStepEventsPerUser = 2).orderBy("user_id").collect().toSeq
    assert(a == b)
  }

  // ---- ADVICE r13 low: kllUnionQuantiles rounded names collided nearby
  // ranks (0.975 and 0.98 both q98) into an ambiguous-column frame

  test("kllUnionQuantiles names nearby ranks distinctly and rejects duplicates") {
    import graft.operators.Sketches
    val spark2 = spark
    import spark2.implicits._
    val df = (1 to 1000).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val sk = Sketches.kllByGroup(df, "grp", "v")
    val out = Sketches.kllUnionQuantiles(sk, Seq(0.005, 0.01, 0.5, 0.975, 0.98))
    assert(out.columns.toSeq ==
      Seq("group", "q0_5", "q1", "q50", "q97_5", "q98", "n_rows"), out.columns.mkString(","))
    val r = out.collect().head
    assert(r.getAs[Double]("q97_5") <= r.getAs[Double]("q98"),
      "distinct columns carry their own rank estimates")
    val err = intercept[IllegalArgumentException] {
      Sketches.kllUnionQuantiles(sk, Seq(0.5, 0.5))
    }
    assert(err.getMessage.contains("distinct"))
  }

  // ---- ADVICE r14 low: ThetaSketchAgg.thetaSketch applied no cast on the
  // integral path, so a direct call on an Int/Short/Byte column threw
  // ClassCastException at execution (only Sketches.thetaByGroup pre-cast)

  test("thetaSketch helper accepts Int/Short columns and matches the Long path") {
    import graft.expressions.ThetaSketchAgg.{thetaEstimate, thetaSketch}
    val spark2 = spark
    import spark2.implicits._
    val intDf = (1 to 500).map(i => ("g", i % 100)).toDF("grp", "item")
    val longDf = (1 to 500).map(i => ("g", (i % 100).toLong)).toDF("grp", "item")
    def est(df: org.apache.spark.sql.DataFrame): Double = df
      .groupBy("grp")
      .agg(thetaEstimate(thetaSketch(col("item"), lgK = 12, stringItems = false))
        .as("est"))
      .collect().head.getAs[Double]("est")
    val fromInt = est(intDf) // threw ClassCastException before the fix
    assert(fromInt == est(longDf),
      "Int items must hash identically to their Long widening")
    assert(math.abs(fromInt - 100.0) < 1.0)
  }

  // ---- ADVICE r14 low: the z-order bucket multiply (x−min)·2^bits wrapped
  // silently for spans wider than 2^(63−bits), corrupting z-values without
  // error — buckets are documented as exactly re-derivable, so fail loudly

  test("zorder fails loudly when a column span would overflow the bucket multiply") {
    import graft.operators.Layout
    val spark2 = spark
    import spark2.implicits._
    val wild = Seq((Long.MinValue, 1L), (Long.MaxValue, 2L)).toDF("x", "y")
    val err = intercept[Exception] {
      Layout.withZValue(wild, Seq("x", "y"), bitsPerCol = 8).collect()
    }
    assert(err.getMessage != null && err.getMessage.contains("span"),
      s"expected the loud span guard, got: ${err.getMessage}")
    // sane spans are untouched: bucket 0 for min, top bucket for max
    val ok = Seq((0L, 0L), (255L, 255L)).toDF("x", "y")
    assert(Layout.withZValue(ok, Seq("x", "y"), bitsPerCol = 8).count() == 2L)
  }

  // ---- ADVICE r14 low: leakageSafeSplitIncremental took min(matched
  // corpus id) BEFORE joining corpusSplits — a component whose minimum
  // matched id had no frozen split silently fell back to the hash split
  // even when other matched ids did have one (a quiet leakage path when
  // crossPairs and corpusSplits drift)

  test("incremental leakage split inherits from the smallest matched id WITH a frozen split") {
    import graft.operators.Corpus
    val spark2 = spark
    import spark2.implicits._
    val batch = Seq((101L, "a"), (102L, "b")).toDF("doc_id", "text")
    val batchPairs = Seq((101L, 102L)).toDF("id_a", "id_b") // one component
    // component matches corpus ids 5 (NOT in splits — drifted) and 9 (frozen)
    val crossPairs = Seq((101L, 5L), (102L, 9L)).toDF("b_id", "c_id")
    val corpusSplits = Seq((9L, "val")).toDF("doc_id", "split")
    val out = Corpus.leakageSafeSplitIncremental(
        batch, "doc_id", batchPairs, "id_a", "id_b",
        corpusSplits, "doc_id", "split", crossPairs, "b_id", "c_id",
        salt = "s")
      .select("doc_id", "inherited_from", "split").collect()
      .map(r => (r.getLong(0), r.get(1), r.getString(2))).toSet
    // before the fix: min matched id 5 missed the inner join and BOTH rows
    // hash-fell-back; now the component inherits from 9, the smallest
    // matched id that actually carries a frozen split
    assert(out == Set((101L, 9L, "val"), (102L, 9L, "val")), out.toString)
  }

  // ---- ADVICE r15 medium: abTest elected the control via orderBy(asc)
  // .limit(1); Spark ascending sorts NULLs FIRST, so a single NULL variant
  // label became the control and `variant =!= control` evaluated NULL for
  // every row — a silently EMPTY report

  test("abTest excludes NULL variant labels instead of electing NULL as control") {
    import graft.operators.Events
    val spark2 = spark
    import spark2.implicits._
    val units = Seq(
      (1L, Option("control"), 1L), (2L, Option("control"), 0L),
      (3L, Option("treat_a"), 1L), (4L, Option("treat_a"), 1L),
      (5L, Option.empty[String], 1L) // the unlabeled unit that used to win
    ).toDF("user_id", "variant", "converted")
    val out = Events.abTest(units, "variant", "converted").collect()
    assert(out.length == 1, s"expected one treat row, got ${out.length}")
    val r = out.head
    assert(r.getAs[String]("control") == "control")
    assert(r.getAs[String]("variant") == "treat_a")
    assert(r.getAs[Long]("n_ctrl") == 2L && r.getAs[Long]("n_var") == 2L,
      "NULL-variant units must not count toward any arm")
  }

  // ---- ADVICE r15 low: driftKs derived bucket edges with EXACT
  // percentile() — one aggregation state buffering the whole reference
  // column, the straggler hazard its two-level prefix sum exists to avoid.
  // Output is invariant to edge placement, so approx edges change nothing.

  test("driftKs buckets through approx_percentile, never the exact buffer-all aggregate") {
    import graft.operators.Checks
    val spark2 = spark
    import spark2.implicits._
    val ref = (1 to 400).map(_.toDouble).toDF("v")
    val cur = (1 to 400).map(i => i.toDouble + (if (i % 2 == 0) 40.0 else 0.0)).toDF("v")
    // r18: driftKs pins its domain/gap tables eagerly (localCheckpoint), so
    // the edge aggregate no longer appears in the RETURNED frame's plan —
    // capture every plan executed during construction + collect instead
    // (the listener sees the eager checkpoint jobs) and assert the pin on
    // the union of them.
    val plans = new scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.analyzed.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark2.listenerManager.register(listener)
    try {
      val out = Checks.driftKs(ref, cur, "v", buckets = 8)
      val row = out.collect().head
      assert(row.getAs[Long]("n_ref") == 400L && row.getAs[Long]("ks_micro") > 0L)
      org.apache.spark.sql.graftbridge.drainListenerBus(spark2)
      val all = plans.synchronized { plans.mkString("\n---\n") }
      assert(all.contains("approx_percentile"), "edges must come from the GK sketch")
      assert(!all.matches("(?s).*(?<!approx_)percentile\\(.*"),
        "no exact percentile aggregation state")
    } finally spark2.listenerManager.unregister(listener)
  }

  // ---- ADVICE r15 low: zipfFit's documented long-overflow bound
  // (topN <= ~200 at counts to 1e12) was not enforced — topN=1000 on a
  // large corpus silently yielded a wrong slope

  test("zipfFit enforces the long-exact topN bound as a hard contract") {
    import graft.operators.Corpus
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq("a a a b b c").toDF("text")
    val err = intercept[IllegalArgumentException] {
      Corpus.zipfFit(docs, "text", topN = 1000)
    }
    assert(err.getMessage.contains("200"), err.getMessage)
    assert(Corpus.zipfFit(docs, "text", topN = 3).count() == 1L)
  }

  // ---- ADVICE r15 low: scoreChi2Against with an EMPTY current side
  // (possible for a chi2MonitorStream micro-batch) gave eCur = 0 and a
  // 0/0 = NaN Pearson term; round(NaN).cast(long) silently yielded 0
  // under default casting and THROWS under ANSI mode

  test("scoreChi2Against survives an empty micro-batch under ANSI mode") {
    import graft.operators.Checks
    // an ISOLATED session (own SQLConf, shared context): flipping ANSI on
    // the shared test session races concurrently-running suites — the
    // first version of this test did exactly that and broke three
    // StreamingSpec batch legs mid-flight
    val ansiSpark = spark.newSession()
    ansiSpark.conf.set("spark.sql.ansi.enabled", "true")
    import ansiSpark.implicits._
    val ref = Seq("web", "web", "web", "books", "books").toDF("source")
    val baseline = Checks.chi2Baseline(ref, "source", maxCategories = 3)
    val empty = Seq.empty[String].toDF("source")
    val rows = Checks.scoreChi2Against(empty, baseline, "source").collect()
    assert(rows.nonEmpty)
    // every zero-expected cell contributes an explicit 0 term — the ref
    // side carries all the mass, so each term is (ref−ref)²/eRef = 0 too
    assert(rows.forall(!_.isNullAt(rows.head.fieldIndex("chi2_term_micro"))))
  }

  // ---- ADVICE r16 medium: the ops bench gate's spread discount was
  // unbounded, so a real regression that ALSO raises variance (a new
  // shuffle, skew) never tripped — the discount is now capped at 25% of
  // the median

  test("ops bench gate: spread discount capped — noisy real regression trips") {
    // contended-but-healthy run: median 2.2x anchor with a big spread
    // still self-discounts under the 25% cap (2.2 - 0.55 = 1.65 < 2)
    assert(!Bench.opsGateTrips(median = 2.2, spread = 5.0, anchor = 1.0))
    // tight real regression: median 2.5x anchor, small spread → trips
    assert(Bench.opsGateTrips(median = 2.5, spread = 0.1, anchor = 1.0))
    // the ADVICE scenario: median 3x anchor with spread 2x anchor — the
    // old unbounded discount gave 3 - 2 = 1 < 2 (hidden forever); the
    // cap gives 3 - 0.75 = 2.25 > 2 → trips
    assert(Bench.opsGateTrips(median = 3.0, spread = 2.0, anchor = 1.0))
    // and ANY median past 8/3 x anchor trips regardless of spread
    assert(Bench.opsGateTrips(median = 2.7, spread = 100.0, anchor = 1.0))
  }

  // ---- ADVICE r16 low: benfordCheck read the first digit from a
  // DECIMAL(18,2) rendering — |v| >= 1e16 overflowed, silently dropping
  // rows under default casting and THROWING under ANSI mode

  test("benfordCheck counts magnitudes >= 1e16 and survives ANSI mode") {
    import graft.operators.Checks
    val ansiSpark = spark.newSession()
    ansiSpark.conf.set("spark.sql.ansi.enabled", "true")
    import ansiSpark.implicits._
    // 1e17 overflowed DECIMAL(18,2); DECIMAL(38,2) holds it exactly
    val df = Seq(1.0e17, 2.5e16, 123.45, 7.0).toDF("v")
    val rows = Checks.benfordCheck(df, "v").collect()
    val byDigit = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byDigit(1) == 2L && byDigit(2) == 1L && byDigit(7) == 1L, byDigit.toString)
    assert(rows.map(_.getLong(1)).sum == 4L, "no row silently dropped")
  }

  // ---- r17 verdict #4: the streaming bench rows were ungateable under
  // machine load — same-day ann_topk medians spanned 49–197 q/s on
  // byte-identical code, so the fixed -40% band gated noise. The gate now
  // scales the measured throughput by a single-thread CPU canary's load
  // factor (capped, floored) before the band applies: contention slows
  // the canary, code regressions do not.

  test("stream bench gate: canary load factor discounts contention, capped — real collapse still trips") {
    import graft.Bench
    val anchor = Bench.AnnSteadyAnchor
    val quiet = Bench.CanaryAnchorSec
    // quiet machine: the plain -40% band, both sides of the boundary
    assert(!Bench.streamGateTrips(anchor, anchor, quiet))
    assert(Bench.streamGateTrips(0.59 * anchor, anchor, quiet))
    assert(!Bench.streamGateTrips(0.61 * anchor, anchor, quiet))
    // the r17 scenario: the driver's post-audit run measured ~1/4 the
    // quiet q/s on identical code — with the canary showing 2.5x load the
    // scaled row (0.3 * 2.5 = 0.75x anchor) must NOT trip
    assert(!Bench.streamGateTrips(0.3 * anchor, anchor, 2.5 * quiet))
    // the factor floors at 1: a faster-than-anchor canary buys no bonus
    assert(Bench.streamGateTrips(0.59 * anchor, anchor, 0.5 * quiet))
    // and caps at MaxLoadFactor: a collapse to 10% of anchor trips even
    // when the canary claims 8x load (0.10 * 4 = 0.4x < 0.6x)
    assert(Bench.streamGateTrips(0.10 * anchor, anchor, 8 * quiet))
    // a code regression does not slow the canary: quiet canary + halved
    // throughput still trips
    assert(Bench.streamGateTrips(0.5 * anchor, anchor, quiet))
  }

  // ---- ADVICE r17 medium: the monitor stores' version lookup returned the
  // HIGHEST version — on a retry of failed batch N that is the possibly
  // partially-written v<N> itself, so the merge silently and permanently
  // dropped rows lost in the partial write. The lookup now takes the batch
  // id, binds strictly below it, and gates on the parquet committer's
  // _SUCCESS marker.

  test("monitor store lookup: strict-below-batch bound + _SUCCESS gate (replay safety)") {
    import graft.streaming.Streams
    val dir = Files.createTempDirectory("advice_store_lookup").toFile
    def mkVersion(id: Long, committed: Boolean): Unit = {
      val d = new java.io.File(dir, s"v$id"); d.mkdirs()
      if (committed) new java.io.File(d, "_SUCCESS").createNewFile()
    }
    mkVersion(0, committed = true)
    mkVersion(1, committed = false) // the partial write of a failed batch 1
    // the ADVICE scenario: a RETRY of batch 1 must not merge its own partial v1
    assert(Streams.latestStoreVersion(spark, dir.getPath, beforeBatchId = 1L)
      .exists(_.endsWith("v0")), "retry of batch 1 must see v0, not its own partial v1")
    // a later batch must skip the uncommitted v1 too (commit never finished)
    assert(Streams.latestStoreVersion(spark, dir.getPath, beforeBatchId = 2L)
      .exists(_.endsWith("v0")), "batch 2 must skip the uncommitted v1")
    // once v1 actually commits, batch 2 merges against it
    new java.io.File(new java.io.File(dir, "v1"), "_SUCCESS").createNewFile()
    assert(Streams.latestStoreVersion(spark, dir.getPath, beforeBatchId = 2L)
      .exists(_.endsWith("v1")))
    // batch 0 on a fresh (or checkpoint-less restarted) store sees nothing —
    // it can never merge a FUTURE version left by a pre-restart run
    assert(Streams.latestStoreVersion(spark, dir.getPath, beforeBatchId = 0L).isEmpty)
    // a store dir that does not exist yet is an empty store, not an error
    assert(Streams.latestStoreVersion(spark,
      new java.io.File(dir, "nope").getPath, beforeBatchId = 5L).isEmpty)
  }

  // ---- ADVICE r17 low: the monitor stores grew one full copy per
  // micro-batch forever. pruneStoreVersions keeps the top-K COMMITTED
  // versions; partial dirs above the kept floor survive (a retried batch
  // overwrites them), dead dirs below it go.

  test("monitor store pruning keeps top-K committed; partials above the floor survive") {
    import graft.streaming.Streams
    val dir = Files.createTempDirectory("advice_store_prune").toFile
    def mkVersion(id: Long, committed: Boolean): Unit = {
      val d = new java.io.File(dir, s"v$id"); d.mkdirs()
      if (committed) new java.io.File(d, "_SUCCESS").createNewFile()
    }
    (0L to 4L).foreach(mkVersion(_, committed = true))
    mkVersion(5, committed = false) // in-flight / crashed batch 5
    Streams.pruneStoreVersions(spark, dir.getPath, keep = 2)
    val left = dir.listFiles().map(_.getName).toSet
    // keep=2 highest committed → v3, v4; v5 (partial, above the floor) must
    // survive so a retried batch 5 can overwrite it; v0..v2 are dead — no
    // lookup can ever select below the kept committed floor
    assert(left == Set("v3", "v4", "v5"), left.toString)
    // idempotent: pruning again changes nothing
    Streams.pruneStoreVersions(spark, dir.getPath, keep = 2)
    assert(dir.listFiles().map(_.getName).toSet == Set("v3", "v4", "v5"))
  }

  // ---- ADVICE r17 low: perturbationSets silently truncated when the
  // requested probe count exceeded the 2^min(nbits,16)−1 available
  // perturbation subsets, while n_probes still reported the requested t —
  // the recall dial on the rows lied about what ran. Clamped + reported.

  test("multi-probe clamps n_probes to the schedule capacity 2^nbits") {
    import graft.operators.Dedup
    val spark2 = spark
    import spark2.implicits._
    assert(Dedup.maxProbes(2) == 4 && Dedup.maxProbes(3) == 8)
    assert(Dedup.maxProbes(40) == (1 << 16), "capacity saturates at 16 margin ranks")
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)), (2L, Seq(1.0f, 0.01f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)), (4L, Seq(0.0f, 0.99f, 0.1f, 0.0f)),
      (5L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("id", "vec")
    // nbits=2 has only 4 distinct probes (base + 3 subsets); requesting 8
    // must RUN 4 and REPORT 4
    val out = Dedup.embeddingNearDupMultiProbe(
      vecs, "id", "vec", dim = 4, threshold = 0.9, nbits = 2, probes = 8)
    val rows = out.collect()
    assert(rows.nonEmpty, "near-identical pairs must surface at full probing")
    assert(rows.forall(_.getAs[Int]("n_probes") == 4),
      s"n_probes must report the clamped value: ${rows.mkString(",")}")
    // the auto path clamps too: an aggressive recall target cannot request
    // more probes than exist at small nbits
    val auto = Dedup.embeddingNearDupMultiProbe(
      vecs, "id", "vec", dim = 4, threshold = 0.9, nbits = 2,
      targetRecall = 0.999)
    assert(auto.collect().forall(_.getAs[Int]("n_probes") <= 4))
  }

  // ---- ADVICE r17 low: text_html_extract's Spark side null-propagated a
  // NULL text through concat (NULL html → 0 blocks) while the oracle
  // COALESCEd each word-slice to '' and still rendered the nav/p/footer
  // markup (4 blocks) — a latent engine/oracle divergence green only
  // because the fixtures carry no NULL text. Both sides now coalesce.

  test("text_html_extract renders the boilerplate shell for NULL text (4 blocks)") {
    val spark2 = spark
    import spark2.implicits._
    val dir = Files.createTempDirectory("advice_html_null").toString
    Seq((1L, null: String), (2L, "plain words " * 10))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("text_html_extract")(spark, dir).collect()
    assert(out.length == 2, "the NULL-text doc must not vanish")
    val byId = out.map(r => r.getAs[Long]("id") -> r).toMap
    // NULL text still renders nav + two empty <p> + footer = 4 blocks,
    // none kept (empty paragraphs fail minChars; nav/footer are link-dense)
    assert(byId(1L).getAs[Long]("n_blocks_total") == 4L, byId(1L).toString)
    assert(byId(1L).getAs[Long]("n_blocks_kept") == 0L)
    assert(byId(2L).getAs[Long]("n_blocks_total") == 4L)
    assert(byId(2L).getAs[Long]("n_blocks_kept") >= 1L, "real text survives")
  }
}
