package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal

/** Multimodal plumbing tests: schema, typed mapPartitions feature extraction
  * (stubbed decode), and deterministic frame sampling. */
class MultimodalSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark

  private lazy val media = {
    import spark.implicits._
    val df = Seq(
      (1L, "some synthetic image payload bytes for doc one"),
      (2L, "another payload with different content entirely"),
      (3L, "short")
    ).toDF("doc_id", "text")
    Multimodal.attachBinary(df, "doc_id", "text", "image")
  }

  test("attachBinary produces binary content + typed metadata struct") {
    val schema = media.schema
    assert(schema("content").dataType.typeName == "binary")
    val metaType = schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(metaType.fieldNames.toSet ==
      Set("modality", "mime", "width", "height", "sampleRate", "nFrames"))
    assert(media.select("meta.modality").distinct().head().getString(0) == "image")
  }

  test("extractFeatures runs partition-local and returns normalized vectors") {
    val feats = Multimodal.extractFeatures(Multimodal.asMediaDataset(media)).collect()
    assert(feats.length == 3)
    assert(feats.forall(_.dim == Multimodal.MediaCodec.FeatureDim))
    // histogram is normalized: sums to 1 for non-empty payloads
    assert(feats.forall(f => math.abs(f.features.sum - 1.0) < 1e-9))
    // deterministic: second run bit-identical
    val again = Multimodal.extractFeatures(Multimodal.asMediaDataset(media)).collect()
    assert(feats.sortBy(_.id).zip(again.sortBy(_.id)).forall {
      case (a, b) => a.features.sameElements(b.features)
    })
  }

  test("WAV round-trip: JDK encode parses back through the from-scratch RIFF parser") {
    import spark.implicits._
    val wavs = Multimodal.encodeDemoWav(
      Seq(1L, 2L, 7L).toDF("doc_id"), "doc_id").collect().sortBy(_.id)
    assert(wavs.length == 3)
    wavs.foreach { w =>
      val (sr, samples) = Multimodal.MediaCodec.wavPcm16(w.wav).getOrElse(
        fail(s"JDK-encoded WAV for id ${w.id} did not parse"))
      assert(sr == 16000)
      assert(samples.length == Multimodal.DemoWavSamples)
      // every decoded sample matches the declared pure-arithmetic waveform
      samples.zipWithIndex.foreach { case (s, i) =>
        assert(s == ((((w.id * 37 + i * 13) % 65536 + 65536) % 65536) - 32768).toShort)
      }
    }
  }

  test("decodedAudioHistogram bins match the sample formula; decode dispatches to audio") {
    import spark.implicits._
    val media = Multimodal.encodeDemoWav(Seq(5L).toDF("doc_id"), "doc_id")
    val rows = Multimodal.decodedAudioHistogram(media).collect()
    assert(rows.length == Multimodal.MediaCodec.FeatureDim)
    assert(rows.forall(_.sampleRate == 16000))
    assert(rows.map(_.n).sum == Multimodal.DemoWavSamples)
    val expected = (0 until Multimodal.DemoWavSamples)
      .groupBy(i => ((5L * 37 + i * 13) % 65536).toInt / 4096)
      .view.mapValues(_.size.toLong).toMap
    rows.foreach(r => assert(r.n == expected.getOrElse(r.bin, 0L)))
    // the generic decode dispatch routes a WAV payload through the real
    // parser, not the byte-histogram stub
    val wav = media.collect().head.wav
    val viaDecode = Multimodal.MediaCodec.decode(wav)
    val viaAudio = Multimodal.MediaCodec.decodeAudio(wav).get
    assert(viaDecode.sameElements(viaAudio))
    assert(!viaDecode.sameElements(Multimodal.MediaCodec.decodeStub(wav)))
    // non-WAV bytes are rejected by the parser, not mis-parsed
    assert(Multimodal.MediaCodec.wavPcm16("definitely not a riff container".getBytes).isEmpty)
  }

  test("binaryFile ingestion round-trips real AVI files through the codec") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(TestSparkSession.freshDir("mm_avis"))
    // write three real AVI files, then ingest them back through Spark's
    // binaryFile source and decode — the full blob-store entry path
    val byId = Multimodal.encodeDemoAvi(Seq(1L, 2L, 3L).toDF("id"), "id")
      .collect().map(r => r.id -> r.avi).toMap
    byId.foreach { case (id, bytes) => Files.write(dir.resolve(s"$id.avi"), bytes) }
    val ingested = Multimodal.readBinaryFiles(spark, dir.toString, glob = "*.avi")
    assert(ingested.count() == 3)
    val decoded = ingested
      .select(regexp_extract(col("path"), "(\\d+)\\.avi$", 1).cast("long").as("id"), col("content"))
      .as[(Long, Array[Byte])]
      .collect().toMap
    byId.foreach { case (id, bytes) =>
      assert(java.util.Arrays.equals(decoded(id), bytes), s"payload for $id changed in flight")
      assert(Multimodal.MediaCodec.videoFrameHistograms(decoded(id)).nonEmpty)
    }
    // length pushdown reaches the file-listing relation
    val pruned = Multimodal.readBinaryFiles(spark, dir.toString, glob = "*.avi")
      .filter(col("length") > 0)
    assert(pruned.count() == 3)
  }

  test("sampleFrames keeps every stride-th frame with deterministic bytes") {
    def snapshot() = Multimodal.sampleFrames(media, stride = 2)
      .select(col("id"), col("frame_idx"), base64(col("frame_bytes")).as("b64"), col("frame_len"))
      .collect()
    val rows = snapshot()
    assert(rows.nonEmpty)
    // only even frame indexes survive stride=2
    assert(rows.forall(_.getAs[Int]("frame_idx") % 2 == 0))
    // frame bytes are non-empty slices of the payload
    assert(rows.forall(_.getAs[Long]("frame_len") > 0))
    val again = snapshot()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  // ------------------------------------------------------- perceptual hash

  /** Deterministic grayscale PNG from a pixel-value function. */
  private def grayPng(f: (Int, Int) => Int, n: Int = 64): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      n, n, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until n; x <- 0 until n) {
      val v = math.max(0, math.min(255, f(x, y)))
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** 8-px checkerboard (values 60/180) + deterministic per-pixel noise. */
  private def checker(noiseSeed: Int)(x: Int, y: Int): Int = {
    val base = if (((x / 8) + (y / 8)) % 2 == 0) 60 else 180
    val lcg = (x * 73856093 ^ y * 19349663 ^ noiseSeed * 83492791) & 0x7fffffff
    base + (lcg % 9) - 4 // ±4 high-frequency noise
  }

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Monotone crescendo: volume ramps linearly over the clip. */
  private def crescendo(i: Int): Int = {
    val tone = if ((i & 1) == 0) 1 else -1
    (500 + (7500 * i) / 2048) * tone
  }

  test("pHash: uniform brightness shift is bit-identical (DC-only); decode failure is None") {
    val h1 = Multimodal.MediaCodec.pHash64(grayPng(checker(1))).get
    val h2 = Multimodal.MediaCodec.pHash64(grayPng((x, y) => checker(1)(x, y) + 20)).get
    assert(h1 == h2, s"brightness must only move DC: ${hamming(h1, h2)} bits flipped")
    assert(Multimodal.MediaCodec.pHash64("not an image".getBytes).isEmpty)
  }

  test("pHash: same structure under fresh noise stays near; different structure lands far") {
    val base = Multimodal.MediaCodec.pHash64(grayPng(checker(1))).get
    val renoised = Multimodal.MediaCodec.pHash64(grayPng(checker(2))).get
    // same low-frequency structure, independent high-frequency noise
    assert(hamming(base, renoised) <= 8,
      s"re-noised checkerboard drifted ${hamming(base, renoised)} bits")
    // inverted checkerboard: every low-frequency coefficient flips sign
    val inverted = Multimodal.MediaCodec.pHash64(
      grayPng((x, y) => 240 - checker(1)(x, y))).get
    assert(hamming(base, inverted) >= 16,
      s"inverted structure too close: ${hamming(base, inverted)} bits")
    // smaller-than-32px source rides the pixel-replication branch
    assert(Multimodal.MediaCodec.pHash64(grayPng(checker(1), n = 16)).isDefined)
  }

  /** 16-bit mono WAV from a sample function (values must fit a short). */
  private def wavOf(f: Int => Int, n: Int = 2048): Array[Byte] = {
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val v = math.max(-32768, math.min(32767, f(i)))
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val header = Multimodal.wavHeader(n, 16000)
    val out = new Array[Byte](header.length + pcm.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(pcm, 0, out, header.length, pcm.length)
    out
  }

  /** Bursty envelope: one loud 128-sample block per `period` blocks — the
    * period IS the rhythm, so different periods have genuinely different
    * low-frequency energy envelopes. */
  private def rhythm(period: Int)(i: Int): Int = {
    val burst = (i / 128) % period == 0
    val tone = if ((i & 1) == 0) 1 else -1
    if (burst) 8000 * tone else 500 * tone
  }

  test("audioFingerprint64: volume scale is bit-identical; rhythm change lands far") {
    val h1 = Multimodal.MediaCodec.audioFingerprint64(wavOf(rhythm(3))).get
    // half volume: every frame energy, every AC coefficient, and their
    // mean scale together — no bit may flip
    val h2 = Multimodal.MediaCodec.audioFingerprint64(wavOf(i => rhythm(3)(i) / 2)).get
    assert(h1 == h2, s"volume must not flip bits: ${hamming(h1, h2)}")
    // a crescendo ramp has a structurally different energy envelope from
    // any periodic burst train — far in low-frequency DCT space
    val h3 = Multimodal.MediaCodec.audioFingerprint64(wavOf(crescendo)).get
    assert(hamming(h1, h3) >= 12, s"different envelope too close: ${hamming(h1, h3)}")
    // short clip rides the frame-replication branch; garbage is None
    assert(Multimodal.MediaCodec.audioFingerprint64(wavOf(rhythm(3), n = 32)).isDefined)
    assert(Multimodal.MediaCodec.audioFingerprint64("nope".getBytes).isEmpty)
  }

  test("audioFingerprints + near-dup join: retouched clip pairs, different rhythm doesn't") {
    import spark.implicits._
    def retouched(i: Int): Int =
      if (i >= 512 && i < 520) 0 else rhythm(3)(i) // 8 samples muted
    val media = Seq(
      Multimodal.IdWav(1L, wavOf(rhythm(3))),
      Multimodal.IdWav(2L, wavOf(retouched)),
      Multimodal.IdWav(3L, wavOf(crescendo)),
      Multimodal.IdWav(4L, "not audio".getBytes)).toDS()
    val fps = Multimodal.audioFingerprints(media)
    assert(fps.count() == 3)
    val pairs = Multimodal.imageNearDup(fps, "id", "afp", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("videoNearDup: shared-frame share metric, df-capped hashes drop, undecodable clips drop") {
    import spark.implicits._
    // clips 1/2 share all 3 frames; 3 shares one frame with 1 and 2 (below
    // the 50% floor at 1/3); 4 is garbage. The shared frame (seed 9) also
    // appears in EVERY clip — with maxFrameDf = 2 it is df-capped away, so
    // (1,3)/(2,3) lose their only evidence while (1,2) keeps 2 frames.
    // frame "structure" = vertical stripe width, so different widths give
    // genuinely different low-frequency content (pHash ignores brightness)
    def avi(widths: Int*): Array[Byte] = {
      val dibs = widths.map { sd =>
        val w = 16; val h = 16
        val dib = new Array[Byte](w * h * 3)
        for (i <- 0 until w * h) {
          val v = (if ((i % w) / sd % 2 == 0) 60 else 180).toByte
          dib(3 * i) = v; dib(3 * i + 1) = v; dib(3 * i + 2) = v
        }
        dib
      }
      Multimodal.aviContainer(dibs, 16, 16, fps = 10)
    }
    val media = Seq(
      Multimodal.IdAvi(1L, avi(3, 4, 9)),
      Multimodal.IdAvi(2L, avi(3, 4, 9)),
      Multimodal.IdAvi(3L, avi(5, 6, 9)),
      Multimodal.IdAvi(4L, "not a container".getBytes)).toDS()
    val frames = Multimodal.videoPHashes(media)
    assert(frames.select("id").distinct().count() == 3, "garbage clip drops")
    val pairs = Multimodal.videoNearDup(frames, "id", "fhash",
        minShareMicro = 500000L, maxFrameDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(pairs.keySet == Set((1L, 2L)), s"got $pairs")
    // 2 surviving shared hashes over min-size 3 distinct hashes → 666666
    assert(pairs((1L, 2L)) == 666666L, s"got $pairs")
  }

  test("imageNearDup: planted visual near-dups pair up; unrelated and undecodable don't") {
    import spark.implicits._
    // 1 and 2: identical structure, two pixels retouched (hamming ≤ 3 →
    // banding recall guaranteed); 3: inverted structure; 4: not an image
    def retouched(x: Int, y: Int): Int =
      if ((x, y) == ((3, 3)) || (x, y) == ((40, 17))) 128 else checker(1)(x, y)
    val media = Seq(
      Multimodal.IdPng(1L, grayPng(checker(1))),
      Multimodal.IdPng(2L, grayPng(retouched)),
      Multimodal.IdPng(3L, grayPng((x, y) => 240 - checker(1)(x, y))),
      Multimodal.IdPng(4L, "definitely not a png".getBytes)).toDS()
    val hashes = Multimodal.imagePHashes(media)
    assert(hashes.count() == 3, "undecodable payload must drop, not null out")
    val pairs = Multimodal.imageNearDup(hashes, "id", "phash", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }
}
