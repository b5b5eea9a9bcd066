package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MultimodalOps

/** Multimodal plumbing: schemas, batch shapes, and the REAL header codec
  * (magic-byte detection + PNG/JPEG/GIF dimension parsing) — verified
  * against genuine encoder output from the JDK's own ImageIO writers. */
class MultimodalOpsSpec extends AnyFunSuite with SparkSuite {

  override def beforeAll(): Unit = {
    System.setProperty("java.awt.headless", "true")
    super.beforeAll()
  }

  private def payloads = {
    val s = spark
    import s.implicits._
    Seq((1L, "image-bytes-one"), (2L, "image-bytes-two"), (3L, "x"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
  }

  /** Encode a real image with the JDK's ImageIO and return its bytes. */
  private def realImage(fmt: String, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0x336699) // non-trivial pixel so encoders emit data
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, out), s"no ImageIO writer for $fmt")
    out.toByteArray
  }

  test("decodeMeta recovers dimensions from genuine ImageIO-encoded bytes") {
    for ((fmt, w, h) <- Seq(("png", 320, 17), ("jpg", 640, 480), ("gif", 13, 257))) {
      val bytes = realImage(fmt, w, h)
      val (dw, dh, dfmt) = MultimodalOps.decodeMeta(bytes)
      val want = if (fmt == "jpg") "jpeg" else fmt
      assert(dfmt === want, s"format for $fmt")
      assert(dw === w, s"width for $fmt")
      assert(dh === h, s"height for $fmt")
    }
  }

  test("decodeMeta parses the synthesized genuine headers (all three formats)") {
    assert(MultimodalOps.decodeMeta(MultimodalOps.pngHeader(1919, 1079)) === ((1919, 1079, "png")))
    assert(MultimodalOps.decodeMeta(MultimodalOps.jpegHeader(800, 600)) === ((800, 600, "jpeg")))
    assert(MultimodalOps.decodeMeta(MultimodalOps.gifHeader(64, 65535)) === ((64, 65535, "gif")))
    // trailing body bytes after the header must not confuse the parser
    val withBody = MultimodalOps.jpegHeader(320, 240) ++ "payload-body".getBytes("UTF-8")
    assert(MultimodalOps.decodeMeta(withBody) === ((320, 240, "jpeg")))
  }

  test("detectFormat: magic bytes, and unknown/truncated payloads degrade safely") {
    assert(MultimodalOps.detectFormat("not an image".getBytes("UTF-8")) === "unknown")
    assert(MultimodalOps.decodeMeta(Array[Byte]()) === ((-1, -1, "unknown")))
    // detected container but truncated header → (-1, -1, fmt), no throw
    assert(MultimodalOps.decodeMeta(MultimodalOps.pngHeader(10, 10).take(14)) === ((-1, -1, "png")))
    assert(MultimodalOps.decodeMeta(MultimodalOps.jpegHeader(10, 10).take(3)) === ((-1, -1, "jpeg")))
    assert(MultimodalOps.decodeMeta(MultimodalOps.gifHeader(10, 10).take(8)) === ((-1, -1, "gif")))
  }

  test("decodeWav recovers format fields from genuine javax.sound WAV bytes") {
    // a real encoder, not our own synthesis: JDK javax.sound writes the WAV
    for ((rate, ch) <- Seq((8000, 1), (44100, 2), (48000, 1))) {
      val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, ch, true, false)
      val frames = 250
      val raw = new Array[Byte](frames * fmt.getFrameSize)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, frames.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      val (dRate, dCh, dBits, dBytes) = MultimodalOps.decodeWav(out.toByteArray)
      assert((dRate, dCh, dBits) === ((rate, ch, 16)))
      assert(dBytes === frames.toLong * fmt.getFrameSize)
    }
    // malformed: truncated header and non-RIFF bytes degrade to -1s
    assert(MultimodalOps.decodeWav("RIFFxxxx".getBytes("US-ASCII")) === ((-1, -1, -1, -1L)))
    assert(MultimodalOps.decodeWav(MultimodalOps.wavHeader(8000, 1, 16, 100).take(20)) ===
      ((-1, -1, -1, -1L)))
  }

  test("extractAudioMeta over synthAudioFixture round-trips audioFixtureParams") {
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "alpha"), (1L, "bé"), (2L, ""), (3L, "gamma-long-body"))
      .toDF("doc_id", "text")
    val meta = MultimodalOps.extractAudioMeta(MultimodalOps.synthAudioFixture(docs))
    assert(meta.schema === MultimodalOps.audioMetaSchema)
    val rows = meta.collect().map(r => r.getLong(0) ->
      ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5)))).toMap
    for ((id, text) <- Seq(0L -> "alpha", 1L -> "bé", 2L -> "", 3L -> "gamma-long-body")) {
      val (rate, ch) = MultimodalOps.audioFixtureParams(id)
      val n = text.getBytes("UTF-8").length
      assert(rows(id) === ((44 + n, rate, ch, 16, n.toLong * 1000 / (rate.toLong * ch * 2))))
    }
  }

  test("extractAudioMeta degrades sub-byte sample widths (ADPCM) to -1, no crash") {
    val s = spark
    import s.implicits._
    // structurally valid WAV whose fmt declares 4-bit samples (IMA ADPCM
    // shape): rate/ch/bits all pass the >0 guards, but bytes-per-sample is
    // 0 — duration must degrade to -1 like every other malformed path,
    // not die in integer division
    val adpcm = MultimodalOps.wavHeader(8000, 1, 4, 100) ++ new Array[Byte](100)
    assert(MultimodalOps.decodeWav(adpcm) === ((8000, 1, 4, 100L)))
    val df = Seq((7L, adpcm)).toDF("doc_id", "payload")
    val row = MultimodalOps.extractAudioMeta(df).head()
    assert(row.getLong(5) === -1L)
    assert((row.getInt(2), row.getInt(3), row.getInt(4)) === ((8000, 1, 4)))
  }

  test("decodeMp4 walks boxes to mvhd: v0, v1, preceding siblings, corruption") {
    import MultimodalOps.Mp4Meta
    // v0 synthesized container round-trips (no track → -1 frame fields)
    val v0 = MultimodalOps.mp4Header(90000, 123456L, 10) ++ Array.fill(10)(7.toByte)
    assert(MultimodalOps.decodeMp4(v0) === Mp4Meta("isom", 90000, 123456L, -1L, -1L))
    // a version-1 mvhd (64-bit times) hand-built: the parser must use the
    // v1 offsets — and find moov even after an interposed free box
    val bb = java.nio.ByteBuffer.allocate(20 + 8 + 8 + 48)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put(MultimodalOps.mp4Header(1, 1L, 0).take(20)) // reuse genuine ftyp
    bb.putInt(8).put("free".getBytes("US-ASCII"))      // sibling to skip
    bb.putInt(8 + 48).put("moov".getBytes("US-ASCII"))
    bb.putInt(48).put("mvhd".getBytes("US-ASCII"))
    bb.put(1.toByte).put(Array[Byte](0, 0, 0))          // version 1 + flags
    bb.putLong(0L).putLong(0L)                          // 64-bit times
    bb.putInt(48000)                                    // timescale
    bb.putLong(5000000000L)                             // 64-bit duration
    assert(MultimodalOps.decodeMp4(bb.array()) ===
      Mp4Meta("isom", 48000, 5000000000L, -1L, -1L))
    // corruption degrades, never loops: zero-size box, truncation, non-mp4
    assert(MultimodalOps.decodeMp4(v0.take(30)) === Mp4Meta("isom", -1, -1L, -1L, -1L))
    assert(MultimodalOps.decodeMp4("nope".getBytes("US-ASCII")) ===
      Mp4Meta("unknown", -1, -1L, -1L, -1L))
    val corrupt = v0.clone; corrupt(20) = 0; corrupt(21) = 0; corrupt(22) = 0; corrupt(23) = 0
    assert(MultimodalOps.decodeMp4(corrupt) === Mp4Meta("isom", -1, -1L, -1L, -1L))
  }

  test("decodeMp4 stts descent: real frame count/rate, corrupt-stbl guards") {
    import MultimodalOps.Mp4Meta
    // tracked container: frames and fps come from the genuine stts walk
    val t = MultimodalOps.mp4HeaderTracked(90000, 54000L, 12800, 48, 512, 4) ++
      Array.fill(4)(9.toByte)
    assert(MultimodalOps.decodeMp4(t) ===
      Mp4Meta("isom", 90000, 54000L, 48L, 12800L * 1000 / 512))
    // multi-entry table: counts sum, rate follows the weighted durations
    val multi = {
      val b = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.BIG_ENDIAN)
      b.putInt(10).putInt(1024) // 10 extra frames at double delta
      val base = MultimodalOps.mp4HeaderTracked(600, 1000L, 12800, 24, 512, 0)
      val out = base.clone
      // widen stts/stbl/minf/mdia/trak/moov sizes by 8 and bump entry_count
      def grow(off: Int): Unit = {
        val s = java.nio.ByteBuffer.wrap(out, off, 4).getInt
        java.nio.ByteBuffer.wrap(out, off, 4).putInt(s + 8); ()
      }
      // moov@20, trak@136, mdia@144, minf@184, stbl@192, stts@200
      Seq(20, 136, 144, 184, 192, 200).foreach(grow)
      java.nio.ByteBuffer.wrap(out, 212, 4).putInt(2) // entry_count 1→2
      // splice the second entry after the first (stts entries start @216),
      // i.e. before the mdat header at base.length-8
      out.take(224) ++ b.array() ++ out.drop(224)
    }
    val m = MultimodalOps.decodeMp4(multi)
    assert(m.nFrames === 34L)
    assert(m.fpsMilli === 34L * 12800 * 1000 / (24L * 512 + 10L * 1024))
    // corrupt stbl: declared entry table larger than the stts box
    val corrupt = MultimodalOps.mp4HeaderTracked(600, 1000L, 12800, 24, 512, 0)
    java.nio.ByteBuffer.wrap(corrupt, 212, 4).putInt(1000) // entry_count lie
    assert(MultimodalOps.decodeMp4(corrupt) === Mp4Meta("isom", 600, 1000L, -1L, -1L))
    // truncated mid-stts: frame fields degrade, mvhd fields survive
    val trunc = MultimodalOps.mp4HeaderTracked(600, 1000L, 12800, 24, 512, 0)
      .take(220)
    val mt = MultimodalOps.decodeMp4(trunc)
    assert((mt.nFrames, mt.fpsMilli) === ((-1L, -1L)))
  }

  test("extractVideoMeta over synthVideoFixture round-trips videoFixtureParams") {
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "alpha"), (1L, ""), (2L, "bé"), (3L, "longer-body-here"))
      .toDF("doc_id", "text")
    val meta = MultimodalOps.extractVideoMeta(MultimodalOps.synthVideoFixture(docs))
    assert(meta.schema === MultimodalOps.videoMetaSchema)
    val rows = meta.collect().map(r => r.getLong(0) ->
      ((r.getInt(1), r.getString(2), r.getInt(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7)))).toMap
    for ((id, text) <- Seq(0L -> "alpha", 1L -> "", 2L -> "bé", 3L -> "longer-body-here")) {
      val (ts, dur) = MultimodalOps.videoFixtureParams(id)
      val (nf, delta) = MultimodalOps.videoTrackParams(id)
      val n = text.getBytes("UTF-8").length
      assert(rows(id) === ((232 + n, "isom", ts, dur, dur * 1000L / ts,
        nf.toLong, MultimodalOps.videoMediaTimescale * 1000L / delta)))
    }
  }

  test("extractMediaMeta over synthMediaFixture round-trips fixtureParams") {
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma"), (3L, ""))
      .toDF("doc_id", "text")
    val meta = MultimodalOps.extractMediaMeta(MultimodalOps.synthMediaFixture(docs))
    assert(meta.schema === MultimodalOps.mediaMetaSchema)
    val rows = meta.collect().map(r => r.getLong(0) ->
      (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toMap
    for ((id, text) <- Seq(0L -> "alpha", 1L -> "beta", 2L -> "gamma", 3L -> "")) {
      val (fmt, w, h) = MultimodalOps.fixtureParams(id)
      val headerLen = if (fmt == "gif") 13 else 33
      assert(rows(id) === ((headerLen + text.getBytes("UTF-8").length, w, h, fmt)))
    }
  }

  test("imageHashes: PNG round-trip recovers the exact pixel function") {
    val s = spark
    import s.implicits._
    val docs = (0L until 12L).map(id => (id, s"doc$id")).toDF("doc_id", "text")
    val hashes = MultimodalOps.imageHashes(MultimodalOps.synthImageFixture(docs))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))).toMap
    // reference hashes straight from the pixel formula (no codec)
    for (id <- 0L until 12L) {
      def g(x: Int, y: Int) = MultimodalOps.imagePixel(id, x, y)
      var dh = 0L; var ah = 0L; var sum = 0L
      for (y <- 0 until 8; x <- 0 until 8) sum += g(x, y)
      for (y <- 0 until 8; x <- 0 until 8) {
        val k = y * 8 + x
        if (g(x + 1, y) > g(x, y)) dh |= 1L << k
        if (g(x, y) * 64L > sum) ah |= 1L << k
      }
      assert(hashes(id) === ((9, 8, dh, ah)), s"doc $id")
    }
  }

  test("imageHashes degrades undecodable / undersized payloads to nulls") {
    val s = spark
    import s.implicits._
    val tiny = { // genuine 2×2 PNG — decodable but below the 9×8 grid
      val img = new java.awt.image.BufferedImage(2, 2,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val df = Seq((1L, "not an image".getBytes("UTF-8")), (2L, tiny))
      .toDF("doc_id", "payload")
    val rows = MultimodalOps.imageHashes(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getInt(1) === -1 && rows(1L).isNullAt(3) && rows(1L).isNullAt(4))
    assert(rows(2L).getInt(1) === 2 && rows(2L).isNullAt(3) && rows(2L).isNullAt(4))
  }

  test("imageDupPairs finds within-group variants, no cartesian product") {
    val s = spark
    import s.implicits._
    // 8 groups of 4 variants: every within-group pair differs by at most
    // 4 dHash bits (two one-pixel perturbations, two comparisons each)
    val docs = (0L until 32L).map(id => (id, s"doc$id")).toDF("doc_id", "text")
    val hashes = MultimodalOps.imageHashes(MultimodalOps.synthImageFixture(docs))
    val pairs = MultimodalOps.imageDupPairs(hashes, maxDist = 6)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pigeonhole pairing must stay an equi-join:\n$plan")
    val got = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    for (gid <- 0L until 8L; a <- 0 until 4; b <- (a + 1) until 4) {
      val key = (gid * 4 + a, gid * 4 + b)
      assert(got.contains(key), s"missing within-group pair $key")
      assert(got(key) <= 4, s"variant distance too large for $key: ${got(key)}")
    }
    // exactness: every reported pair is genuinely within the threshold,
    // and pairing equals the naive all-pairs reference
    val hs = hashes.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val naive = (for {
      a <- hs.keys; b <- hs.keys if a < b
      d = java.lang.Long.bitCount(hs(a) ^ hs(b)) if d <= 6
    } yield (a, b) -> d).toMap
    assert(got === naive, "pigeonhole pairing must equal the all-pairs reference")
  }

  test("audioFingerprints: WAV PCM round-trip recovers the exact sample function") {
    val s = spark
    import s.implicits._
    val docs = (0L until 12L).map(id => (id, s"doc$id")).toDF("doc_id", "text")
    val fps = MultimodalOps.audioFingerprints(
      MultimodalOps.synthAudioFpFixture(docs))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val n = MultimodalOps.audioFpWin * MultimodalOps.audioFpWinLen
    // reference fingerprints straight from the sample formula (no codec)
    for (id <- 0L until 12L) {
      val e = Array.tabulate(MultimodalOps.audioFpWin) { w =>
        (w * MultimodalOps.audioFpWinLen until (w + 1) * MultimodalOps.audioFpWinLen)
          .map(i => MultimodalOps.audioFpSample(id, i).toLong).sum
      }
      var fp = 0L
      for (k <- 0 until 64) if (e(k + 1) > e(k)) fp |= 1L << k
      assert(fps(id) === ((n, fp)), s"doc $id")
    }
  }

  test("decodeWavSamples parses genuine 16-bit LE PCM, incl. negative samples") {
    val samples = Array(0, 1, -1, 32767, -32768, 767)
    val pcm = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(v => pcm.putShort(v.toShort))
    val wav = MultimodalOps.wavHeader(16000, 1, 16, samples.length * 2) ++ pcm.array()
    assert(MultimodalOps.decodeWavSamples(wav).toSeq === samples.toSeq)
  }

  test("decodeWavSamples rejects a lying near-Int.MaxValue data size (no giant alloc)") {
    // data chunk declares 2^31-5 bytes on a 50-byte file: the Int sum
    // dataOff + dataLen wraps negative — must degrade, not allocate
    val wav = MultimodalOps.wavHeader(8000, 1, 16, Int.MaxValue - 4) ++
      Array[Byte](1, 0, 2, 0)
    assert(MultimodalOps.decodeWavSamples(wav).isEmpty)
  }

  test("audioFingerprints degrades non-PCM-16 / undersized payloads to null fp") {
    val s = spark
    import s.implicits._
    // 8-bit WAV (not 16-bit PCM), a truncated data chunk, and a short
    // but valid 16-bit clip with fewer samples than windows
    val eightBit = MultimodalOps.wavHeader(8000, 1, 8, 4) ++ Array[Byte](1, 2, 3, 4)
    val truncated = MultimodalOps.wavHeader(8000, 1, 16, 1000) ++ Array[Byte](1, 2)
    val short16 = MultimodalOps.wavHeader(8000, 1, 16, 8) ++
      Array[Byte](1, 0, 2, 0, 3, 0, 4, 0)
    val df = Seq((1L, eightBit), (2L, truncated), (3L, short16))
      .toDF("doc_id", "payload")
    val rows = MultimodalOps.audioFingerprints(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getInt(1) === 0 && rows(1L).isNullAt(2))
    assert(rows(2L).getInt(1) === 0 && rows(2L).isNullAt(2))
    assert(rows(3L).getInt(1) === 4 && rows(3L).isNullAt(2))
  }

  test("audioDupPairs finds within-group variants, no cartesian product") {
    val s = spark
    import s.implicits._
    // 8 groups of 4 variants: each variant lifts ONE energy window, so a
    // within-group pair differs in at most 4 envelope bits
    val docs = (0L until 32L).map(id => (id, s"doc$id")).toDF("doc_id", "text")
    val fps = MultimodalOps.audioFingerprints(
      MultimodalOps.synthAudioFpFixture(docs))
    val pairs = MultimodalOps.audioDupPairs(fps, maxDist = 6)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pigeonhole pairing must stay an equi-join:\n$plan")
    val got = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    for (gid <- 0L until 8L; a <- 0 until 4; b <- (a + 1) until 4) {
      val key = (gid * 4 + a, gid * 4 + b)
      assert(got.contains(key), s"missing within-group pair $key")
      assert(got(key) <= 4, s"variant distance too large for $key: ${got(key)}")
    }
    val hs = fps.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val naive = (for {
      a <- hs.keys; b <- hs.keys if a < b
      d = java.lang.Long.bitCount(hs(a) ^ hs(b)) if d <= 6
    } yield (a, b) -> d).toMap
    assert(got === naive, "pigeonhole pairing must equal the all-pairs reference")
  }

  test("hammingPairs64 == naive all-pairs on 300 random clustered hashes") {
    val s = spark
    import s.implicits._
    // deterministic rng; 60 clusters of 5: variant v flips ≤4 random bits
    // of its base, so within-cluster distances land all over [0, 8] and
    // cross-cluster ones are ~32 — both sides of the threshold exercised
    val rng = new scala.util.Random(42)
    val hashes = (0 until 60).flatMap { g =>
      val base = rng.nextLong()
      (0 until 5).map { v =>
        var h = base
        (0 until v).foreach(_ => h ^= 1L << rng.nextInt(64))
        ((g * 5 + v).toLong, h)
      }
    }
    val df = hashes.toDF("doc_id", "fp")
    val got = MultimodalOps.audioDupPairs(df, maxDist = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val hs = hashes.toMap
    val naive = (for {
      a <- hs.keys; b <- hs.keys if a < b
      d = java.lang.Long.bitCount(hs(a) ^ hs(b)) if d <= 6
    } yield (a, b) -> d).toMap
    assert(got === naive)
    assert(naive.nonEmpty && naive.exists(_._2 > 0), "degenerate fixture")
  }

  test("audio fingerprint is invariant under amplitude scaling") {
    val s = spark
    import s.implicits._
    // same waveform at 1× and 3× gain → identical envelope comparisons
    val n = MultimodalOps.audioFpWin * MultimodalOps.audioFpWinLen
    def clip(gain: Int): Array[Byte] = {
      val pcm = java.nio.ByteBuffer.allocate(n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until n).foreach(i =>
        pcm.putShort((MultimodalOps.audioFpSample(40L, i) * gain).toShort))
      MultimodalOps.wavHeader(16000, 1, 16, n * 2) ++ pcm.array()
    }
    val df = Seq((1L, clip(1)), (2L, clip(3))).toDF("doc_id", "payload")
    val got = MultimodalOps.audioFingerprints(df).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(1L) === got(2L))
  }

  test("decoder fuzz: random and bit-mutated containers degrade, never throw") {
    val rng = new scala.util.Random(7)
    val n = MultimodalOps.audioFpWin * MultimodalOps.audioFpWinLen
    val valid: Seq[Array[Byte]] = Seq(
      MultimodalOps.pngHeader(64, 48),
      MultimodalOps.jpegHeader(64, 48),
      MultimodalOps.gifHeader(64, 48),
      MultimodalOps.wavHeader(16000, 1, 16, 8) ++ Array[Byte](1, 0, 2, 0, 3, 0, 4, 0),
      MultimodalOps.mp4HeaderTracked(1000, 5000L, 12800, 24, 512, 4) ++
        Array[Byte](9, 9, 9, 9))
    def decodeAll(p: Array[Byte]): Unit = {
      MultimodalOps.decodeMeta(p)
      MultimodalOps.decodeWav(p)
      MultimodalOps.decodeWavSamples(p)
      MultimodalOps.decodeMp4(p)
      ()
    }
    // pure noise at assorted sizes (incl. empty and sub-header)
    for (len <- Seq(0, 1, 3, 7, 8, 11, 12, 13, 43, 44, 45, 200, 4096); _ <- 1 to 20) {
      val p = new Array[Byte](len)
      rng.nextBytes(p)
      decodeAll(p)
    }
    // valid containers with 1-4 mutated bytes: magic survives often
    // enough that the inner walks get exercised with lying fields
    for (base <- valid; _ <- 1 to 200) {
      val p = base.clone()
      (0 until 1 + rng.nextInt(4)).foreach { _ =>
        p(rng.nextInt(p.length)) = rng.nextInt(256).toByte
      }
      decodeAll(p)
    }
    // truncations of every valid container at every length
    for (base <- valid; cut <- 0 until base.length) decodeAll(base.take(cut))
  }

  test("stubResize prepends the dimension header and stamps columns") {
    val out = MultimodalOps.stubResize(payloads, 224, 224)
    val r = out.filter(col("doc_id") === 1L).head()
    assert(r.getAs[Int]("width") === 224 && r.getAs[Int]("height") === 224)
    val bytes = r.getAs[Array[Byte]]("payload")
    val header = new String(bytes.take(8).map("%02x".format(_)).mkString.toCharArray)
    assert(bytes.length === 8 + "image-bytes-one".length)
    assert(new String(bytes.drop(8)) === "image-bytes-one")
  }

  test("stubFrameSample chunks payloads with stride") {
    val frames = MultimodalOps.stubFrameSample(payloads, frameBytes = 4, stride = 2)
    val f1 = frames.filter(col("doc_id") === 1L)
      .collect().map(r => r.getInt(1) -> new String(r.getAs[Array[Byte]](2)))
    // "image-bytes-one" = 15 bytes → chunks of 4 → indices 0..3, stride 2 → 0,2
    assert(f1.map(_._1).sorted.toSeq === Seq(0, 2))
    assert(f1.toMap.apply(0) === "imag")
    assert(f1.toMap.apply(2) === "tes-")
  }

  test("stubFeatures emits fixed-dim deterministic embeddings per payload") {
    val a = MultimodalOps.stubFeatures(payloads, dim = 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val b = MultimodalOps.stubFeatures(payloads, dim = 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(a.keySet === b.keySet)
    a.foreach { case (id, v) =>
      assert(v.length === 16)
      assert(v === b(id)) // deterministic
      assert(v.forall(x => x >= -1f && x <= 1f))
    }
    // distinct payloads → distinct features
    assert(a.values.toSeq.distinct.size === a.size)
  }

  test("imageThumbnails: resize samples (2x,2y) on the fixture, round-trip ok, corrupt degrades") {
    val s = spark; import s.implicits._
    val docs = Seq(7L, 8L).toDF("doc_id")
    val out = MultimodalOps.imageThumbnails(
        MultimodalOps.synthImageFixture(docs)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    out.values.foreach { r =>
      assert(r.getAs[Int]("roundtrip_ok") === 1)
      assert(r.getAs[Int]("in_w") === MultimodalOps.imageW)
      val px = r.getAs[String]("thumb_px").split(",").map(_.toInt)
      assert(px.length === MultimodalOps.thumbW * MultimodalOps.thumbH)
      val id = r.getAs[Long]("doc_id")
      // nearest-neighbor on the 9x8 fixture is exactly pixel (2x, 2y)
      for (y <- 0 until MultimodalOps.thumbH; x <- 0 until MultimodalOps.thumbW)
        assert(px(y * MultimodalOps.thumbW + x) ===
          MultimodalOps.imagePixel(id, 2 * x, 2 * y))
    }
    // corrupt payload degrades, never crashes
    val bad = MultimodalOps.imageThumbnails(
      Seq((99L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")).collect()
    assert(bad.head.getAs[Int]("in_w") === -1)
    assert(bad.head.getAs[Int]("roundtrip_ok") === 0)
    assert(bad.head.isNullAt(bad.head.fieldIndex("thumb_px")))
  }

  test("audioSamples: every 13th decoded sample matches the fixture closed form") {
    val s = spark; import s.implicits._
    val docs = Seq(5L, 6L).toDF("doc_id")
    val out = MultimodalOps.audioSamples(
        MultimodalOps.synthAudioFpFixture(docs)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val n = MultimodalOps.audioFpWin * MultimodalOps.audioFpWinLen
    out.foreach { case (id, r) =>
      assert(r.getAs[Int]("n_samples") === n)
      val vals = r.getAs[String]("sampled_px").split(",").map(_.toInt)
      assert(vals.length === (n + 12) / 13)
      vals.zipWithIndex.foreach { case (v, j) =>
        assert(v === MultimodalOps.audioFpSample(id, j * 13))
      }
    }
    // a non-PCM payload degrades to an empty sample set
    val bad = MultimodalOps.audioSamples(
      Seq((99L, "nope".getBytes("US-ASCII"))).toDF("doc_id", "payload")).collect()
    assert(bad.head.getAs[Int]("n_samples") === 0)
    assert(bad.head.isNullAt(bad.head.fieldIndex("sampled_px")))
  }

  test("frameFingerprints: PNG round trip reproduces the framePixel dHash") {
    val s = spark; import s.implicits._
    // the x62 pattern per sampled frame: the test predicts the dHash
    // straight from the pixel function (PNG is lossless and the fixture
    // is already 9x8, so encode->decode->sample is the identity)
    def expected(id: Long, q: Long): Long = {
      var dh = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (MultimodalOps.framePixel(id / 4, q, x + 1, y) >
            MultimodalOps.framePixel(id / 4, q, x, y))
          dh |= 1L << (y * 8 + x)
      dh
    }
    val sched = Seq((0L, 0L), (0L, 3L), (1L, 0L), (5L, 0L), (8L, 2L))
      .toDF("doc_id", "q")
    val got = MultimodalOps.frameFingerprints(sched).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size === 5)
    got.foreach { case ((id, q), fp) => assert(fp === expected(id, q)) }
    // content-at-instant: same group + tick agree, anything else differs
    assert(got((0L, 0L)) === got((1L, 0L)))
    assert(got((0L, 0L)) !== got((5L, 0L)))
    assert(got((0L, 0L)) !== got((0L, 3L)))
  }
}
