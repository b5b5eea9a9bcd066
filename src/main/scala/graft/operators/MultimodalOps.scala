package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads travel as opaque
  * `binary` columns with typed metadata; decode / feature-extraction runs
  * batched per partition.
  *
  * The metadata decode ([[decodeMeta]]) is a REAL pure-JVM header parser:
  * magic-byte format detection plus PNG (IHDR chunk), JPEG (SOF-marker
  * scan), and GIF (logical-screen descriptor) dimension extraction. The
  * downstream ML-model stages (feature extraction, frame decode) remain
  * clearly-labeled deterministic stand-ins — those models genuinely are
  * not in this container — but the codec itself parses genuine bytes.
  *
  * Scale: `mapPartitions` processes each partition's rows through one
  * reusable decoder instance (the expensive-setup pattern a JNI codec
  * needs); payload bytes never hit the driver; output is a narrow
  * projection so downstream pruning works.
  */
object MultimodalOps {

  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("format", StringType)))

  // ---- real header codec -------------------------------------------------

  private def be32(p: Array[Byte], i: Int): Long =
    ((p(i) & 0xffL) << 24) | ((p(i + 1) & 0xffL) << 16) |
      ((p(i + 2) & 0xffL) << 8) | (p(i + 3) & 0xffL)
  private def be16(p: Array[Byte], i: Int): Int =
    ((p(i) & 0xff) << 8) | (p(i + 1) & 0xff)
  private def le16(p: Array[Byte], i: Int): Int =
    (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8)

  /** Magic-byte container detection: PNG signature, JPEG SOI, GIF87a/89a. */
  def detectFormat(p: Array[Byte]): String =
    if (p.length >= 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' &&
      p(3) == 'G' && (p(4) & 0xff) == 0x0d && (p(5) & 0xff) == 0x0a &&
      (p(6) & 0xff) == 0x1a && (p(7) & 0xff) == 0x0a) "png"
    else if (p.length >= 3 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8 &&
      (p(2) & 0xff) == 0xff) "jpeg"
    else if (p.length >= 6 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' &&
      p(3) == '8' && (p(4) == '7' || p(4) == '9') && p(5) == 'a') "gif"
    else "unknown"

  /** Real metadata decode: (width, height, format); (-1, -1, fmt) when the
    * container is detected but the header is truncated/malformed.
    *   - PNG: width/height are the first 8 IHDR data bytes (big-endian),
    *     and IHDR is required to be the first chunk (offset 8).
    *   - JPEG: walk marker segments from SOI until a start-of-frame marker
    *     (0xC0–0xCF excluding DHT 0xC4, JPG 0xC8, DAC 0xCC); dimensions sit
    *     at fixed offsets in the SOF payload (lines then samples-per-line).
    *   - GIF: logical screen descriptor, little-endian u16 pair at offset 6.
    */
  def decodeMeta(p: Array[Byte]): (Int, Int, String) = detectFormat(p) match {
    case "png" =>
      if (p.length >= 24 && p(12) == 'I' && p(13) == 'H' && p(14) == 'D' && p(15) == 'R')
        (be32(p, 16).toInt, be32(p, 20).toInt, "png")
      else (-1, -1, "png")
    case "jpeg" =>
      var i = 2
      var out: (Int, Int, String) = (-1, -1, "jpeg")
      var done = false
      while (!done && i + 1 < p.length && (p(i) & 0xff) == 0xff) {
        val marker = p(i + 1) & 0xff
        if (marker == 0xff) i += 1 // fill byte
        else if (marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          if (i + 9 <= p.length) out = (be16(p, i + 7), be16(p, i + 5), "jpeg")
          done = true
        } else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd9)) i += 2
        else if (i + 3 < p.length) i += 2 + be16(p, i + 2)
        else done = true
      }
      out
    case "gif" =>
      if (p.length >= 10) (le16(p, 6), le16(p, 8), "gif") else (-1, -1, "gif")
    case other => (-1, -1, other)
  }

  // ---- genuine header synthesis (fixtures + tests) -----------------------

  /** Genuine PNG header: 8-byte signature + complete IHDR chunk (length,
    * type, 13 data bytes, real CRC-32 over type+data). 33 bytes. */
  def pngHeader(w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(33)
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    val data = new Array[Byte](17) // "IHDR" + 13 data bytes
    data(0) = 'I'; data(1) = 'H'; data(2) = 'D'; data(3) = 'R'
    data(4) = (w >>> 24).toByte; data(5) = (w >>> 16).toByte
    data(6) = (w >>> 8).toByte; data(7) = w.toByte
    data(8) = (h >>> 24).toByte; data(9) = (h >>> 16).toByte
    data(10) = (h >>> 8).toByte; data(11) = h.toByte
    data(12) = 8 // bit depth
    data(13) = 2 // color type: truecolor
    // compression=0, filter=0, interlace=0 already zeroed
    out.write(Array[Byte](0, 0, 0, 13)) // IHDR data length
    out.write(data)
    val crc = new java.util.zip.CRC32
    crc.update(data)
    val c = crc.getValue
    out.write(Array((c >>> 24).toByte, (c >>> 16).toByte, (c >>> 8).toByte, c.toByte))
    out.toByteArray
  }

  /** Genuine JPEG header: SOI + JFIF APP0 + baseline SOF0 (1 component).
    * 33 bytes; a SOF-scanning parser must skip APP0 by its length field. */
  def jpegHeader(w: Int, h: Int): Array[Byte] = {
    val app0 = Array[Int](0xff, 0xe0, 0x00, 0x10, 'J', 'F', 'I', 'F', 0x00,
      0x01, 0x02, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00)
    val sof0 = Array[Int](0xff, 0xc0, 0x00, 0x0b, 0x08,
      (h >>> 8) & 0xff, h & 0xff, (w >>> 8) & 0xff, w & 0xff,
      0x01, 0x01, 0x11, 0x00)
    (Array[Int](0xff, 0xd8) ++ app0 ++ sof0).map(_.toByte)
  }

  /** Genuine GIF89a header: signature + logical screen descriptor
    * (little-endian dims, no global color table). 13 bytes. */
  def gifHeader(w: Int, h: Int): Array[Byte] =
    (Array[Int]('G', 'I', 'F', '8', '9', 'a',
      w & 0xff, (w >>> 8) & 0xff, h & 0xff, (h >>> 8) & 0xff,
      0x00, 0x00, 0x00)).map(_.toByte)

  /** Deterministic fixture parameters from a doc id — mirrored by
    * [[mediaFixtureSql]]; keep in sync. Dims fit u16 (JPEG/GIF fields). */
  def fixtureParams(docId: Long): (String, Int, Int) = {
    val fmt = (docId % 3L) match { case 0L => "png"; case 1L => "jpeg"; case _ => "gif" }
    (fmt, (64L + (docId * 37L) % 1856L).toInt, (64L + (docId * 101L) % 1016L).toInt)
  }

  /** Build a media corpus with GENUINE headers from (doc_id, text): payload
    * = real PNG/JPEG/GIF header (dims derived from doc_id) ++ UTF-8 text
    * bytes standing in for the encoded body. The decode path then parses
    * actual container bytes while staying oracle-predictable. */
  def synthMediaFixture(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val rdd = docs.select(col("doc_id").cast("long"), col("text")).rdd
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val (fmt, w, h) = fixtureParams(id)
          val header = fmt match {
            case "png" => pngHeader(w, h)
            case "jpeg" => jpegHeader(w, h)
            case _ => gifHeader(w, h)
          }
          Row(id, header ++ r.getString(1).getBytes("UTF-8"))
        }
      }
    session.createDataFrame(rdd, schema)
  }

  /** DuckDB twin of extractMediaMeta∘synthMediaFixture over `documents`:
    * predicts what the real parser recovers from the synthesized headers
    * (header sizes: png/jpeg 33 bytes, gif 13). */
  def mediaFixtureSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text))
      |       + CASE doc_id % 3 WHEN 2 THEN 13 ELSE 33 END AS INT) AS n_bytes,
      |  CAST(64 + (doc_id * 37) % 1856 AS INT) AS width,
      |  CAST(64 + (doc_id * 101) % 1016 AS INT) AS height,
      |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format
      |FROM documents""".stripMargin

  // ---- audio (RIFF/WAVE) ---------------------------------------------------

  val audioMetaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("bits", IntegerType),
    StructField("duration_ms", LongType)))

  private def le32(p: Array[Byte], i: Int): Long =
    (p(i) & 0xffL) | ((p(i + 1) & 0xffL) << 8) |
      ((p(i + 2) & 0xffL) << 16) | ((p(i + 3) & 0xffL) << 24)
  private def tag(p: Array[Byte], i: Int, t: String): Boolean =
    p.length >= i + 4 && p(i) == t(0) && p(i + 1) == t(1) &&
      p(i + 2) == t(2) && p(i + 3) == t(3)

  /** Real RIFF/WAVE metadata decode: walks the chunk list (word-aligned,
    * unknown chunks skipped by their declared size) and reads the PCM
    * `fmt ` fields plus the `data` chunk's payload size. Returns
    * (sampleRate, channels, bitsPerSample, dataBytes) or all -1 when the
    * container is detected but malformed/truncated; `null`-free. */
  def decodeWav(p: Array[Byte]): (Int, Int, Int, Long) = {
    val bad = (-1, -1, -1, -1L)
    if (!(tag(p, 0, "RIFF") && tag(p, 8, "WAVE"))) return bad
    var rate, ch, bits = -1
    var dataBytes = -1L
    var i = 12
    var sane = true
    while (sane && i + 8 <= p.length) {
      val size = le32(p, i + 4)
      if (tag(p, i, "fmt ") && i + 24 <= p.length) {
        ch = (le16(p, i + 10)).toInt
        rate = le32(p, i + 12).toInt
        bits = (le16(p, i + 22)).toInt
      } else if (tag(p, i, "data")) dataBytes = size
      // a declared size beyond the container is corruption — stop walking
      // (unsigned u32 could also wrap toInt negative and loop forever)
      if (size > p.length) sane = false
      else i += 8 + size.toInt + (size.toInt & 1) // RIFF chunks are word-aligned
    }
    if (rate > 0 && ch > 0 && bits > 0 && dataBytes >= 0) (rate, ch, bits, dataBytes)
    else bad
  }

  /** Genuine canonical 44-byte WAV header (RIFF + PCM fmt + data chunk
    * header) for `dataBytes` of sample payload. */
  def wavHeader(sampleRate: Int, channels: Int, bitsPerSample: Int,
                dataBytes: Int): Array[Byte] = {
    val blockAlign = channels * bitsPerSample / 8
    val byteRate = sampleRate * blockAlign
    val b = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort).putInt(sampleRate).putInt(byteRate)
      .putShort(blockAlign.toShort).putShort(bitsPerSample.toShort)
      .put("data".getBytes("US-ASCII")).putInt(dataBytes)
    b.array()
  }

  /** Deterministic audio fixture parameters from a doc id — mirrored by
    * [[audioFixtureSql]]; keep in sync. 16-bit PCM throughout. */
  def audioFixtureParams(docId: Long): (Int, Int) = {
    val rate = (docId % 4L) match {
      case 0L => 8000; case 1L => 16000; case 2L => 44100; case _ => 48000
    }
    (rate, 1 + (docId % 2L).toInt)
  }

  /** Audio corpus with GENUINE WAV containers: header fields derive from
    * doc_id, the UTF-8 text bytes stand in for PCM samples. */
  def synthAudioFixture(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val rdd = docs.select(col("doc_id").cast("long"), col("text")).rdd
      .mapPartitions(_.map { r =>
        val id = r.getLong(0)
        val (rate, ch) = audioFixtureParams(id)
        val body = r.getString(1).getBytes("UTF-8")
        Row(id, wavHeader(rate, ch, 16, body.length) ++ body)
      })
    session.createDataFrame(rdd, schema)
  }

  /** Batched audio metadata extraction: real chunk-walking decode per
    * row, duration from exact integer arithmetic. */
  def extractAudioMeta(df: DataFrame): DataFrame = {
    val session = df.sparkSession
    val rdd = df.select(col("doc_id").cast("long"), col("payload")).rdd
      .mapPartitions(_.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val (rate, ch, bits, dataBytes) = decodeWav(payload)
        // bits < 8 (e.g. 4-bit IMA ADPCM) passes decodeWav's >0 guards but
        // makes the PCM bytes-per-sample divisor 0 — treat it as
        // undecodable like every other malformed-input path, not a crash
        val durMs =
          if (rate > 0 && bits >= 8) dataBytes * 1000L / (rate.toLong * ch * (bits / 8))
          else -1L
        Row(id, payload.length, rate, ch, bits, durMs)
      })
    session.createDataFrame(rdd, audioMetaSchema)
  }

  /** DuckDB twin of extractAudioMeta∘synthAudioFixture over `documents`
    * (canonical 44-byte header; duration is exact integer division). */
  def audioFixtureSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) + 44 AS INT) AS n_bytes,
      |  CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |       WHEN 2 THEN 44100 ELSE 48000 END AS INT) AS sample_rate,
      |  CAST(1 + doc_id % 2 AS INT) AS channels,
      |  CAST(16 AS INT) AS bits,
      |  CAST(CAST(octet_length(encode(text)) AS BIGINT) * 1000
      |    // (CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |          WHEN 2 THEN 44100 ELSE 48000 END AS BIGINT)
      |        * (1 + doc_id % 2) * 2) AS BIGINT) AS duration_ms
      |FROM documents""".stripMargin

  // ---- video (ISO BMFF / MP4) ----------------------------------------------

  val videoMetaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", IntegerType),
    StructField("brand", StringType),
    StructField("timescale", IntegerType),
    StructField("duration_units", LongType),
    StructField("duration_ms", LongType),
    StructField("n_frames", LongType),
    StructField("fps_milli", LongType)))

  /** Decoded ISO BMFF metadata: movie header plus (when a track is
    * present) the REAL frame accounting from `trak/mdia/minf/stbl/stts`.
    * `-1` fields mean "container detected, that structure absent or
    * corrupt". `fpsMilli` is frames-per-second ×1000 in exact integer
    * arithmetic (nFrames · mediaTimescale · 1000 / Σ count·delta). */
  final case class Mp4Meta(brand: String, timescale: Int, duration: Long,
                           nFrames: Long, fpsMilli: Long)

  /** Real ISO BMFF metadata decode: verifies the `ftyp` box, walks the
    * top-level box list to `moov`, reads `mvhd` (timescale, duration —
    * both version-0 32-bit and version-1 64-bit time layouts), then
    * descends `trak/mdia` for the media timescale (`mdhd`, v0+v1) and
    * the `minf/stbl/stts` time-to-sample table: frame count is the sum
    * of the entry sample counts, and the frame rate follows from the
    * summed durations. Every descent is guarded — absent or corrupt
    * boxes (bad sizes, truncated entry tables) degrade that field to -1,
    * never throw, never loop. */
  def decodeMp4(p: Array[Byte]): Mp4Meta = {
    if (!tag(p, 4, "ftyp") || p.length < 12) return Mp4Meta("unknown", -1, -1L, -1L, -1L)
    val brand = new String(p.slice(8, 12), "US-ASCII")
    def walk(from: Int, until: Int, want: String): Int = {
      var i = from
      while (i + 8 <= until) {
        val size = be32(p, i)
        if (size < 8 || i + size > until) return -1 // corrupt box size
        if (tag(p, i + 4, want)) return i
        i += size.toInt
      }
      -1
    }
    def boxEnd(at: Int): Int = at + be32(p, at).toInt
    val bad = Mp4Meta(brand, -1, -1L, -1L, -1L)
    val moov = walk(0, p.length, "moov")
    if (moov < 0) return bad
    val mvhd = walk(moov + 8, boxEnd(moov), "mvhd")
    if (mvhd < 0) return bad
    val (ts, dur) = (p(mvhd + 8) & 0xff) match {
      case 0 if mvhd + 28 <= p.length =>
        (be32(p, mvhd + 20).toInt, be32(p, mvhd + 24))
      case 1 if mvhd + 40 <= p.length =>
        (be32(p, mvhd + 28).toInt,
          (be32(p, mvhd + 32) << 32) | be32(p, mvhd + 36))
      case _ => (-1, -1L)
    }
    // track descent: first trak only (the fixture's single track; a
    // multi-track production file would map this per trak)
    var nFrames = -1L
    var fpsMilli = -1L
    val trak = walk(moov + 8, boxEnd(moov), "trak")
    val mdia = if (trak < 0) -1 else walk(trak + 8, boxEnd(trak), "mdia")
    if (mdia >= 0) {
      val mdhd = walk(mdia + 8, boxEnd(mdia), "mdhd")
      val mediaTs: Long = if (mdhd < 0) -1L else (p(mdhd + 8) & 0xff) match {
        case 0 if mdhd + 24 <= p.length => be32(p, mdhd + 20)
        case 1 if mdhd + 32 <= p.length => be32(p, mdhd + 28)
        case _ => -1L
      }
      val minf = walk(mdia + 8, boxEnd(mdia), "minf")
      val stbl = if (minf < 0) -1 else walk(minf + 8, boxEnd(minf), "stbl")
      val stts = if (stbl < 0) -1 else walk(stbl + 8, boxEnd(stbl), "stts")
      if (stts >= 0 && stts + 16 <= p.length) {
        val nEntries = be32(p, stts + 12)
        // the declared entry table must fit inside the declared box
        if (16 + nEntries * 8 <= be32(p, stts) && stts + 16 + nEntries * 8 <= p.length) {
          var frames = 0L
          var units = 0L
          var e = 0
          while (e < nEntries) {
            val cnt = be32(p, stts + 16 + e * 8)
            val delta = be32(p, stts + 20 + e * 8)
            frames += cnt
            units += cnt * delta
            e += 1
          }
          nFrames = frames
          if (mediaTs > 0 && units > 0) fpsMilli = frames * mediaTs * 1000L / units
        }
      }
    }
    Mp4Meta(brand, ts, dur, nFrames, fpsMilli)
  }

  /** Genuine minimal MP4: `ftyp(isom)` + `moov/mvhd` (version 0, identity
    * matrix) + an `mdat` header for `dataBytes` of payload. 144 bytes. */
  def mp4Header(timescale: Int, durationUnits: Long, dataBytes: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(144).order(java.nio.ByteOrder.BIG_ENDIAN)
    def fourcc(s: String): Unit = { b.put(s.getBytes("US-ASCII")); () }
    b.putInt(20); fourcc("ftyp"); fourcc("isom"); b.putInt(0); fourcc("mp41")
    b.putInt(116); fourcc("moov")
    b.putInt(108); fourcc("mvhd")
    b.putInt(0) // version 0 + flags
    b.putInt(0).putInt(0) // creation / modification time
    b.putInt(timescale).putInt(durationUnits.toInt)
    b.putInt(0x00010000) // rate 1.0
    b.putShort(0x0100.toShort).putShort(0) // volume, reserved
    b.putLong(0L) // reserved
    b.putInt(0x00010000).putInt(0).putInt(0) // identity matrix
    b.putInt(0).putInt(0x00010000).putInt(0)
    b.putInt(0).putInt(0).putInt(0x40000000)
    (0 until 6).foreach(_ => b.putInt(0)) // pre_defined
    b.putInt(2) // next_track_ID
    b.putInt(8 + dataBytes); fourcc("mdat")
    b.array()
  }

  /** Genuine single-track box chain: `trak/mdia/(mdhd + minf/stbl/stts)`
    * with a one-entry time-to-sample table — 88 bytes, appended inside
    * `moov` by [[mp4HeaderTracked]]. */
  def trakBox(mediaTimescale: Int, frameCount: Int, frameDelta: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(88).order(java.nio.ByteOrder.BIG_ENDIAN)
    def fourcc(s: String): Unit = { b.put(s.getBytes("US-ASCII")); () }
    b.putInt(88); fourcc("trak")
    b.putInt(80); fourcc("mdia")
    b.putInt(32); fourcc("mdhd")
    b.putInt(0) // version 0 + flags
    b.putInt(0).putInt(0) // creation / modification time
    b.putInt(mediaTimescale)
    b.putInt(frameCount * frameDelta) // media duration
    b.putInt(0x55c40000) // language "und" + pre_defined
    b.putInt(40); fourcc("minf")
    b.putInt(32); fourcc("stbl")
    b.putInt(24); fourcc("stts")
    b.putInt(0) // version + flags
    b.putInt(1) // entry_count
    b.putInt(frameCount).putInt(frameDelta)
    b.array()
  }

  /** [[mp4Header]] plus a genuine track: ftyp + moov(mvhd + trak) + mdat
    * header. 232 bytes. */
  def mp4HeaderTracked(timescale: Int, durationUnits: Long, mediaTimescale: Int,
                       frameCount: Int, frameDelta: Int, dataBytes: Int): Array[Byte] = {
    val base = mp4Header(timescale, durationUnits, dataBytes)
    val trak = trakBox(mediaTimescale, frameCount, frameDelta)
    val out = java.nio.ByteBuffer.allocate(base.length + trak.length)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    out.put(base, 0, 20) // ftyp
    out.putInt(116 + trak.length).put("moov".getBytes("US-ASCII")) // grown moov
    out.put(base, 28, 108) // mvhd unchanged
    out.put(trak)
    out.put(base, 136, 8) // mdat header
    out.array()
  }

  /** Deterministic video fixture parameters — mirrored by
    * [[videoFixtureSql]]; keep in sync. */
  def videoFixtureParams(docId: Long): (Int, Long) = {
    val ts = (docId % 4L) match {
      case 0L => 600; case 1L => 1000; case 2L => 90000; case _ => 48000
    }
    (ts, 1000L + (docId * 13L) % 100000L)
  }

  /** Track-level fixture parameters: media timescale 12800 throughout;
    * (frameCount, frameDelta) vary per doc — mirrored by
    * [[videoFixtureSql]]; keep in sync. */
  val videoMediaTimescale = 12800
  def videoTrackParams(docId: Long): (Int, Int) =
    ((24 + (docId % 5L) * 6L).toInt, (512 + (docId % 3L) * 128L).toInt)

  /** Video corpus with GENUINE ISO BMFF containers: mvhd + a real
    * trak/mdia/minf/stbl/stts chain derive from doc_id, text bytes stand
    * in for the mdat payload. */
  def synthVideoFixture(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val rdd = docs.select(col("doc_id").cast("long"), col("text")).rdd
      .mapPartitions(_.map { r =>
        val id = r.getLong(0)
        val (ts, dur) = videoFixtureParams(id)
        val (nf, delta) = videoTrackParams(id)
        val body = r.getString(1).getBytes("UTF-8")
        Row(id, mp4HeaderTracked(ts, dur, videoMediaTimescale, nf, delta,
          body.length) ++ body)
      })
    session.createDataFrame(rdd, schema)
  }

  /** Batched video metadata extraction via [[decodeMp4]]. */
  def extractVideoMeta(df: DataFrame): DataFrame = {
    val session = df.sparkSession
    val rdd = df.select(col("doc_id").cast("long"), col("payload")).rdd
      .mapPartitions(_.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val m = decodeMp4(payload)
        val durMs = if (m.timescale > 0) m.duration * 1000L / m.timescale else -1L
        Row(id, payload.length, m.brand, m.timescale, m.duration, durMs,
          m.nFrames, m.fpsMilli)
      })
    session.createDataFrame(rdd, videoMetaSchema)
  }

  /** DuckDB twin of extractVideoMeta∘synthVideoFixture over `documents`
    * (232-byte tracked container; duration and frame rate are exact
    * integer division; fps_milli = n_frames·media_ts·1000 / (n_frames·
    * delta) = media_ts·1000 / delta for the one-entry stts). */
  def videoFixtureSql: String =
    s"""SELECT doc_id,
      |  CAST(octet_length(encode(text)) + 232 AS INT) AS n_bytes,
      |  'isom' AS brand,
      |  CAST(CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
      |       WHEN 2 THEN 90000 ELSE 48000 END AS INT) AS timescale,
      |  CAST(1000 + (doc_id * 13) % 100000 AS BIGINT) AS duration_units,
      |  CAST((1000 + (doc_id * 13) % 100000) * 1000
      |    // CAST(CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
      |         WHEN 2 THEN 90000 ELSE 48000 END AS BIGINT) AS BIGINT) AS duration_ms,
      |  CAST(24 + (doc_id % 5) * 6 AS BIGINT) AS n_frames,
      |  CAST($videoMediaTimescale * 1000 // (512 + (doc_id % 3) * 128) AS BIGINT) AS fps_milli
      |FROM documents""".stripMargin

  /** x182: frame-SAMPLE schedule from the PARSED container — the real
    * half of video near-dup plumbing: for every video with a decoded
    * track, one sampled frame per 1/`hz` of media time, each row
    * carrying the sample tick `q` and the frame index holding that
    * instant (`(q · fps_milli) div (hz·1000)` — pure frame-rate
    * arithmetic off the REAL stts-derived rate, exact integers). The
    * schedule is TIME-aligned, not index-aligned, so re-encodes of the
    * same footage at different frame rates sample the same instants —
    * what makes the downstream fingerprint join meaningful. */
  def videoFrameSchedule(meta: DataFrame, hz: Int = 4): DataFrame = {
    require(hz >= 1 && hz <= 1000, s"hz=$hz")
    meta.filter(col("n_frames") > 0L && col("fps_milli") > 0L)
      .select(col("doc_id"), col("fps_milli"),
        explode(sequence(lit(0L),
          expr(s"(n_frames * ${hz * 1000}L - 1L) div fps_milli"))).as("q"))
      .select(col("doc_id"), col("q"),
        expr(s"(q * fps_milli) div ${hz * 1000}L").as("frame_idx"))
  }

  /** Deterministic fixture frame pixel — the DECODE stand-in at pixel
    * granularity (video codecs are absent in this container, so the
    * codec's output is synthesized; everything downstream of it is
    * real): the [[imagePixel]] xor-shift mix keyed by (content group,
    * sample tick) — content-at-instant, so the group's re-encodes at
    * different frame rates render the SAME frame at the same tick,
    * which is exactly the invariant a real decoder gives time-aligned
    * sampling. Exact BIGINT arithmetic replicated by
    * [[videoFrameDupSql]]; keep the two in sync. Inputs are
    * non-negative fixture ids, so every intermediate stays positive
    * (no overflow, `/` and `%` agree with the twin's `//`/`%`). */
  def framePixel(group: Long, q: Long, x: Int, y: Int): Int = {
    val h0 = group * 1000003L + q * 777767L + x * 97L + y * 10007L
    val h1 = h0 ^ (h0 >> 7)
    val h2 = (h1 * 31L) ^ (h1 >> 11)
    (h2 % 256L).toInt
  }

  /** 64-bit dHash of one decoded frame on the canonical 9×8 grid — the
    * x62 gradient hash ([[imageHashes]]'s dhash half) factored for
    * per-frame use: nearest-neighbor sample onto 9×8, bit (y·8+x) set
    * iff gray(x+1,y) > gray(x,y). */
  private def dhash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    def gray(x: Int, y: Int): Int = {
      val rgb = img.getRGB(x * w / imageW, y * h / imageH)
      (((rgb >> 16) & 255) + ((rgb >> 8) & 255) + (rgb & 255)) / 3
    }
    var dhash = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (gray(x + 1, y) > gray(x, y)) dhash |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    dhash
  }

  /** x182 frame fingerprints over REAL perceptual hashing: for every
    * (doc_id, q) row of [[videoFrameSchedule]], render the fixture
    * frame ([[framePixel]] keyed by (doc_id div 4, q) — the synthesized
    * decode), PNG-encode it with the JDK's real ImageIO writer, DECODE
    * the bytes back, and dHash the decoded pixels — the exact x62
    * encode→decode→hash path (frame bytes never hit the driver). PNG
    * is lossless, so a DuckDB oracle predicts the hash from the pixel
    * function alone — any decoder or resample deviation breaks the
    * match.
    *
    * Two deliberate cost moves, mirroring the twin's shape: frames are
    * hashed per DISTINCT (content group, tick) and joined back onto
    * the schedule (the fingerprint relation is group-sized, it
    * broadcasts; re-encodes of the same footage never hash the same
    * instant twice), and the codec pair is obtained ONCE per partition
    * — `ImageIO.write/read`'s convenience lookups re-scan the plugin
    * registry per call, which at 10⁴ frames dominated the pixels
    * ~10:1. */
  def frameFingerprints(schedule: DataFrame): DataFrame = {
    val session = schedule.sparkSession
    val sched = schedule.select(col("doc_id").cast("long").as("doc_id"),
      col("q").cast("long").as("q"))
    val fpSchema = StructType(Seq(
      StructField("grp", LongType),
      StructField("q", LongType),
      StructField("frame_fp", LongType)))
    val rdd = sched.select(expr("doc_id div 4").as("grp"), col("q"))
      .distinct().rdd
      .mapPartitions { it =>
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("png").next()
        val reader = javax.imageio.ImageIO
          .getImageReadersByFormatName("png").next()
        it.map { r =>
          val grp = r.getLong(0)
          val q = r.getLong(1)
          val img = new java.awt.image.BufferedImage(imageW, imageH,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < imageH) {
            var x = 0
            while (x < imageW) {
              val g = framePixel(grp, q, x, y)
              img.setRGB(x, y, (g << 16) | (g << 8) | g)
              x += 1
            }
            y += 1
          }
          // explicit memory-cache streams: ImageIO.create*Stream
          // defaults to DISK-backed cache files (one temp file per
          // frame — the filesystem, not the codec, was the cost)
          val bos = new java.io.ByteArrayOutputStream(256)
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
          writer.setOutput(ios)
          writer.write(img)
          ios.close()
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bos.toByteArray))
          reader.setInput(iis)
          val dec = reader.read(0)
          iis.close()
          Row(grp, q, dhash64(dec))
        }
      }
    sched.withColumn("grp", expr("doc_id div 4"))
      .join(session.createDataFrame(rdd, fpSchema), Seq("grp", "q"))
      .select(col("doc_id"), col("q"), col("frame_fp"))
  }

  /** x182: video near-dup pairs by sampled-frame fingerprints — the
    * video member of the dedup family (text x5–x10, image x62/x63,
    * audio x65/x66): videos sharing ≥ `minShared` sampled-frame
    * fingerprints pair, with per-side sample counts and
    * `containment_ppm` = shared / smaller side (a trimmed copy reads
    * ~1e6 against its source). The x55/x78 max-df guard bounds the
    * fan-out: a fingerprint held by more than `maxDf` videos (a viral
    * intro card / logo animation — df², not content signal) is kept
    * out of pairing, and `n_viral_frames` rides every row so the cap
    * is never silent; shared counts are over guarded frames by
    * definition of the metric.
    *
    * Scale: one fingerprint-keyed df aggregate (map-side combinable),
    * the guarded self-join (≤ maxDf² per fingerprint), pair- and
    * doc-keyed aggregates — nothing quadratic in the corpus. */
  def frameDupPairs(frames: DataFrame, minShared: Long = 2,
                    maxDf: Long = 64): DataFrame = {
    val f = graft.core.Memo.pinned(
      frames.select(col("doc_id"), col("frame_fp")))
    val byDf = f.groupBy("frame_fp").agg(count(lit(1)).as("df"))
    val guarded = byDf.filter(col("df") >= 2 && col("df") <= maxDf)
      .select("frame_fp")
    val viral = byDf.filter(col("df") > maxDf)
      .agg(count(lit(1)).as("n_viral_frames"))
    val k = f.join(guarded, "frame_fp")
    val counts = f.groupBy("doc_id").agg(count(lit(1)).as("n_samples"))
    k.as("a").join(k.as("b"),
        col("a.frame_fp") === col("b.frame_fp") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_frames"))
      .filter(col("n_shared_frames") >= minShared)
      .join(counts.select(col("doc_id").as("doc_a"),
        col("n_samples").as("n_samples_a")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"),
        col("n_samples").as("n_samples_b")), Seq("doc_b"))
      .crossJoin(broadcast(viral))
      .select(col("doc_a"), col("doc_b"), col("n_shared_frames"),
        col("n_samples_a"), col("n_samples_b"),
        expr("(n_shared_frames * 1000000L) div " +
          "least(n_samples_a, n_samples_b)").as("containment_ppm"),
        col("n_viral_frames"))
  }

  /** DuckDB twin of the x182 composition (fixture meta formulas →
    * schedule → per-frame dHash → guarded pairing): replays
    * [[framePixel]] in closed form per distinct (content group, tick)
    * and folds the 64 gradient bits exactly as [[imageHashesSqlCte]]
    * does (bit 63 added as the signed minimum — DuckDB overflows on
    * `1::BIGINT << 63`), thereby checking the whole PNG encode→decode→
    * resample→hash round trip [[frameFingerprints]] runs. */
  def videoFrameDupSql(hz: Int = 4, minShared: Long = 2,
                       maxDf: Long = 64): String =
    s"""WITH vf_m AS (
       |  SELECT doc_id,
       |    CAST(24 + (doc_id % 5) * 6 AS BIGINT) AS n_frames,
       |    CAST($videoMediaTimescale * 1000
       |      // (512 + (doc_id % 3) * 128) AS BIGINT) AS fps_milli
       |  FROM documents
       |),
       |vf_s AS (
       |  SELECT doc_id,
       |    unnest(generate_series(0,
       |      (n_frames * ${hz * 1000} - 1) // fps_milli)) AS q
       |  FROM vf_m WHERE n_frames > 0 AND fps_milli > 0
       |),
       |vf_gq AS (SELECT DISTINCT doc_id // 4 AS grp, q FROM vf_s),
       |vf_px AS (
       |  SELECT grp, q, xs.x, ys.y,
       |    xor(grp * 1000003 + q * 777767 + xs.x * 97 + ys.y * 10007,
       |        (grp * 1000003 + q * 777767 + xs.x * 97 + ys.y * 10007)
       |          >> 7) AS h1
       |  FROM vf_gq
       |  CROSS JOIN generate_series(0, ${imageW - 1}) AS xs(x)
       |  CROSS JOIN generate_series(0, ${imageH - 1}) AS ys(y)
       |),
       |vf_pg AS (
       |  SELECT grp, q, x, y,
       |    CAST(xor(h1 * 31, h1 >> 11) % 256 AS INT) AS g
       |  FROM vf_px
       |),
       |vf_db AS (
       |  SELECT a.grp, a.q, a.y * 8 + a.x AS k,
       |    CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
       |  FROM vf_pg a JOIN vf_pg b
       |    ON a.grp = b.grp AND a.q = b.q AND b.y = a.y AND b.x = a.x + 1
       |  WHERE a.x < 8
       |),
       |vf_dh AS (
       |  SELECT grp, q,
       |    CAST(sum(CASE WHEN bit = 1 AND k < 63
       |        THEN (1::BIGINT << CAST(k AS INT)) ELSE 0 END)
       |      + sum(CASE WHEN bit = 1 AND k = 63 THEN 1 ELSE 0 END)
       |        * (-9223372036854775807 - 1) AS BIGINT) AS frame_fp
       |  FROM vf_db GROUP BY grp, q
       |),
       |vf_f AS (
       |  SELECT s.doc_id, d.frame_fp
       |  FROM vf_s s JOIN vf_dh d ON d.grp = s.doc_id // 4 AND d.q = s.q
       |),
       |vf_df AS (SELECT frame_fp, count(*) AS df FROM vf_f
       |  GROUP BY frame_fp),
       |vf_g AS (SELECT frame_fp FROM vf_df WHERE df BETWEEN 2 AND $maxDf),
       |vf_v AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_viral_frames
       |  FROM vf_df WHERE df > $maxDf
       |),
       |vf_k AS (SELECT doc_id, frame_fp FROM vf_f JOIN vf_g
       |  USING (frame_fp)),
       |vf_c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples
       |  FROM vf_f GROUP BY doc_id),
       |vf_p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS n_shared_frames
       |  FROM vf_k a JOIN vf_k b
       |    ON a.frame_fp = b.frame_fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $minShared
       |)
       |SELECT p.doc_a, p.doc_b, p.n_shared_frames,
       |  ca.n_samples AS n_samples_a, cb.n_samples AS n_samples_b,
       |  CAST((p.n_shared_frames * 1000000)
       |    // least(ca.n_samples, cb.n_samples) AS BIGINT)
       |    AS containment_ppm,
       |  v.n_viral_frames
       |FROM vf_p p
       |JOIN vf_c ca ON ca.doc_id = p.doc_a
       |JOIN vf_c cb ON cb.doc_id = p.doc_b
       |CROSS JOIN vf_v v""".stripMargin

  // ---- image perceptual hashing (REAL pixels: encode → decode → hash) -----

  val imageHashSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("dhash", LongType),
    StructField("ahash", LongType)))

  val imageW = 9
  val imageH = 8

  /** Deterministic fixture pixel: an xor-shift-mixed gray from (group,
    * x, y) — docs in the same group of 4 share the base image and each
    * variant perturbs ONE pixel by +128, so variants are near-dups with
    * small dHash Hamming distance. Every step is exact BIGINT arithmetic
    * replicated by [[imageHashesSql]]; keep the two in sync. */
  def imagePixel(docId: Long, x: Int, y: Int): Int = {
    val gid = docId / 4
    val v = (docId % 4).toInt
    val h0 = gid * 1000003L + x * 97L + y * 10007L
    val h1 = h0 ^ (h0 >> 7)
    val h2 = (h1 * 31L) ^ (h1 >> 11)
    val g = (h2 % 256L).toInt
    if (x == v && y == v) (g + 128) % 256 else g
  }

  /** Process-wide ImageIO switch, referenced at the top of every
    * decode/encode partition mapper (once per executor JVM): the
    * convenience `ImageIO.read`/`write` and `createImage*Stream`
    * default to DISK-backed stream caches — one temp file per image,
    * and at 10³–10⁴ tiny frames per query the filesystem, not the
    * codec, was the cost (x182 measured ~4× on exactly this). Memory
    * caching is strictly right here: every image in the engine is a
    * bounded thumbnail-class buffer. */
  private lazy val imageIoMemCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** Image corpus with GENUINE PNG payloads: a 9×8 gray image whose
    * pixels come from [[imagePixel]], encoded by the JDK's real ImageIO
    * PNG writer. PNG is lossless, so the decode side recovers the exact
    * pixel function — which is what lets a DuckDB oracle predict the
    * perceptual hashes without decoding anything. */
  def synthImageFixture(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val rdd = docs.select(col("doc_id").cast("long")).rdd
      .mapPartitions(_.map { r =>
        imageIoMemCache
        val id = r.getLong(0)
        val img = new java.awt.image.BufferedImage(imageW, imageH,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < imageH) {
          var x = 0
          while (x < imageW) {
            val g = imagePixel(id, x, y)
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
            x += 1
          }
          y += 1
        }
        val out = new java.io.ByteArrayOutputStream(256)
        javax.imageio.ImageIO.write(img, "png", out)
        Row(id, out.toByteArray)
      })
    session.createDataFrame(rdd, schema)
  }

  /** dHash + aHash over REAL decoded pixels: ImageIO decodes the payload
    * (any format it has a reader for), a nearest-neighbor sample maps the
    * image onto the canonical 9×8 grid (`sx = x*w/9, sy = y*h/8` — exact
    * integer math, the identity on 9×8 fixtures; swap in an area-average
    * resize stage for production-grade hashing of large photos), and the
    * 64-bit hashes are
    *   - dhash bit (y*8+x): gray(x+1,y) > gray(x,y)  (gradient direction)
    *   - ahash bit (y*8+x): gray(x,y)*64 > Σ gray    (above-mean, exact
    *     integer compare — no division)
    * Undecodable payloads degrade to (-1, -1, null, null). One decoder
    * loop per partition; payload bytes never hit the driver. */
  def imageHashes(df: DataFrame): DataFrame = {
    val session = df.sparkSession
    val rdd = df.select(col("doc_id").cast("long"), col("payload")).rdd
      .mapPartitions(_.map { r =>
        imageIoMemCache
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
          catch { case _: Exception => null }
        if (img == null || img.getWidth < imageW || img.getHeight < imageH)
          Row(id, if (img == null) -1 else img.getWidth,
            if (img == null) -1 else img.getHeight, null, null)
        else {
          val w = img.getWidth
          val h = img.getHeight
          val g = Array.ofDim[Int](imageW, imageH)
          var y = 0
          while (y < imageH) {
            var x = 0
            while (x < imageW) {
              val rgb = img.getRGB(x * w / imageW, y * h / imageH)
              g(x)(y) = (((rgb >> 16) & 255) + ((rgb >> 8) & 255) + (rgb & 255)) / 3
              x += 1
            }
            y += 1
          }
          var dhash = 0L
          var ahash = 0L
          var sum = 0L
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) { sum += g(xx)(yy); xx += 1 }
            yy += 1
          }
          yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) {
              val k = yy * 8 + xx
              if (g(xx + 1)(yy) > g(xx)(yy)) dhash |= 1L << k
              if (g(xx)(yy) * 64L > sum) ahash |= 1L << k
              xx += 1
            }
            yy += 1
          }
          Row(id, w, h, dhash, ahash)
        }
      })
    session.createDataFrame(rdd, imageHashSchema)
  }

  /** Near-duplicate image pairs by dHash Hamming distance ≤ `maxDist`,
    * via the same pigeonhole byte-blocking as the text SimHash family
    * (x10): with 8 blocks over 64 bits, a pair within distance 7 must
    * agree on at least one whole byte, so 8 disjoint equi-joins (each
    * pair claimed by its FIRST agreeing byte) cover the space exactly —
    * no all-pairs product anywhere, shuffle keys distribute by content.
    * The hash relation is pinned once: it sits behind an RDD decode, and
    * 16 plan references would re-decode the corpus 16×. */
  def imageDupPairs(hashes: DataFrame, maxDist: Int = 6,
                    state: DedupOps.IterState = DedupOps.Local): DataFrame =
    hammingPairs64(hashes, "dhash", maxDist, state)

  /** Shared pigeonhole pairing over any 64-bit perceptual hash column
    * (image dHash, audio envelope fingerprint): 8 disjoint byte-block
    * equi-joins, each pair claimed by its FIRST agreeing byte — exact for
    * Hamming ≤ 7, no all-pairs product, shuffle keys distribute by hash
    * content. The hash relation is pinned once because it sits behind an
    * RDD decode and 16 plan references would re-decode the corpus 16×. */
  private[graft] def hammingPairs64(hashes: DataFrame, hashCol: String, maxDist: Int,
                                    state: DedupOps.IterState): DataFrame = {
    require(maxDist <= 7, "8-byte blocking is exact only for Hamming distance <= 7")
    val hs = state.pin(hashes.select(col("doc_id"), col(hashCol).as("h"))
      .filter(col("h").isNotNull))
    val byteOf = (c: Column, j: Int) => shiftright(c, j * 8).bitwiseAND(lit(255L))
    (0 until 8).map { b =>
      val firstMatch = (0 until b)
        .map(j => byteOf(col("a.h"), j) =!= byteOf(col("b.h"), j))
        .foldLeft(lit(true))(_ && _)
      hs.as("a").join(hs.as("b"),
        byteOf(col("a.h"), b) === byteOf(col("b.h"), b) &&
          col("a.doc_id") < col("b.doc_id") && firstMatch)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.h").bitwiseXOR(col("b.h"))).as("hamming"))
        .filter(col("hamming") <= maxDist)
    }.reduce(_ unionByName _)
  }

  /** DuckDB twin of imageHashes∘synthImageFixture: replays [[imagePixel]]
    * in closed form and computes both hashes from the predicted pixels —
    * the oracle thereby checks the PNG encode→decode round-trip (any
    * decoder deviation breaks the hash match). Bit 63 can't be reached by
    * `1::BIGINT << 63` (DuckDB overflows); it is added as the signed
    * minimum instead, matching two's-complement `1L << 63`. */
  def imageHashesSqlCte(rel: String = "documents"): String = {
    val minLong = "(-9223372036854775807 - 1)"
    s"""pxh AS (
       |  SELECT d.doc_id, xs.x, ys.y,
       |    xor((d.doc_id // 4) * 1000003 + xs.x * 97 + ys.y * 10007,
       |        ((d.doc_id // 4) * 1000003 + xs.x * 97 + ys.y * 10007) >> 7) AS h1
       |  FROM $rel d
       |  CROSS JOIN generate_series(0, ${imageW - 1}) AS xs(x)
       |  CROSS JOIN generate_series(0, ${imageH - 1}) AS ys(y)
       |),
       |pxg AS (
       |  SELECT doc_id, x, y, CAST(xor(h1 * 31, h1 >> 11) % 256 AS INT) AS g0
       |  FROM pxh
       |),
       |px AS (
       |  SELECT doc_id, x, y,
       |    CASE WHEN x = doc_id % 4 AND y = doc_id % 4
       |      THEN (g0 + 128) % 256 ELSE g0 END AS g
       |  FROM pxg
       |),
       |dbits AS (
       |  SELECT a.doc_id, a.y * 8 + a.x AS k,
       |    CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
       |  FROM px a JOIN px b
       |    ON a.doc_id = b.doc_id AND b.y = a.y AND b.x = a.x + 1
       |  WHERE a.x < 8
       |),
       |asums AS (
       |  SELECT doc_id, CAST(sum(g) AS BIGINT) AS s
       |  FROM px WHERE x < 8 GROUP BY doc_id
       |),
       |abits AS (
       |  SELECT p.doc_id, p.y * 8 + p.x AS k,
       |    CASE WHEN p.g * 64 > t.s THEN 1 ELSE 0 END AS bit
       |  FROM px p JOIN asums t USING (doc_id) WHERE p.x < 8
       |),
       |ih AS (
       |  SELECT d.doc_id,
       |    CAST(d.dh + d.dh63 * $minLong AS BIGINT) AS dhash,
       |    CAST(a.ah + a.ah63 * $minLong AS BIGINT) AS ahash
       |  FROM (SELECT doc_id,
       |          CAST(sum(CASE WHEN bit = 1 AND k < 63
       |            THEN (1::BIGINT << CAST(k AS INT)) ELSE 0 END) AS BIGINT) AS dh,
       |          CAST(sum(CASE WHEN bit = 1 AND k = 63 THEN 1 ELSE 0 END) AS BIGINT) AS dh63
       |        FROM dbits GROUP BY doc_id) d
       |  JOIN (SELECT doc_id,
       |          CAST(sum(CASE WHEN bit = 1 AND k < 63
       |            THEN (1::BIGINT << CAST(k AS INT)) ELSE 0 END) AS BIGINT) AS ah,
       |          CAST(sum(CASE WHEN bit = 1 AND k = 63 THEN 1 ELSE 0 END) AS BIGINT) AS ah63
       |        FROM abits GROUP BY doc_id) a USING (doc_id)
       |)""".stripMargin
  }

  def imageHashesSql: String =
    s"""WITH ${imageHashesSqlCte()}
       |SELECT doc_id, CAST($imageW AS INT) AS width, CAST($imageH AS INT) AS height,
       |  dhash, ahash
       |FROM ih""".stripMargin

  /** Oracle twin of the pair query — naive all-pairs over the predicted
    * hashes (the oracle only runs at small SF). */
  def imageDupPairsSql(maxDist: Int = 6): String =
    s"""WITH ${imageHashesSqlCte()}
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
       |FROM ih a JOIN ih b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.dhash, b.dhash)) <= $maxDist""".stripMargin

  // ---- audio fingerprinting (REAL PCM: encode → decode → envelope hash) ---

  val audioFpSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_samples", IntegerType),
    StructField("fp", LongType)))

  /** 65 energy windows → 64 adjacent-comparison bits (the dHash idea
    * transplanted from pixels to the PCM energy envelope). */
  val audioFpWin = 65
  val audioFpWinLen = 5

  /** Deterministic fixture sample: an xor-shift-mixed amplitude from
    * (group, sample index) — docs in the same group of 4 share the base
    * waveform and variant v lifts ONE window's samples by +512, so
    * variants are near-dups within Hamming 2 of the base (at most the
    * two bits comparing against the lifted window flip). Exact BIGINT
    * arithmetic replicated by [[audioFpSqlCte]]; keep the two in sync. */
  def audioFpSample(docId: Long, i: Int): Int = {
    val gid = docId / 4
    val v = (docId % 4).toInt
    val h0 = gid * 1000003L + i * 131L
    val h1 = h0 ^ (h0 >> 7)
    val h2 = (h1 * 31L) ^ (h1 >> 11)
    val g = (h2 % 256L).toInt
    if (i / audioFpWinLen == v) g + 512 else g
  }

  /** Audio corpus with GENUINE mono 16-bit PCM WAV payloads whose
    * samples come from [[audioFpSample]]. PCM is lossless, so the decode
    * side recovers the exact sample function — which is what lets a
    * DuckDB oracle predict the fingerprints without decoding anything. */
  def synthAudioFpFixture(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val n = audioFpWin * audioFpWinLen
    val rdd = docs.select(col("doc_id").cast("long")).rdd
      .mapPartitions(_.map { r =>
        val id = r.getLong(0)
        val (rate, _) = audioFixtureParams(id)
        val pcm = java.nio.ByteBuffer.allocate(n * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < n) { pcm.putShort(audioFpSample(id, i).toShort); i += 1 }
        Row(id, wavHeader(rate, 1, 16, n * 2) ++ pcm.array())
      })
    session.createDataFrame(rdd, schema)
  }

  /** Real PCM sample decode: the same chunk walk as [[decodeWav]], plus
    * the `data` payload parsed as signed 16-bit little-endian samples.
    * Returns empty when the container is not 16-bit PCM WAV or the data
    * chunk is missing/truncated. */
  def decodeWavSamples(p: Array[Byte]): Array[Int] = {
    if (!(tag(p, 0, "RIFF") && tag(p, 8, "WAVE"))) return Array.emptyIntArray
    var bits = -1
    var dataOff = -1
    var dataLen = -1
    var i = 12
    var sane = true
    while (sane && i + 8 <= p.length) {
      val size = le32(p, i + 4)
      if (tag(p, i, "fmt ") && i + 24 <= p.length) bits = le16(p, i + 22)
      else if (tag(p, i, "data")) { dataOff = i + 8; dataLen = size.toInt }
      if (size > p.length) sane = false
      else i += 8 + size.toInt + (size.toInt & 1)
    }
    // Long math: a lying size near Int.MaxValue overflows the Int sum
    // negative, which would slip past the bound into a multi-GB alloc
    if (bits != 16 || dataOff < 0 || dataLen < 0 ||
      dataOff.toLong + dataLen.toLong > p.length) return Array.emptyIntArray
    val n = dataLen / 2
    val out = new Array[Int](n)
    var k = 0
    while (k < n) {
      out(k) = ((p(dataOff + 2 * k + 1).toInt) << 8) | (p(dataOff + 2 * k) & 0xff)
      k += 1
    }
    out
  }

  /** 64-bit energy-envelope fingerprint over REAL decoded PCM: samples
    * split into 65 windows (`start = w*n/65`, exact integer math — equal
    * windows on the fixture), window energy = Σ|s| (exact BIGINT), and
    * bit w compares adjacent energies `E[w+1] > E[w]` — amplitude-scale
    * invariant, like dHash for pixels. Payloads that are not 16-bit PCM
    * or carry fewer samples than windows degrade to a null fp. One
    * decoder loop per partition; payload bytes never hit the driver. */
  def audioFingerprints(df: DataFrame): DataFrame = {
    val session = df.sparkSession
    val nw = audioFpWin
    val rdd = df.select(col("doc_id").cast("long"), col("payload")).rdd
      .mapPartitions(_.map { r =>
        val id = r.getLong(0)
        val s = decodeWavSamples(r.getAs[Array[Byte]](1))
        val n = s.length
        if (n < nw) Row(id, n, null)
        else {
          val e = new Array[Long](nw)
          var w = 0
          while (w < nw) {
            var i = w * n / nw
            val end = (w + 1) * n / nw
            var sum = 0L
            while (i < end) { sum += math.abs(s(i)); i += 1 }
            e(w) = sum
            w += 1
          }
          var fp = 0L
          var k = 0
          while (k < nw - 1) {
            if (e(k + 1) > e(k)) fp |= 1L << k
            k += 1
          }
          Row(id, n, fp)
        }
      })
    session.createDataFrame(rdd, audioFpSchema)
  }

  /** Near-duplicate audio pairs by fingerprint Hamming distance — the
    * audio member of the dedup family (text x5–x10, image x62), sharing
    * the exact pigeonhole byte-block pairing. */
  def audioDupPairs(fps: DataFrame, maxDist: Int = 6,
                    state: DedupOps.IterState = DedupOps.Local): DataFrame =
    hammingPairs64(fps, "fp", maxDist, state)

  /** DuckDB twin of audioFingerprints∘synthAudioFpFixture: replays
    * [[audioFpSample]] in closed form and computes the fingerprint from
    * the predicted samples — a green row certifies the WAV PCM
    * encode→decode round-trip. Same signed-minimum trick for bit 63 as
    * [[imageHashesSqlCte]]. */
  def audioFpSqlCte(rel: String = "documents"): String = {
    val minLong = "(-9223372036854775807 - 1)"
    s"""ash AS (
       |  SELECT d.doc_id, ws.w,
       |    (d.doc_id // 4) * 1000003 + (ws.w * $audioFpWinLen + ks.k) * 131 AS h0
       |  FROM $rel d
       |  CROSS JOIN generate_series(0, ${audioFpWin - 1}) AS ws(w)
       |  CROSS JOIN generate_series(0, ${audioFpWinLen - 1}) AS ks(k)
       |),
       |asmp AS (
       |  SELECT doc_id, w,
       |    CAST(xor(xor(h0, h0 >> 7) * 31, xor(h0, h0 >> 7) >> 11) % 256 AS BIGINT)
       |      + CASE WHEN w = doc_id % 4 THEN 512 ELSE 0 END AS s
       |  FROM ash
       |),
       |aener AS (
       |  SELECT doc_id, w, CAST(sum(s) AS BIGINT) AS e
       |  FROM asmp GROUP BY doc_id, w
       |),
       |afp AS (
       |  SELECT a.doc_id,
       |    CAST(sum(CASE WHEN b.e > a.e AND a.w < 63
       |            THEN (1::BIGINT << CAST(a.w AS INT)) ELSE 0 END)
       |      + sum(CASE WHEN b.e > a.e AND a.w = 63 THEN 1 ELSE 0 END)
       |        * $minLong AS BIGINT) AS fp
       |  FROM aener a JOIN aener b
       |    ON a.doc_id = b.doc_id AND b.w = a.w + 1
       |  WHERE a.w < ${audioFpWin - 1}
       |  GROUP BY a.doc_id
       |)""".stripMargin
  }

  def audioFpSql: String =
    s"""WITH ${audioFpSqlCte()}
       |SELECT doc_id, CAST(${audioFpWin * audioFpWinLen} AS INT) AS n_samples, fp
       |FROM afp""".stripMargin

  /** Oracle twin of the pair query — naive all-pairs over the predicted
    * fingerprints (the oracle only runs at small SF). */
  def audioDupPairsSql(maxDist: Int = 6): String =
    s"""WITH ${audioFpSqlCte()}
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
       |FROM afp a JOIN afp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.fp, b.fp)) <= $maxDist""".stripMargin

  /** Batched metadata extraction over a binary column: one decoder per
    * partition, rows streamed through it, real header parsing via
    * [[decodeMeta]]. Input needs (doc_id: long, payload: binary). */
  def extractMediaMeta(df: DataFrame): DataFrame = {
    val session = df.sparkSession
    val rdd = df.select(col("doc_id").cast("long"), col("payload")).rdd
      .mapPartitions { rows =>
        // one decoder instance per partition (JNI-codec setup pattern)
        rows.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val (w, h, fmt) = decodeMeta(payload)
          Row(id, payload.length, w, h, fmt)
        }
      }
    session.createDataFrame(rdd, mediaMetaSchema)
  }

  /** STUB resize: the Spark-side contract of an image-resize stage —
    * output payload is a deterministic function of (payload, w, h) so
    * tests can assert the full pipeline. */
  def stubResize(df: DataFrame, width: Int, height: Int): DataFrame =
    df.withColumn("payload",
      concat(to_binary(lit(f"$width%08x$height%08x"), lit("hex")), col("payload")))
      .withColumn("width", lit(width)).withColumn("height", lit(height))

  /** STUB feature extraction: payload → fixed-dim embedding, one "model"
    * instance per partition (the batched-inference pattern — swap the
    * md5-expansion body for a real encoder call; the Spark-side contract
    * is the schema, the per-partition model reuse, and the batch shape). */
  def stubFeatures(df: DataFrame, dim: Int = 16): DataFrame = {
    val session = df.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("features", ArrayType(FloatType))))
    val rdd = df.select(col("doc_id").cast("long"), col("payload")).rdd
      .mapPartitions { rows =>
        // one model instance per partition (expensive-setup pattern)
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val feats = Array.tabulate(dim) { i =>
            md.reset()
            md.update(payload)
            md.update(i.toByte)
            (((md.digest()(0) & 0xff) - 128) / 128.0).toFloat
          }
          Row(id, feats.toSeq)
        }
      }
    session.createDataFrame(rdd, schema)
  }

  /** STUB frame sampling: every `stride`-th chunk of the payload stands in
    * for a video frame — real chunked iteration, fake frame decode. */
  def stubFrameSample(df: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    val session = df.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("frame_no", IntegerType),
      StructField("frame", BinaryType)))
    val rdd = df.select(col("doc_id").cast("long"), col("payload")).rdd
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val frames = payload.grouped(frameBytes).zipWithIndex
          frames.collect { case (chunk, i) if i % stride == 0 => Row(id, i, chunk) }
        }
      }
    session.createDataFrame(rdd, schema)
  }

  // ---- image resize / audio frame-sample (the transform half of the ------
  // ---- multimodal surface: decode -> RESIZE / SAMPLE -> re-encode) -------

  val thumbW = 4
  val thumbH = 4

  val imageThumbSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("in_w", IntegerType),
    StructField("in_h", IntegerType),
    StructField("out_w", IntegerType),
    StructField("out_h", IntegerType),
    StructField("thumb_px", StringType),
    StructField("roundtrip_ok", IntegerType),
    StructField("thumb", BinaryType)))

  /** x104: thumbnail generation over REAL decoded pixels — the resize
    * member of the multimodal transform family (decode → nearest-neighbor
    * downsample → genuine PNG re-encode). The thumbnail grid samples
    * `sx = x·w/W, sy = y·h/H` (exact integer math; on the 9×8 fixture
    * that is pixel (2x, 2y)); `thumb_px` is the row-major gray vector as
    * a comma-joined string (injective, engine-comparable — the x20
    * qcode_str pattern), and `roundtrip_ok` re-decodes the emitted PNG
    * and compares pixels, certifying the ENCODE side too (PNG is
    * lossless, so any mismatch is a codec bug). Undecodable payloads
    * degrade to (-1, -1, null, 0, null).
    *
    * Scale: one decoder loop per partition, payload bytes never hit the
    * driver; the thumb payload column is for downstream sinks and is
    * dropped by the gated projection. */
  def imageThumbnails(df: DataFrame): DataFrame = {
    val session = df.sparkSession
    val (tw, th) = (thumbW, thumbH)
    val rdd = df.select(col("doc_id").cast("long"), col("payload")).rdd
      .mapPartitions(_.map { r =>
        imageIoMemCache
        val id = r.getLong(0)
        val img =
          try javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          catch { case _: Exception => null }
        if (img == null || img.getWidth < tw || img.getHeight < th)
          Row(id, if (img == null) -1 else img.getWidth,
            if (img == null) -1 else img.getHeight, tw, th, null, 0, null)
        else {
          val w = img.getWidth
          val h = img.getHeight
          val g = Array.ofDim[Int](tw * th)
          val thumb = new java.awt.image.BufferedImage(tw, th,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < th) {
            var x = 0
            while (x < tw) {
              val rgb = img.getRGB(x * w / tw, y * h / th)
              val gray = (((rgb >> 16) & 255) + ((rgb >> 8) & 255) + (rgb & 255)) / 3
              g(y * tw + x) = gray
              thumb.setRGB(x, y, (gray << 16) | (gray << 8) | gray)
              x += 1
            }
            y += 1
          }
          val out = new java.io.ByteArrayOutputStream(128)
          javax.imageio.ImageIO.write(thumb, "png", out)
          val png = out.toByteArray
          // decode the emitted PNG and compare: certifies the encoder
          val back = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(png))
          var ok = back != null && back.getWidth == tw && back.getHeight == th
          if (ok) {
            var i = 0
            while (ok && i < tw * th) {
              val rgb = back.getRGB(i % tw, i / tw)
              val gray = (((rgb >> 16) & 255) + ((rgb >> 8) & 255) + (rgb & 255)) / 3
              ok = gray == g(i)
              i += 1
            }
          }
          Row(id, w, h, tw, th, g.mkString(","), if (ok) 1 else 0, png)
        }
      })
    session.createDataFrame(rdd, imageThumbSchema)
  }

  /** DuckDB twin of imageThumbnails∘synthImageFixture: the thumbnail
    * pixels are predicted from the closed-form fixture function at the
    * sampled coordinates (2x, 2y) — a green row certifies decode,
    * resize arithmetic, AND the PNG re-encode round trip. */
  def imageThumbSql: String =
    s"""WITH tph AS (
       |  SELECT d.doc_id, xs.x, ys.y,
       |    xor((d.doc_id // 4) * 1000003 + (xs.x * 2) * 97 + (ys.y * 2) * 10007,
       |        ((d.doc_id // 4) * 1000003 + (xs.x * 2) * 97 + (ys.y * 2) * 10007) >> 7) AS h1
       |  FROM documents d
       |  CROSS JOIN generate_series(0, ${thumbW - 1}) AS xs(x)
       |  CROSS JOIN generate_series(0, ${thumbH - 1}) AS ys(y)
       |),
       |tpg AS (
       |  SELECT doc_id, x, y, CAST(xor(h1 * 31, h1 >> 11) % 256 AS INT) AS g0
       |  FROM tph
       |),
       |tpx AS (
       |  SELECT doc_id, x, y,
       |    CASE WHEN x * 2 = doc_id % 4 AND y * 2 = doc_id % 4
       |      THEN (g0 + 128) % 256 ELSE g0 END AS g
       |  FROM tpg
       |)
       |SELECT doc_id, CAST($imageW AS INT) AS in_w, CAST($imageH AS INT) AS in_h,
       |  CAST($thumbW AS INT) AS out_w, CAST($thumbH AS INT) AS out_h,
       |  string_agg(g, ',' ORDER BY y * $thumbW + x) AS thumb_px,
       |  CAST(1 AS INT) AS roundtrip_ok
       |FROM tpx
       |GROUP BY doc_id""".stripMargin

  val audioSampleSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_samples", IntegerType),
    StructField("n_sampled", IntegerType),
    StructField("sampled_px", StringType)))

  /** x105: PCM frame sampling (decimation) over REAL decoded samples —
    * the frame-sample member of the multimodal transform family: every
    * `k`-th sample of the decoded 16-bit stream, as a comma-joined
    * signed-value string. The shape a feature extractor consumes when it
    * wants a fixed-rate thumbnail of the waveform without resampling
    * filters. Non-PCM / truncated payloads degrade to (n, 0, null). */
  def audioSamples(df: DataFrame, k: Int = 13): DataFrame = {
    val session = df.sparkSession
    val rdd = df.select(col("doc_id").cast("long"), col("payload")).rdd
      .mapPartitions(_.map { r =>
        val id = r.getLong(0)
        val s = decodeWavSamples(r.getAs[Array[Byte]](1))
        val n = s.length
        if (n == 0) Row(id, 0, 0, null)
        else {
          val b = new StringBuilder
          var i = 0
          var m = 0
          while (i < n) {
            if (m > 0) b.append(',')
            b.append(s(i))
            m += 1
            i += k
          }
          Row(id, n, m, b.toString)
        }
      })
    session.createDataFrame(rdd, audioSampleSchema)
  }

  /** DuckDB twin of audioSamples∘synthAudioFpFixture — predicted sample
    * values at the decimated indices from the closed-form fixture. */
  def audioSamplesSql(k: Int = 13): String = {
    val n = audioFpWin * audioFpWinLen
    s"""WITH dsh AS (
       |  SELECT d.doc_id, ix.i,
       |    (d.doc_id // 4) * 1000003 + ix.i * 131 AS h0
       |  FROM documents d
       |  CROSS JOIN generate_series(0, ${n - 1}, $k) AS ix(i)
       |),
       |dsv AS (
       |  SELECT doc_id, i,
       |    CAST(xor(xor(h0, h0 >> 7) * 31, xor(h0, h0 >> 7) >> 11) % 256 AS BIGINT)
       |      + CASE WHEN i // $audioFpWinLen = doc_id % 4 THEN 512 ELSE 0 END AS s
       |  FROM dsh
       |)
       |SELECT doc_id, CAST($n AS INT) AS n_samples,
       |  CAST(count(*) AS INT) AS n_sampled,
       |  string_agg(s, ',' ORDER BY i) AS sampled_px
       |FROM dsv
       |GROUP BY doc_id""".stripMargin
  }
}
