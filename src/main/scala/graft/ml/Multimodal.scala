package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for a training-data pipeline: image/audio/video
  * payloads ride as opaque `binary` columns next to a typed metadata
  * struct; decode / feature-extract / resize / frame-sample are
  * per-partition batch operations.
  *
  * Decode status: header decoding is REAL and zero-dep for the common
  * containers — images via JDK `javax.imageio` ([[ImageIoDecoder]]),
  * audio via RIFF/WAVE ([[WavDecoder]]), FLAC STREAMINFO
  * ([[FlacDecoder]]), MP3 frame headers ([[Mp3Decoder]]) and
  * Ogg-contained Vorbis/Opus ([[OggDecoder]]); video via ISO-BMFF/MP4
  * ([[Mp4Decoder]]) and Matroska/WebM EBML ([[MkvDecoder]]); all
  * header-only (payload bytes skipped by size, cost independent of clip
  * length). [[HeaderDecoder]] dispatches on media_type + container
  * magic. The remaining stub boundary is codec-level work — pixel/PCM
  * decode, frame extraction — which needs an ffmpeg-class library this
  * container doesn't have: [[StubDecoder]] derives deterministic
  * md5-based fake features there, and `Decoder` is the seam where a
  * real transcoder would plug in. Everything Spark-side — schema,
  * partitioning, batch shape, shuffle behavior — is real and tested
  * either way.
  *
  * Scale notes:
  *   - binary payloads dominate row size, so ops that only need metadata
  *     select away `content` BEFORE any shuffle (column pruning does this
  *     automatically in a declarative plan — keep ops declarative).
  *   - `decodePartitions` is mapPartitions-shaped: one decoder instance
  *     per partition (libraries are expensive to init per row), streaming
  *     through rows without materializing the partition.
  */
object Multimodal {

  /** ImageIO's default ImageInputStream cache backs every read with a
    * temp FILE — at corpus scale that's a disk write-and-delete per
    * image decoded. For in-memory byte-array payloads the memory cache
    * is strictly better; disable once per JVM (touched at the top of
    * every image-handling partition closure, so executors get it too). */
  private lazy val imageIoNoDiskCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** Rows-per-task floor for the synthesizers' bare-id spread barriers
    * (graft.core.Spread r20 row-aware cap). Per-row synthesis cost here
    * is ~0.1–1 ms (header assembly / small-image encode), so a full
    * 32-way spread of a few-thousand-row fixture pays more in per-task
    * fixed cost than it wins in parallelism — measured on the r20
    * baseline sweep: q_image_phash 0.61 s at 32 post-spread partitions
    * vs 0.36 s at 8; q_multimodal_curate 0.73 vs 0.36 (and the r19
    * driver's 8-core run beat its 32-core run on this family, ratios
    * 0.55–0.59). 1024 rows/task lands the gate fixtures at ~7 tasks
    * while any corpus-scale input blows past the session pin and spreads
    * fully — scale-adaptive, never a constant. */
  private val SynthRowsPerTask = 1024L

  /** Typed metadata carried next to the opaque payload. */
  val metaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),
    StructField("byte_len", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("duration_ms", LongType),
    StructField("format", StringType)))

  /** Wrap a string column as a binary media payload (UTF-8 bytes) — the
    * test-fixture entry point given this environment has no real media
    * files. Real pipelines read payloads with `format("binaryFile")`. */
  def fromText(df: DataFrame, textCol: String, idCol: String,
      mediaType: Column = lit("image")): DataFrame =
    df.select(col(idCol).as("media_id"),
      col(textCol).cast("binary").as("content"),
      mediaType.as("media_type"))

  // ---- expression-level (codegen'd) fake decode ---------------------------

  /** Deterministic pseudo-decode: dimensions derived from the content md5.
    * A real decoder parses the image header instead — same output shape. */
  def decodeStub(df: DataFrame): DataFrame = {
    val m = md5(col("content"))
    df.withColumn("byte_len", length(col("content")).cast("long"))
      .withColumn("width",
        (conv(substring(m, 1, 4), 16, 10).cast("long") % 512 + 1).cast("int"))
      .withColumn("height",
        (conv(substring(m, 5, 4), 16, 10).cast("long") % 512 + 1).cast("int"))
      .withColumn("channels",
        (conv(substring(m, 9, 1), 16, 10).cast("long") % 4 + 1).cast("int"))
      .withColumn("content_md5", m)
  }

  /** Deterministic fake feature vector from the payload bytes: dim doubles
    * in [-1, 1) from seeded xxhash64 — the shape a real embedding model
    * would emit via batched inference in `decodePartitions`. */
  def featureStub(content: Column, dim: Int): Column =
    array((0 until dim).map(i =>
      (xxhash64(content, lit(i)).cast("double") / lit(Long.MaxValue.toDouble))): _*)

  /** Sample `n` fixed-width frames at evenly spaced byte offsets — the
    * frame-sampling access pattern of a video pipeline, over fake bytes. */
  def frameSampleStub(content: Column, n: Int, frameBytes: Int): Column = {
    val len = length(content)
    array((0 until n).map { i =>
      val off = (len - frameBytes) * i / math.max(n - 1, 1) + 1
      substring(content, greatest(off, lit(1)).cast("int"), lit(frameBytes))
    }: _*)
  }

  // ---- partition-level decode seam ---------------------------------------

  /** The seam for a real media library. One instance per partition. */
  trait Decoder extends Serializable {
    def decode(mediaType: String, content: Array[Byte]): Row // metaSchema row
  }

  /** Deterministic fake decoder — mirrors decodeStub's md5 arithmetic. */
  object StubDecoder extends Decoder {
    def decode(mediaType: String, content: Array[Byte]): Row = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(content).map(b => f"$b%02x").mkString
      def h(from: Int, len: Int, mod: Int): Int =
        (java.lang.Long.parseLong(hex.substring(from, from + len), 16) % mod + 1).toInt
      Row(mediaType, content.length.toLong, h(0, 4, 512), h(4, 4, 512),
        h(8, 1, 4), 16000, content.length.toLong * 1000 / 16000, "stub")
    }
  }

  /** REAL image decoder on JDK `javax.imageio` (no extra deps, works
    * offline): width/height/format come off the container header and
    * channels off the reader's advertised `ColorModel` — a header-only
    * parse, never a full pixel decode, so a 50 MB JPEG costs a few KB of
    * reads. Non-image media and undecodable bytes degrade to a
    * null-dims row (media_type + byte_len still populated) rather than
    * killing the partition — at corpus scale truncated payloads are a
    * certainty, and a null-dims row is filterable downstream. */
  object ImageIoDecoder extends Decoder {
    private def unreadable(mediaType: String, len: Long): Row =
      Row(mediaType, len, null, null, null, null, null, null)
    def decode(mediaType: String, content: Array[Byte]): Row =
      if (mediaType != "image") unreadable(mediaType, content.length.toLong)
      else try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(content))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) unreadable(mediaType, content.length.toLong)
          else {
            val r = readers.next()
            try {
              r.setInput(iis, true, true) // seekForward + ignoreMetadata
              val types = r.getImageTypes(0)
              val channels: Integer =
                if (types != null && types.hasNext)
                  Integer.valueOf(types.next().getColorModel.getNumComponents)
                else null
              Row("image", content.length.toLong,
                Integer.valueOf(r.getWidth(0)), Integer.valueOf(r.getHeight(0)),
                channels, null, null,
                r.getFormatName.toLowerCase(java.util.Locale.ROOT))
            } finally r.dispose()
          }
        } finally iis.close()
      } catch { // truncated/corrupt payload past the magic bytes
        case _: Exception => unreadable(mediaType, content.length.toLong)
      }
  }

  /** REAL audio header decoder for RIFF/WAVE payloads — a WAV header is a
    * fixed RIFF chunk walk, parseable in pure JDK with zero deps. Reads
    * `fmt ` (channels, sample rate, byte rate) and the `data` chunk SIZE
    * (header-only: the chunk walk skips payload bytes, so cost is
    * independent of clip length) and derives `duration_ms = data_bytes *
    * 1000 / byte_rate`. Non-audio media, non-WAV audio, and corrupt/
    * truncated headers degrade to the null-dims row, same contract as
    * [[ImageIoDecoder]]. */
  object WavDecoder extends Decoder {
    private def unreadable(mediaType: String, len: Long): Row =
      Row(mediaType, len, null, null, null, null, null, null)
    private def le32(b: Array[Byte], off: Int): Long =
      (b(off) & 0xffL) | (b(off + 1) & 0xffL) << 8 |
        (b(off + 2) & 0xffL) << 16 | (b(off + 3) & 0xffL) << 24
    private def le16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | (b(off + 1) & 0xff) << 8
    private def tag(b: Array[Byte], off: Int): String =
      new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    def decode(mediaType: String, content: Array[Byte]): Row = {
      val len = content.length.toLong
      if (mediaType != "audio" || content.length < 44 ||
          tag(content, 0) != "RIFF" || tag(content, 8) != "WAVE")
        return unreadable(mediaType, len)
      var channels: Integer = null
      var sampleRate: Integer = null
      var byteRate = 0L
      var dataBytes = -1L
      var off = 12
      // chunk walk: [4-byte id][4-byte LE size][payload (+pad to even)]
      while (off + 8 <= content.length && (channels == null || dataBytes < 0)) {
        val id = tag(content, off)
        val size = le32(content, off + 4)
        if (size > Int.MaxValue - 9L) return unreadable(mediaType, len)
        if (id == "fmt " && size >= 16 && off + 8 + 16 <= content.length) {
          channels = Integer.valueOf(le16(content, off + 10))
          sampleRate = Integer.valueOf(le32(content, off + 12).toInt)
          byteRate = le32(content, off + 16)
        } else if (id == "data") dataBytes = size
        off += 8 + size.toInt + (size % 2).toInt
      }
      if (channels == null || dataBytes < 0 || byteRate <= 0)
        unreadable(mediaType, len)
      else Row(mediaType, len, null, null, channels, sampleRate,
        java.lang.Long.valueOf(dataBytes * 1000L / byteRate), "wav")
    }
  }

  /** REAL audio header decoder for FLAC payloads — the STREAMINFO
    * metadata block is mandatory and first, so the parse is fixed-offset:
    * after the 4-byte magic and 4-byte block header, bytes 10-17 of the
    * block body pack `sample_rate(20) | channels-1(3) | bps-1(5) |
    * total_samples(36)` big-endian, and `duration_ms = total_samples *
    * 1000 / sample_rate`. Header-only (frames never read); corrupt or
    * non-FLAC bytes degrade to the null-dims row. */
  object FlacDecoder extends Decoder {
    private def unreadable(mediaType: String, len: Long): Row =
      Row(mediaType, len, null, null, null, null, null, null)
    def decode(mediaType: String, content: Array[Byte]): Row = {
      val len = content.length.toLong
      // magic + block header + 34-byte STREAMINFO
      if (mediaType != "audio" || content.length < 42 ||
          content(0) != 'f' || content(1) != 'L' ||
          content(2) != 'a' || content(3) != 'C' ||
          (content(4) & 0x7f) != 0) // first block must be STREAMINFO
        return unreadable(mediaType, len)
      var packed = 0L // body bytes 10-17, big-endian
      var i = 0
      while (i < 8) { packed = packed << 8 | (content(18 + i) & 0xffL); i += 1 }
      val sampleRate = (packed >>> 44).toInt
      val channels = ((packed >>> 41) & 0x7).toInt + 1
      val totalSamples = packed & ((1L << 36) - 1)
      if (sampleRate <= 0) unreadable(mediaType, len)
      else Row(mediaType, len, null, null, Integer.valueOf(channels),
        Integer.valueOf(sampleRate),
        java.lang.Long.valueOf(totalSamples * 1000L / sampleRate), "flac")
    }
  }

  /** Deterministic FLAC fixtures sharing [[synthesizeWavs]]'s id-derived
    * parameters (rate `8000 + (id % 8) * 1000`, samples `id % 2000 +
    * 100`), so the same oracle arithmetic gates both audio containers. */
  def synthesizeFlacs(df: DataFrame, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema(idCol).dataType),
      StructField("media_type", StringType),
      StructField("content", BinaryType)))
    val outEncoder = org.apache.spark.sql.Encoders.row(outSchema)
    // r19: spread the id projection before the per-row synthesis — the
    // single-row-group testdata parquet otherwise pins the whole encode
    // (and every downstream decode of the fixture) to one scan task.
    // Keyed repartition of bare ids: deterministic, negligible bytes.
    graft.core.Spread.byKey(df.select(idCol), col(s"`$idCol`"), SynthRowsPerTask).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Number](0).longValue
        val sampleRate = 8000L + (id % 8) * 1000
        val totalSamples = id % 2000 + 100
        val bb = java.nio.ByteBuffer.allocate(42) // BE default
        bb.put("fLaC".getBytes("US-ASCII"))
        bb.put(0x80.toByte).put(0.toByte).put(0.toByte).put(34.toByte) // last STREAMINFO, len 34
        bb.putShort(4096).putShort(4096) // min/max block size
        bb.put(0.toByte).put(0.toByte).put(0.toByte) // min frame size (unknown)
        bb.put(0.toByte).put(0.toByte).put(0.toByte) // max frame size
        // rate(20) | channels-1(3) | bps-1(5) | total_samples(36)
        bb.putLong(sampleRate << 44 | 0L << 41 | 15L << 36 | totalSamples)
        // md5 of the (absent) audio stream: zeros = "unknown" per spec
        // — and the 42-byte header IS the whole fixture (header-only parse)
        Row(r.get(0), "audio", bb.array())
      }
    }(outEncoder)
  }

  /** REAL audio header decoder for MP3 (MPEG-1 Layer III) payloads —
    * skips an optional ID3v2 tag (synchsafe length), validates the frame
    * sync, reads sample rate / channel mode off the 4-byte frame header,
    * and estimates `duration_ms = audio_bytes * 8 / bitrate` (exact for
    * CBR, the estimate every tag-less player shows for VBR). Header-only;
    * corrupt/unsupported (MPEG-2/2.5, other layers, bad indices) degrade
    * to the null-dims row. */
  object Mp3Decoder extends Decoder {
    // MPEG-1 Layer III bitrate table, kbps, index 1-14 (0/15 invalid)
    private val bitrateKbps = Array(0, 32, 40, 48, 56, 64, 80, 96,
      112, 128, 160, 192, 224, 256, 320, 0)
    private val sampleRates = Array(44100, 48000, 32000)
    private def unreadable(mediaType: String, len: Long): Row =
      Row(mediaType, len, null, null, null, null, null, null)
    def decode(mediaType: String, content: Array[Byte]): Row = {
      val len = content.length.toLong
      if (mediaType != "audio") return unreadable(mediaType, len)
      var off = 0
      if (content.length >= 10 && content(0) == 'I' && content(1) == 'D' &&
          content(2) == '3') {
        // ID3v2: 4 synchsafe size bytes (7 bits each) at offset 6
        var size = 0
        var i = 6
        while (i < 10) { size = size << 7 | (content(i) & 0x7f); i += 1 }
        off = 10 + size
      }
      if (off < 0 || off + 4 > content.length) return unreadable(mediaType, len)
      val b1 = content(off + 1) & 0xff
      val b2 = content(off + 2) & 0xff
      val b3 = content(off + 3) & 0xff
      val version = (b1 >> 3) & 3
      val layer = (b1 >> 1) & 3
      if ((content(off) & 0xff) != 0xff || (b1 & 0xe0) != 0xe0 ||
          version != 3 || layer != 1) // MPEG-1 Layer III only
        return unreadable(mediaType, len)
      val brIdx = (b2 >> 4) & 0xf
      val srIdx = (b2 >> 2) & 3
      if (brIdx == 0 || brIdx == 15 || srIdx == 3)
        return unreadable(mediaType, len)
      val channels = if (((b3 >> 6) & 3) == 3) 1 else 2
      val bitrateBps = bitrateKbps(brIdx) * 1000L
      Row(mediaType, len, null, null, Integer.valueOf(channels),
        Integer.valueOf(sampleRates(srIdx)),
        java.lang.Long.valueOf((len - off) * 8L * 1000L / bitrateBps), "mp3")
    }
  }

  /** Deterministic MP3 fixtures: one MPEG-1 Layer III frame header with
    * `bitrate_index = id % 14 + 1`, `sample_rate_index = id % 3`, mono,
    * followed by `id % 512 + 128` filler bytes — so the oracle predicts
    * sample_rate (table lookup) and the CBR duration estimate
    * arithmetically. */
  def synthesizeMp3s(df: DataFrame, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema(idCol).dataType),
      StructField("media_type", StringType),
      StructField("content", BinaryType)))
    val outEncoder = org.apache.spark.sql.Encoders.row(outSchema)
    // r19: spread the id projection before the per-row synthesis — the
    // single-row-group testdata parquet otherwise pins the whole encode
    // (and every downstream decode of the fixture) to one scan task.
    // Keyed repartition of bare ids: deterministic, negligible bytes.
    graft.core.Spread.byKey(df.select(idCol), col(s"`$idCol`"), SynthRowsPerTask).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Number](0).longValue
        val brIdx = (id % 14 + 1).toInt
        val srIdx = (id % 3).toInt
        val filler = (id % 512 + 128).toInt
        val bytes = new Array[Byte](4 + filler)
        bytes(0) = 0xff.toByte
        bytes(1) = 0xfb.toByte // sync | MPEG-1 | Layer III | no CRC
        bytes(2) = (brIdx << 4 | srIdx << 2).toByte
        bytes(3) = 0xc0.toByte // mono
        var i = 0
        while (i < filler) { // deterministic filler: content is f(id)
          bytes(4 + i) = ((id * 31 + i * 7) & 0xff).toByte
          i += 1
        }
        Row(r.get(0), "audio", bytes)
      }
    }(outEncoder)
  }

  /** REAL audio header decoder for Ogg-contained Vorbis and Opus — the
    * identification header is the first packet of the first (BOS) page,
    * reachable by a fixed page-header walk: `"OggS"` magic, 27-byte
    * header, segment table, then the packet. `\x01vorbis` carries
    * channels + sample_rate directly; `OpusHead` carries channels,
    * pre-skip and the input sample rate (Opus granules always tick at
    * 48 kHz regardless). Duration comes from the LAST page's granule
    * position — found by scanning backward for the final `"OggS"`, and
    * because an Ogg page is at most 27+255+255·255 ≈ 64 KB, the scan is
    * bounded to the payload tail: still header-only at corpus scale.
    * Vorbis: `duration_ms = granule * 1000 / sample_rate`; Opus:
    * `(granule - pre_skip) * 1000 / 48000`. Corrupt/truncated/non-Ogg
    * bytes degrade to the null-dims row, same contract as the other
    * decoders. */
  object OggDecoder extends Decoder {
    private def unreadable(mediaType: String, len: Long): Row =
      Row(mediaType, len, null, null, null, null, null, null)
    private def le16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | (b(off + 1) & 0xff) << 8
    private def le32(b: Array[Byte], off: Int): Long =
      (b(off) & 0xffL) | (b(off + 1) & 0xffL) << 8 |
        (b(off + 2) & 0xffL) << 16 | (b(off + 3) & 0xffL) << 24
    private def le64(b: Array[Byte], off: Int): Long =
      le32(b, off) | le32(b, off + 4) << 32
    private def isOggS(b: Array[Byte], off: Int): Boolean =
      b(off) == 'O' && b(off + 1) == 'g' && b(off + 2) == 'g' && b(off + 3) == 'S'
    /** Granule position of the last page: backward magic scan bounded to
      * one max-page-size window off the tail. */
    private def lastGranule(b: Array[Byte]): Long = {
      val floor = math.max(0, b.length - (27 + 255 + 255 * 255 + 4))
      var off = b.length - 14 // need magic + version + type + granule
      while (off >= floor) {
        if (isOggS(b, off) && b(off + 4) == 0) return le64(b, off + 6)
        off -= 1
      }
      -1L
    }
    def decode(mediaType: String, content: Array[Byte]): Row = {
      val len = content.length.toLong
      if (mediaType != "audio" || content.length < 58 ||
          !isOggS(content, 0) || content(4) != 0)
        return unreadable(mediaType, len)
      val nSegs = content(26) & 0xff
      val p = 27 + nSegs // first packet of the BOS page
      if (p + 19 > content.length) return unreadable(mediaType, len)
      val granule = lastGranule(content)
      if (granule < 0) return unreadable(mediaType, len)
      if (content(p) == 0x01 && content(p + 1) == 'v' && content(p + 2) == 'o' &&
          content(p + 3) == 'r' && content(p + 4) == 'b' &&
          content(p + 5) == 'i' && content(p + 6) == 's') {
        if (p + 16 > content.length) return unreadable(mediaType, len)
        val channels = content(p + 11) & 0xff
        val rate = le32(content, p + 12).toInt
        if (rate <= 0) return unreadable(mediaType, len)
        Row(mediaType, len, null, null, Integer.valueOf(channels),
          Integer.valueOf(rate),
          java.lang.Long.valueOf(granule * 1000L / rate), "vorbis")
      } else if (content(p) == 'O' && content(p + 1) == 'p' &&
          content(p + 2) == 'u' && content(p + 3) == 's' &&
          content(p + 4) == 'H' && content(p + 5) == 'e' &&
          content(p + 6) == 'a' && content(p + 7) == 'd') {
        val channels = content(p + 9) & 0xff
        val preSkip = le16(content, p + 10)
        val inputRate = le32(content, p + 12).toInt
        // Opus granules tick at 48 kHz independent of the input rate
        Row(mediaType, len, null, null, Integer.valueOf(channels),
          Integer.valueOf(inputRate),
          java.lang.Long.valueOf(math.max(0L, granule - preSkip) * 1000L / 48000L),
          "opus")
      } else unreadable(mediaType, len)
    }
  }

  /** Deterministic Ogg fixtures alternating codec by id parity: even →
    * Vorbis id header with `rate = 8000 + (id % 8) * 1000` and final
    * granule `id % 2000 + 100`; odd → Opus id header (input rate 48000,
    * pre-skip 312) with granule `(id % 2000 + 100) * 48 + 312`, so
    * `duration_ms` is exactly `id % 2000 + 100`. Two pages each: a BOS
    * page carrying the id packet and an EOS page carrying the granule. */
  def synthesizeOggs(df: DataFrame, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema(idCol).dataType),
      StructField("media_type", StringType),
      StructField("content", BinaryType)))
    val outEncoder = org.apache.spark.sql.Encoders.row(outSchema)
    // r19: spread the id projection before the per-row synthesis — the
    // single-row-group testdata parquet otherwise pins the whole encode
    // (and every downstream decode of the fixture) to one scan task.
    // Keyed repartition of bare ids: deterministic, negligible bytes.
    graft.core.Spread.byKey(df.select(idCol), col(s"`$idCol`"), SynthRowsPerTask).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Number](0).longValue
        val vorbis = id % 2 == 0
        val idPacket: Array[Byte] =
          if (vorbis) {
            val rate = (8000 + (id % 8) * 1000).toInt
            val bb = java.nio.ByteBuffer.allocate(30)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            bb.put(0x01.toByte).put("vorbis".getBytes("US-ASCII"))
            bb.putInt(0) // vorbis_version
            bb.put(1.toByte) // channels: mono
            bb.putInt(rate)
            bb.putInt(0).putInt(rate * 16).putInt(0) // bitrate max/nom/min
            bb.put(0xb8.toByte) // blocksizes 2^8 / 2^11
            bb.put(1.toByte) // framing bit
            bb.array()
          } else {
            val bb = java.nio.ByteBuffer.allocate(19)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            bb.put("OpusHead".getBytes("US-ASCII"))
            bb.put(1.toByte) // version
            bb.put(1.toByte) // channels: mono
            bb.putShort(312.toShort) // pre-skip
            bb.putInt(48000) // input sample rate
            bb.putShort(0.toShort) // output gain
            bb.put(0.toByte) // mapping family
            bb.array()
          }
        val granule =
          if (vorbis) id % 2000 + 100
          else (id % 2000 + 100) * 48 + 312
        def page(headerType: Int, gp: Long, seq: Int,
            packet: Array[Byte]): Array[Byte] = {
          val bb = java.nio.ByteBuffer.allocate(27 + 1 + packet.length)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.put("OggS".getBytes("US-ASCII")).put(0.toByte)
            .put(headerType.toByte).putLong(gp)
            .putInt((id & 0x7fffffff).toInt) // bitstream serial
            .putInt(seq).putInt(0) // CRC left zero: header-only parse
            .put(1.toByte).put(packet.length.toByte) // one-lace segment table
            .put(packet)
          bb.array()
        }
        val audioPayload = Array.tabulate((id % 32 + 4).toInt)(i =>
          ((id * 31 + i * 7) & 0xff).toByte) // deterministic: f(id)
        val content = page(0x02, 0L, 0, idPacket) ++
          page(0x04, granule, 1, audioPayload)
        Row(r.get(0), "audio", content)
      }
    }(outEncoder)
  }

  /** REAL video header decoder for MP4/ISO-BMFF payloads — the container
    * is a walk of big-endian `[4-byte size][4-byte type]` boxes, pure JDK.
    * Reads `moov/mvhd` (timescale + duration → `duration_ms`) and the
    * first `trak/tkhd` (16.16-fixed width/height). Header-only: `mdat`
    * (the actual frames, ~all the bytes at corpus scale) is skipped by
    * size, so cost is independent of clip length. Non-video media,
    * non-ISO-BMFF bytes, and truncated headers degrade to the null-dims
    * row, same contract as [[ImageIoDecoder]]/[[WavDecoder]]. */
  object Mp4Decoder extends Decoder {
    private def unreadable(mediaType: String, len: Long): Row =
      Row(mediaType, len, null, null, null, null, null, null)
    private def be32(b: Array[Byte], off: Int): Long =
      (b(off) & 0xffL) << 24 | (b(off + 1) & 0xffL) << 16 |
        (b(off + 2) & 0xffL) << 8 | (b(off + 3) & 0xffL)
    private def be64(b: Array[Byte], off: Int): Long =
      be32(b, off) << 32 | be32(b, off + 4)
    private def tag(b: Array[Byte], off: Int): String =
      new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    private case class Scan(var durationMs: java.lang.Long = null,
        var width: Integer = null, var height: Integer = null)
    /** Walk sibling boxes in [from, to); recurse into moov/trak. */
    private def walk(b: Array[Byte], from: Int, to: Int, s: Scan): Unit = {
      var off = from
      while (off + 8 <= to) {
        val size = be32(b, off)
        // size==1 means 64-bit extended size; size==0 means to-end-of-file
        val (boxSize, hdr) =
          if (size == 1 && off + 16 <= to) (be64(b, off + 8), 16)
          else if (size == 0) ((to - off).toLong, 8)
          else (size, 8)
        if (boxSize < hdr || boxSize > to - off) return // corrupt: stop
        val bodyOff = off + hdr
        val bodyEnd = off + boxSize.toInt
        tag(b, off + 4) match {
          case "moov" | "trak" => walk(b, bodyOff, bodyEnd, s)
          case "mvhd" if s.durationMs == null && bodyOff + 4 <= bodyEnd =>
            val v = b(bodyOff) & 0xff
            // v0: 4-byte times at body+12 (timescale) +16 (duration);
            // v1: 8-byte times, timescale still 4 bytes at body+20
            val (ts, dur) =
              if (v == 1 && bodyOff + 32 <= bodyEnd)
                (be32(b, bodyOff + 20), be64(b, bodyOff + 24))
              else if (v == 0 && bodyOff + 20 <= bodyEnd)
                (be32(b, bodyOff + 12), be32(b, bodyOff + 16))
              else (0L, 0L)
            if (ts > 0) s.durationMs = java.lang.Long.valueOf(dur * 1000L / ts)
          case "tkhd" if s.width == null =>
            val v = b(bodyOff) & 0xff
            // width/height: 16.16 fixed, after version+flags(4),
            // times+track_id+reserved+duration (20 v0 / 32 v1),
            // reserved(8), layer/group/volume/reserved(8), matrix(36)
            val dimOff = if (v == 1) bodyOff + 88 else bodyOff + 76
            if (dimOff + 8 <= bodyEnd) {
              s.width = Integer.valueOf((be32(b, dimOff) >> 16).toInt)
              s.height = Integer.valueOf((be32(b, dimOff + 4) >> 16).toInt)
            }
          case _ => ()
        }
        off = bodyEnd
      }
    }
    def decode(mediaType: String, content: Array[Byte]): Row = {
      val len = content.length.toLong
      if (mediaType != "video" || content.length < 16 ||
          tag(content, 4) != "ftyp") return unreadable(mediaType, len)
      val s = Scan()
      try walk(content, 0, content.length, s)
      catch { case _: IndexOutOfBoundsException => return unreadable(mediaType, len) }
      if (s.durationMs == null) unreadable(mediaType, len)
      else Row(mediaType, len, s.width, s.height, null, null, s.durationMs, "mp4")
    }
  }

  /** REAL video header decoder for Matroska/WebM payloads — the
    * container is EBML: `[varint id][varint size][body]` elements, where
    * the id keeps its length-marker bits and the size strips them. The
    * walk recurses only into the master elements on the path to what we
    * need — `Segment → Info` (TimestampScale, default 1 ms/tick, and the
    * float Duration → `duration_ms = duration * scale_ns / 1e6`) and
    * `Segment → Tracks → TrackEntry → Video` (PixelWidth/PixelHeight) —
    * and skips everything else (Clusters, i.e. all the frames) by size,
    * so cost is independent of clip length. An unknown-size Segment
    * (all-ones varint, what live-muxed streams emit) extends to
    * end-of-buffer. Corrupt/truncated/non-EBML bytes degrade to the
    * null-dims row. */
  object MkvDecoder extends Decoder {
    private def unreadable(mediaType: String, len: Long): Row =
      Row(mediaType, len, null, null, null, null, null, null)
    /** EBML id: leading-zero count of the first byte gives the length;
      * marker bits KEPT (ids are compared as stored). Returns -1 on
      * malformed/truncated. */
    private def readId(b: Array[Byte], off: Int, to: Int): (Long, Int) = {
      if (off >= to) return (-1L, 0)
      val first = b(off) & 0xff
      val n = Integer.numberOfLeadingZeros(first) - 24 + 1
      if (n < 1 || n > 4 || off + n > to) return (-1L, 0)
      var v = 0L
      var i = 0
      while (i < n) { v = v << 8 | (b(off + i) & 0xffL); i += 1 }
      (v, n)
    }
    /** EBML size: marker bit STRIPPED; all-ones payload = unknown size,
      * returned as -2. Returns -1 on malformed/truncated. */
    private def readSize(b: Array[Byte], off: Int, to: Int): (Long, Int) = {
      if (off >= to) return (-1L, 0)
      val first = b(off) & 0xff
      val n = Integer.numberOfLeadingZeros(first) - 24 + 1
      if (n < 1 || n > 8 || off + n > to) return (-1L, 0)
      var v = (first & (0xff >>> n)).toLong
      var i = 1
      while (i < n) { v = v << 8 | (b(off + i) & 0xffL); i += 1 }
      val allOnes = (1L << (7 * n)) - 1
      (if (v == allOnes) -2L else v, n)
    }
    private def beUint(b: Array[Byte], off: Int, len: Int): Long = {
      var v = 0L
      var i = 0
      while (i < len) { v = v << 8 | (b(off + i) & 0xffL); i += 1 }
      v
    }
    private case class Scan(var scaleNs: Long = 1000000L,
        var duration: java.lang.Double = null,
        var width: Integer = null, var height: Integer = null)
    // Master elements we recurse into (ids as stored, marker kept)
    private val SEGMENT = 0x18538067L
    private val INFO = 0x1549A966L
    private val TRACKS = 0x1654AE6BL
    private val TRACK_ENTRY = 0xAEL
    private val VIDEO = 0xE0L
    private def walk(b: Array[Byte], from: Int, to: Int, s: Scan): Unit = {
      var off = from
      while (off < to) {
        val (id, idLen) = readId(b, off, to)
        if (id < 0) return
        val (size, szLen) = readSize(b, off + idLen, to)
        if (size == -1L) return
        val bodyOff = off + idLen + szLen
        val bodyEnd =
          if (size == -2L) to // unknown size: runs to end of scope
          else if (size > to - bodyOff) return // truncated: stop
          else bodyOff + size.toInt
        id match {
          case SEGMENT | INFO | TRACKS | TRACK_ENTRY | VIDEO =>
            walk(b, bodyOff, bodyEnd, s)
          case 0x2AD7B1L => s.scaleNs = beUint(b, bodyOff, bodyEnd - bodyOff)
          case 0x4489L if s.duration == null =>
            val n = bodyEnd - bodyOff
            if (n == 4) s.duration = java.lang.Double.valueOf(
              java.lang.Float.intBitsToFloat(beUint(b, bodyOff, 4).toInt).toDouble)
            else if (n == 8) s.duration = java.lang.Double.valueOf(
              java.lang.Double.longBitsToDouble(beUint(b, bodyOff, 8)))
          case 0xB0L if s.width == null =>
            s.width = Integer.valueOf(beUint(b, bodyOff, bodyEnd - bodyOff).toInt)
          case 0xBAL if s.height == null =>
            s.height = Integer.valueOf(beUint(b, bodyOff, bodyEnd - bodyOff).toInt)
          case _ => ()
        }
        if (bodyEnd <= off) return // no forward progress: corrupt
        off = bodyEnd
      }
    }
    def decode(mediaType: String, content: Array[Byte]): Row = {
      val len = content.length.toLong
      if (mediaType != "video" || content.length < 8 ||
          (content(0) & 0xff) != 0x1A || (content(1) & 0xff) != 0x45 ||
          (content(2) & 0xff) != 0xDF || (content(3) & 0xff) != 0xA3)
        return unreadable(mediaType, len)
      val s = Scan()
      walk(content, 0, content.length, s)
      if (s.duration == null || s.scaleNs <= 0) unreadable(mediaType, len)
      else Row(mediaType, len, s.width, s.height, null, null,
        java.lang.Long.valueOf(
          (s.duration.doubleValue * s.scaleNs / 1e6).toLong), "webm")
    }
  }

  /** Deterministic Matroska/WebM fixtures, EBML twin of [[synthesizeMp4s]]
    * with the same id arithmetic: `duration_ms = id % 50000 + 600`
    * (TimestampScale 1 ms, Duration an 8-byte float), `width = id % 320 +
    * 16`, `height = id % 240 + 16`, plus a skipped filler element standing
    * in for Clusters — so the oracle predicts everything arithmetically
    * and only a genuine EBML walk reproduces it. */
  def synthesizeMkvs(df: DataFrame, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema(idCol).dataType),
      StructField("media_type", StringType),
      StructField("content", BinaryType)))
    val outEncoder = org.apache.spark.sql.Encoders.row(outSchema)
    // r19: spread the id projection before the per-row synthesis — the
    // single-row-group testdata parquet otherwise pins the whole encode
    // (and every downstream decode of the fixture) to one scan task.
    // Keyed repartition of bare ids: deterministic, negligible bytes.
    graft.core.Spread.byKey(df.select(idCol), col(s"`$idCol`"), SynthRowsPerTask).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Number](0).longValue
        val bb = java.nio.ByteBuffer.allocate(256) // BE default
        def id4(v: Long) = bb.putInt(v.toInt): Unit
        def sz1(v: Int) = bb.put((0x80 | v).toByte): Unit
        // EBML header: DocType "webm" only (readers skip unknown leaves)
        id4(0x1A45DFA3L); sz1(7)
        bb.putShort(0x4282.toShort); sz1(4)
        bb.put("webm".getBytes("US-ASCII"))
        // Segment body, sized after the fact
        id4(SEG_ID); sz1(0)
        val segSizeAt = bb.position() - 1
        val segStart = bb.position()
        // Info { TimestampScale = 1e6 ns, Duration = f64(id%50000+600) }
        id4(0x1549A966L); sz1(7 + 11) // TimestampScale(7) + Duration(11)
        bb.put(0x2A.toByte).put(0xD7.toByte).put(0xB1.toByte); sz1(3)
        bb.put(0x0F.toByte).putShort(0x4240.toShort) // 1_000_000
        bb.putShort(0x4489.toShort); sz1(8)
        bb.putDouble((id % 50000 + 600).toDouble)
        // Tracks { TrackEntry { Video { PixelWidth, PixelHeight } } }
        id4(0x1654AE6BL); sz1(12)
        bb.put(0xAE.toByte); sz1(10)
        bb.put(0xE0.toByte); sz1(8)
        bb.put(0xB0.toByte); sz1(2)
        bb.putShort((id % 320 + 16).toShort)
        bb.put(0xBA.toByte); sz1(2)
        bb.putShort((id % 240 + 16).toShort)
        // filler leaf (EBML Void, id 0xEC) the walker must skip by size —
        // stands in for Cluster frame data
        val fill = (id % 32 + 4).toInt
        bb.put(0xEC.toByte); sz1(fill)
        var i = 0
        while (i < fill) { bb.put(((id * 31 + i * 7) & 0xff).toByte); i += 1 }
        bb.put(segSizeAt, (0x80 | (bb.position() - segStart)).toByte)
        val content = java.util.Arrays.copyOf(bb.array(), bb.position())
        Row(r.get(0), "video", content)
      }
    }(outEncoder)
  }
  private val SEG_ID = 0x18538067L

  /** Dispatch on `media_type` for mixed corpora: images through the real
    * ImageIO header parse, audio by container magic (RIFF → WAV walk,
    * fLaC → STREAMINFO, ID3/sync → MP3 frame header, OggS →
    * Vorbis/Opus), video by magic (ftyp → ISO-BMFF box walk, EBML →
    * Matroska); anything else to the null-dims row. */
  object HeaderDecoder extends Decoder {
    def decode(mediaType: String, content: Array[Byte]): Row = mediaType match {
      case "image" => ImageIoDecoder.decode(mediaType, content)
      case "audio" =>
        if (content.length >= 4 && content(0) == 'f' && content(1) == 'L' &&
          content(2) == 'a' && content(3) == 'C') FlacDecoder.decode(mediaType, content)
        else if (content.length >= 4 && content(0) == 'O' && content(1) == 'g' &&
          content(2) == 'g' && content(3) == 'S') OggDecoder.decode(mediaType, content)
        else if (content.length >= 4 && ((content(0) == 'I' && content(1) == 'D' &&
          content(2) == '3') || ((content(0) & 0xff) == 0xff &&
          (content(1) & 0xe0) == 0xe0))) Mp3Decoder.decode(mediaType, content)
        else WavDecoder.decode(mediaType, content)
      case "video" =>
        if (content.length >= 4 && (content(0) & 0xff) == 0x1A &&
          (content(1) & 0xff) == 0x45 && (content(2) & 0xff) == 0xDF &&
          (content(3) & 0xff) == 0xA3) MkvDecoder.decode(mediaType, content)
        else Mp4Decoder.decode(mediaType, content)
      case _ => Row(mediaType, content.length.toLong,
        null, null, null, null, null, null)
    }
  }

  /** Deterministic WAV fixtures, the audio twin of [[synthesizeImages]]:
    * 16-bit mono PCM where `sample_rate = 8000 + (id % 8) * 1000` and
    * `n_samples = id % 2000 + 100` — so the oracle predicts
    * channels/sample_rate/duration_ms arithmetically and only a genuine
    * RIFF header parse reproduces them. */
  def synthesizeWavs(df: DataFrame, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema(idCol).dataType),
      StructField("media_type", StringType),
      StructField("content", BinaryType)))
    val outEncoder = org.apache.spark.sql.Encoders.row(outSchema)
    // r19: spread the id projection before the per-row synthesis — the
    // single-row-group testdata parquet otherwise pins the whole encode
    // (and every downstream decode of the fixture) to one scan task.
    // Keyed repartition of bare ids: deterministic, negligible bytes.
    graft.core.Spread.byKey(df.select(idCol), col(s"`$idCol`"), SynthRowsPerTask).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Number](0).longValue
        val sampleRate = (8000 + (id % 8) * 1000).toInt
        val nSamples = (id % 2000 + 100).toInt
        val dataBytes = nSamples * 2
        val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
          .put("WAVE".getBytes("US-ASCII"))
        bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
          .putShort(1).putShort(1) // PCM, mono
          .putInt(sampleRate).putInt(sampleRate * 2) // byte rate = sr * 2
          .putShort(2).putShort(16) // block align, bits/sample
        bb.put("data".getBytes("US-ASCII")).putInt(dataBytes)
        var i = 0
        while (i < nSamples) { // deterministic samples: content is f(id)
          bb.putShort(((id * 31 + i * 7) & 0xffff).toShort)
          i += 1
        }
        Row(r.get(0), "audio", bb.array())
      }
    }(outEncoder)
  }

  /** Deterministic MP4 fixtures, the video twin of [[synthesizeWavs]]:
    * a minimal ISO-BMFF container (`ftyp` + `moov[mvhd + trak[tkhd]]` +
    * a small `mdat`) where `timescale = 600 + (id % 4) * 200`,
    * `duration_units = id % 50000 + 600`, `width = id % 320 + 16`,
    * `height = id % 240 + 16` — so the oracle predicts
    * `duration_ms = units * 1000 // timescale` and the dims
    * arithmetically, and only a genuine box walk reproduces them. */
  def synthesizeMp4s(df: DataFrame, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema(idCol).dataType),
      StructField("media_type", StringType),
      StructField("content", BinaryType)))
    val outEncoder = org.apache.spark.sql.Encoders.row(outSchema)
    // r19: spread the id projection before the per-row synthesis — the
    // single-row-group testdata parquet otherwise pins the whole encode
    // (and every downstream decode of the fixture) to one scan task.
    // Keyed repartition of bare ids: deterministic, negligible bytes.
    graft.core.Spread.byKey(df.select(idCol), col(s"`$idCol`"), SynthRowsPerTask).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Number](0).longValue
        val timescale = (600 + (id % 4) * 200).toInt
        val duration = (id % 50000 + 600).toInt
        val (w, h) = ((id % 320 + 16).toInt, (id % 240 + 16).toInt)
        val mdatBytes = (id % 64 + 8).toInt
        val bb = java.nio.ByteBuffer // big-endian default
          .allocate(20 + 8 + 108 + 8 + 92 + 8 + mdatBytes)
        def fourcc(s: String) = bb.put(s.getBytes("US-ASCII")): Unit
        // ftyp
        bb.putInt(20); fourcc("ftyp"); fourcc("isom"); bb.putInt(0); fourcc("isom")
        // moov wraps mvhd(108) + trak(8+92)
        bb.putInt(8 + 108 + 8 + 92); fourcc("moov")
        bb.putInt(108); fourcc("mvhd")
        bb.putInt(0) // version 0 + flags
        bb.putInt(0).putInt(0) // creation, modification
        bb.putInt(timescale).putInt(duration)
        bb.putInt(0x00010000).putShort(0x0100.toShort).putShort(0) // rate, volume, reserved
        bb.putInt(0).putInt(0) // reserved
        Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
          .foreach(bb.putInt) // identity matrix
        (0 until 6).foreach(_ => bb.putInt(0)) // pre_defined
        bb.putInt(2) // next_track_ID
        bb.putInt(8 + 92); fourcc("trak")
        bb.putInt(92); fourcc("tkhd")
        bb.putInt(0x000007) // version 0 + enabled flags
        bb.putInt(0).putInt(0) // creation, modification
        bb.putInt(1).putInt(0) // track_ID, reserved
        bb.putInt(duration)
        bb.putInt(0).putInt(0) // reserved
        bb.putShort(0).putShort(0).putShort(0).putShort(0) // layer, group, volume, reserved
        Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
          .foreach(bb.putInt)
        bb.putInt(w << 16).putInt(h << 16) // 16.16 fixed
        // mdat: deterministic filler the decoder must SKIP by size
        bb.putInt(8 + mdatBytes); fourcc("mdat")
        var i = 0
        while (i < mdatBytes) { bb.put(((id * 31 + i * 7) & 0xff).toByte); i += 1 }
        Row(r.get(0), "video", bb.array())
      }
    }(outEncoder)
  }

  /** Deterministic MP4 fixtures WITH a real sample table: `ftyp` +
    * `moov[mvhd + trak[tkhd + mdia[minf[stbl[stsz + stco]]]]]` + `mdat`
    * where frame f of `n_frames = id % 24 + 4` has
    * `size_f = (id*7 + f*13) % 200 + 20` bytes, byte j of frame f is
    * `(id*11 + f*17 + j*5) % 251`, and `stco` carries one absolute file
    * offset per frame — everything a container-level frame sampler
    * needs, all pure f(id) so the oracle can re-derive offsets, sizes,
    * and payload checksums arithmetically. */
  def synthesizeMp4sSampled(df: DataFrame, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema(idCol).dataType),
      StructField("media_type", StringType),
      StructField("content", BinaryType)))
    val outEncoder = org.apache.spark.sql.Encoders.row(outSchema)
    // r19: spread the id projection before the per-row synthesis — the
    // single-row-group testdata parquet otherwise pins the whole encode
    // (and every downstream decode of the fixture) to one scan task.
    // Keyed repartition of bare ids: deterministic, negligible bytes.
    graft.core.Spread.byKey(df.select(idCol), col(s"`$idCol`"), SynthRowsPerTask).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Number](0).longValue
        val nf = (id % 24 + 4).toInt
        def fsize(f: Int): Int = ((id * 7 + f * 13) % 200 + 20).toInt
        val sizes = (0 until nf).map(fsize)
        val mdatPayload = sizes.sum
        val stszLen = 20 + 4 * nf
        val stcoLen = 16 + 4 * nf
        val stblLen = 8 + stszLen + stcoLen
        val minfLen = 8 + stblLen
        val mdiaLen = 8 + minfLen
        val trakLen = 8 + 92 + mdiaLen
        val moovLen = 8 + 108 + trakLen
        val mdatStart = 20 + moovLen + 8 // first payload byte (abs offset)
        val bb = java.nio.ByteBuffer.allocate(20 + moovLen + 8 + mdatPayload)
        def fourcc(s: String) = bb.put(s.getBytes("US-ASCII")): Unit
        bb.putInt(20); fourcc("ftyp"); fourcc("isom"); bb.putInt(0); fourcc("isom")
        bb.putInt(moovLen); fourcc("moov")
        bb.putInt(108); fourcc("mvhd")
        bb.putInt(0); bb.putInt(0).putInt(0)
        bb.putInt(600).putInt(nf * 100) // timescale, duration
        bb.putInt(0x00010000).putShort(0x0100.toShort).putShort(0)
        bb.putInt(0).putInt(0)
        Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000).foreach(bb.putInt)
        (0 until 6).foreach(_ => bb.putInt(0))
        bb.putInt(2)
        bb.putInt(trakLen); fourcc("trak")
        bb.putInt(92); fourcc("tkhd")
        bb.putInt(0x000007); bb.putInt(0).putInt(0)
        bb.putInt(1).putInt(0); bb.putInt(nf * 100)
        bb.putInt(0).putInt(0)
        bb.putShort(0).putShort(0).putShort(0).putShort(0)
        Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000).foreach(bb.putInt)
        bb.putInt(320 << 16).putInt(240 << 16)
        bb.putInt(mdiaLen); fourcc("mdia")
        bb.putInt(minfLen); fourcc("minf")
        bb.putInt(stblLen); fourcc("stbl")
        bb.putInt(stszLen); fourcc("stsz")
        bb.putInt(0) // version/flags
        bb.putInt(0) // sample_size = 0 -> per-sample table follows
        bb.putInt(nf)
        sizes.foreach(bb.putInt)
        bb.putInt(stcoLen); fourcc("stco")
        bb.putInt(0)
        bb.putInt(nf)
        var acc = mdatStart
        sizes.foreach { sz => bb.putInt(acc); acc += sz }
        bb.putInt(8 + mdatPayload); fourcc("mdat")
        var f = 0
        while (f < nf) {
          var j = 0
          val sz = sizes(f)
          while (j < sz) {
            bb.put(((id * 11 + f * 17 + j * 5) % 251).toByte)
            j += 1
          }
          f += 1
        }
        Row(r.get(0), "video", bb.array())
      }
    }(outEncoder)
  }

  /** REAL container-level frame sampling: walk
    * `moov→trak→mdia→minf→stbl`, read the `stsz` per-sample sizes and
    * `stco` chunk offsets, pick `n` evenly spaced frames
    * (`f_k = k*(nf-1)/(n-1)`), and slice each frame's ACTUAL bytes out
    * of the payload — the access pattern of a video training pipeline
    * (sample k frames per clip for a vision encoder), minus only the
    * codec: what comes out is the exact on-disk frame range, checksummed
    * here (`byte_sum`) because this container has no decoder to hand
    * the bytes to. Header walk + n range reads per clip — cost is
    * O(frames sampled), never O(clip length). Corrupt/truncated/
    * non-MP4 payloads emit zero rows (degrade, don't throw). */
  def sampleFrames(df: DataFrame, n: Int): DataFrame = {
    require(n >= 1, "must sample at least one frame")
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema("media_id").dataType),
      StructField("k", IntegerType),
      StructField("frame_idx", IntegerType),
      StructField("frame_offset", LongType),
      StructField("frame_size", IntegerType),
      StructField("byte_sum", LongType)))
    val outEncoder = org.apache.spark.sql.Encoders.row(outSchema)
    df.select("media_id", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        val b = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        val idx = if (b == null) null else frameIndex(b)
        if (idx == null || idx._1.length == 0) Iterator.empty
        else {
          val (sizes, offsets) = idx
          val nf = sizes.length
          (0 until n).iterator.map { k =>
            val f = if (n == 1) 0 else (k.toLong * (nf - 1) / (n - 1)).toInt
            val off = offsets(f)
            val sz = sizes(f)
            var sum = 0L
            var j = 0
            val end = math.min(off + sz, b.length.toLong).toInt
            var p = off.toInt
            while (p < end) { sum += b(p) & 0xff; p += 1 }
            Row(r.get(0), Integer.valueOf(k), Integer.valueOf(f),
              java.lang.Long.valueOf(off), Integer.valueOf(sz),
              java.lang.Long.valueOf(sum))
          }
        }
      }
    }(outEncoder)
  }

  /** stsz sizes + stco offsets from the stbl, or null when the walk
    * fails anywhere (non-MP4, truncated, sizes lying past the buffer). */
  private def frameIndex(b: Array[Byte]): (Array[Int], Array[Long]) = {
    def be32(off: Int): Long =
      if (off + 4 > b.length) -1L
      else (b(off) & 0xffL) << 24 | (b(off + 1) & 0xffL) << 16 |
        (b(off + 2) & 0xffL) << 8 | (b(off + 3) & 0xffL)
    def tag(off: Int): String =
      if (off + 4 > b.length) ""
      else new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    // find child box `name` in [from, to); returns body range or null
    def child(from: Long, to: Long, name: String): (Long, Long) = {
      var off = from
      while (off + 8 <= to) {
        val size = be32(off.toInt)
        if (size < 8) return null
        if (tag(off.toInt + 4) == name) {
          val end = math.min(off + size, to)
          return (off + 8, end)
        }
        off += size
      }
      null
    }
    try {
      var stbl = child(0L, b.length.toLong, "moov")
      for (name <- Seq("trak", "mdia", "minf", "stbl") if stbl != null)
        stbl = child(stbl._1, stbl._2, name)
      if (stbl == null) return null
      val stsz = child(stbl._1, stbl._2, "stsz")
      val stco = child(stbl._1, stbl._2, "stco")
      if (stsz == null || stco == null) return null
      val uniform = be32(stsz._1.toInt + 4)
      val nSz = be32(stsz._1.toInt + 8)
      val nCo = be32(stco._1.toInt + 4)
      if (nSz < 0 || nSz != nCo || nSz > (b.length / 4) + 1) return null
      val n = nSz.toInt
      val sizes = new Array[Int](n)
      val offsets = new Array[Long](n)
      var i = 0
      while (i < n) {
        sizes(i) =
          if (uniform != 0) uniform.toInt else be32(stsz._1.toInt + 12 + 4 * i).toInt
        offsets(i) = be32(stco._1.toInt + 8 + 4 * i)
        if (sizes(i) < 0 || offsets(i) < 0) return null
        i += 1
      }
      (sizes, offsets)
    } catch { case _: Exception => null }
  }

  /** Deterministic PNG fixtures at corpus scale: one `(id % 64 + 1) ×
    * (id % 48 + 1)` RGB image per row, encoded per-partition (the encode
    * twin of [[decodePartitions]] — same one-library-instance-per-
    * partition shape a real transcoder needs). Exists because this
    * container ships no media files; the oracle can predict the decoded
    * dims from the id alone, which is what makes [[ImageIoDecoder]]
    * gateable: only a real header parse reproduces them. */
  def synthesizeImages(df: DataFrame, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema(idCol).dataType),
      StructField("media_type", StringType),
      StructField("content", BinaryType)))
    val outEncoder = org.apache.spark.sql.Encoders.row(outSchema)
    // r19: spread the id projection before the per-row synthesis — the
    // single-row-group testdata parquet otherwise pins the whole encode
    // (and every downstream decode of the fixture) to one scan task.
    // Keyed repartition of bare ids: deterministic, negligible bytes.
    graft.core.Spread.byKey(df.select(idCol), col(s"`$idCol`"), SynthRowsPerTask).mapPartitions { rows =>
      imageIoNoDiskCache
      rows.map { r =>
        val id = r.getAs[Number](0).longValue
        val (w, h) = ((id % 64 + 1).toInt, (id % 48 + 1).toInt)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        // bulk setRGB: one ColorModel call per image, not per pixel —
        // identical raster (same ARGB->BGR conversion path)
        val px = new Array[Int](w * h)
        var y = 0
        while (y < h) { // deterministic pixels: content is a pure f(id)
          var x = 0
          while (x < w) {
            px(y * w + x) = ((id * 2654435761L + x * 31 + y) & 0xffffff).toInt
            x += 1
          }
          y += 1
        }
        img.setRGB(0, 0, w, h, px, 0, w)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Row(r.get(0), "image", bos.toByteArray)
      }
    }(outEncoder)
  }

  // ---- pixel/PCM-level decode: the codec layer ---------------------------

  /** Deterministic PNG *variant* fixtures for perceptual-hash dedup:
    * ids sharing `seed = id % 127` render the SAME scene (dims and base
    * pixels pure functions of the seed) at one of three brightness
    * offsets `delta = (id / 127 % 3) * 6` added to every channel.
    * Channels are synthesized `< 224` so `+delta ≤ 12` never clamps —
    * the shift stays exactly linear, which is what lets the oracle
    * reason about it arithmetically. Variant bytes (and md5s) differ,
    * but a brightness-invariant perceptual hash must collide them —
    * the near-dup-image case a 100 TB crawl corpus is full of
    * (same picture re-encoded/re-exposed on different pages). */
  def synthesizeImageVariants(df: DataFrame, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema(idCol).dataType),
      StructField("media_type", StringType),
      StructField("content", BinaryType)))
    val outEncoder = org.apache.spark.sql.Encoders.row(outSchema)
    // r19: spread the id projection before the per-row synthesis — the
    // single-row-group testdata parquet otherwise pins the whole encode
    // (and every downstream decode of the fixture) to one scan task.
    // Keyed repartition of bare ids: deterministic, negligible bytes.
    graft.core.Spread.byKey(df.select(idCol), col(s"`$idCol`"), SynthRowsPerTask).mapPartitions { rows =>
      imageIoNoDiskCache
      rows.map { r =>
        val id = r.getAs[Number](0).longValue
        val seed = id % 127
        val delta = (id / 127 % 3).toInt * 6
        val (w, h) = ((seed % 64 + 8).toInt, (seed % 48 + 8).toInt)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        val px = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val hv = seed * 2654435761L + x * 131L + y * 7L
            val rC = (((hv >> 16) & 0xff) % 224).toInt + delta
            val gC = (((hv >> 8) & 0xff) % 224).toInt + delta
            val bC = ((hv & 0xff) % 224).toInt + delta
            px(y * w + x) = rC << 16 | gC << 8 | bC
            x += 1
          }
          y += 1
        }
        img.setRGB(0, 0, w, h, px, 0, w)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Row(r.get(0), "image", bos.toByteArray)
      }
    }(outEncoder)
  }

  /** Pixel-stat struct emitted by [[decodeImagePixels]]. */
  val pixelSchema: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("px_sum", LongType),
    StructField("ahash_hi", LongType),
    StructField("ahash_lo", LongType),
    StructField("dhash_hi", LongType),
    StructField("dhash_lo", LongType)))

  /** REAL pixel decode → perceptual average-hash (aHash). Unlike the
    * header decoders this reads EVERY pixel: `ImageIO.read` (pure JDK,
    * lossless for PNG) → full-image channel sum (`px_sum`, proof the
    * whole raster was decoded) → an 8×8 grid sampled at
    * `(i*w/8, j*h/8)` with integer gray `r+g+b`, one hash bit per cell
    * set iff `64*gray > total` — all-integer arithmetic, so the hash is
    * bit-reproducible anywhere, and a uniform per-channel brightness
    * shift d moves every gray by 3d and the total by 192d: bits are
    * invariant, which is exactly the near-dup robustness aHash is for.
    * The 64 bits ride as two 32-bit halves (`ahash_hi`/`ahash_lo`)
    * because signed-64 `1<<63` overflows in engines with checked
    * arithmetic (the DuckDB oracle among them).
    * Corrupt/non-image bytes → null struct, same degradation contract
    * as the header decoders. Output is metadata-only — payload bytes
    * die here, so the hash groupBy that follows shuffles 16-byte rows,
    * not the corpus. */
  def decodeImagePixels(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema("media_id").dataType),
      StructField("px", pixelSchema)))
    val outEncoder = org.apache.spark.sql.Encoders.row(outSchema)
    df.select("media_id", "content").mapPartitions { rows =>
      imageIoNoDiskCache
      rows.map { r =>
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        val img =
          try {
            if (bytes == null) null
            else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          } catch { case _: Exception => null }
        if (img == null) Row(r.get(0), null)
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          // ONE bulk getRGB per image instead of w*h per-pixel calls:
          // same ColorModel conversion, identical ARGB values, ~8x less
          // call overhead on the small-image corpus
          val px = img.getRGB(0, 0, w, h, null, 0, w)
          var pxSum = 0L
          var n = 0
          while (n < px.length) {
            val p = px(n)
            pxSum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
            n += 1
          }
          val g = new Array[Long](64)
          var tot = 0L
          var j = 0
          while (j < 8) {
            var i = 0
            while (i < 8) {
              val p = px((j * h / 8) * w + (i * w / 8))
              val v = ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
              g(j * 8 + i) = v
              tot += v
              i += 1
            }
            j += 1
          }
          var hash = 0L
          var k = 0
          while (k < 64) {
            if (64L * g(k) > tot) hash |= 1L << k
            k += 1
          }
          // dHash on a 9×8 grid: bit (j*8+i) = gray right-neighbor
          // strictly brighter — gradient signs survive any monotone
          // global tone change (brightness AND contrast), the standard
          // complement to aHash's mean-threshold
          var dhash = 0L
          j = 0
          while (j < 8) {
            val y = j * h / 8
            var prev = {
              val p = px(y * w)
              ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
            }
            var i = 1
            while (i <= 8) {
              val p = px(y * w + i * w / 9)
              val cur = ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
              if (cur > prev) dhash |= 1L << (j * 8 + i - 1)
              prev = cur
              i += 1
            }
            j += 1
          }
          Row(r.get(0), Row(Integer.valueOf(w), Integer.valueOf(h),
            java.lang.Long.valueOf(pxSum),
            java.lang.Long.valueOf(hash >>> 32),
            java.lang.Long.valueOf(hash & 0xffffffffL),
            java.lang.Long.valueOf(dhash >>> 32),
            java.lang.Long.valueOf(dhash & 0xffffffffL)))
        }
      }
    }(outEncoder)
  }

  /** REAL image resize: decode → box-filter area-average downscale →
    * re-encode PNG. Output pixel (i,j) averages the input block
    * `[i*w/outW, (i+1)*w/outW) × [j*h/outH, (j+1)*h/outH)` with
    * per-channel integer division — all-integer, so the resized raster
    * is bit-reproducible and oracle-derivable, unlike
    * `Image.getScaledInstance` whose filter kernels are unspecified.
    * One pass over the input raster (each input pixel lands in exactly
    * one block); images already at-or-below the target in either
    * dimension pass through unchanged (downscale-only — thumbnail
    * semantics; a 100 TB corpus pass must never inflate payloads).
    * Undecodable bytes pass through unchanged too, preserving the
    * degrade-don't-throw contract. */
  /** Smooth synthetic images (directional integer gradients, orientation
    * and ramp per id) for the LOSSY-transcode fixtures: perceptual-hash
    * bits over smooth content are stable under JPEG re-encode — the
    * natural-image property the hashes rely on — where the noise fixture
    * ([[synthesizeImageVariants]]) flips up to half its aHash bits at
    * quality 0.9 (every cell average sits at the corpus mean; measured).
    * Deterministic integer arithmetic only, so oracles can re-derive
    * dimensions and the Spark side must really decode to match. */
  def synthesizeSmoothImages(df: DataFrame, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema(idCol).dataType),
      StructField("media_type", StringType),
      StructField("content", BinaryType)))
    val outEncoder = org.apache.spark.sql.Encoders.row(outSchema)
    // r19: spread the id projection before the per-row synthesis — the
    // single-row-group testdata parquet otherwise pins the whole encode
    // (and every downstream decode of the fixture) to one scan task.
    // Keyed repartition of bare ids: deterministic, negligible bytes.
    graft.core.Spread.byKey(df.select(idCol), col(s"`$idCol`"), SynthRowsPerTask).mapPartitions { rows =>
      imageIoNoDiskCache
      rows.map { r =>
        val id = r.getAs[Number](0).longValue
        val seed = id % 127
        val (w, h) = ((seed % 64 + 8).toInt, (seed % 48 + 8).toInt)
        // a brightness pyramid whose apex position is a function of the
        // id: low-frequency (JPEG-robust) yet hash-DISCRIMINATING —
        // aHash/dHash bits follow the apex, so distinct ids hash apart
        // while a lossy re-encode of the same id collides
        val cx = ((id * 7 + 3) % w).toInt
        val cy = ((id * 11 + 5) % h).toInt
        val base = (id % 97).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        val px = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val d = math.abs(x - cx) * 200 / w + math.abs(y - cy) * 160 / h
            val v = (230 - d).max(0)
            val rC = (base / 3 + v).min(255)
            val gC = (base / 2 + v * 3 / 4).min(255)
            val bC = (base + v / 2).min(255)
            px(y * w + x) = rC << 16 | gC << 8 | bC
            x += 1
          }
          y += 1
        }
        img.setRGB(0, 0, w, h, px, 0, w)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Row(r.get(0), "image", bos.toByteArray)
      }
    }(outEncoder)
  }

  /** Re-encode every decodable image to `format` ("jpg", "png", "gif",
    * "bmp" — whatever the JDK's ImageIO writes) at `quality` (lossy
    * formats only; NaN = writer default). The web-crawl near-dup shape:
    * the SAME picture re-encoded lossily is byte-distinct and
    * raster-nonidentical, yet must collide perceptually — pair this with
    * [[decodeImagePixels]] to prove the hash path across formats.
    * Undecodable bytes pass through unchanged (degrade-don't-throw);
    * decode+encode both run inside the one mapPartitions, payload never
    * crossing an exchange. */
  def transcodeImages(df: DataFrame, format: String,
      quality: Float = Float.NaN): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema("media_id").dataType),
      StructField("media_type", StringType),
      StructField("content", BinaryType)))
    val outEncoder = org.apache.spark.sql.Encoders.row(outSchema)
    df.select("media_id", "media_type", "content").mapPartitions { rows =>
      imageIoNoDiskCache
      rows.map { r =>
        val bytes = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
        val img =
          try {
            if (bytes == null) null
            else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          } catch { case _: Exception => null }
        if (img == null) Row(r.get(0), r.get(1), bytes)
        else {
          // JPEG writers reject images with alpha; normalize to 3BYTE_BGR
          val rgb =
            if (img.getType == java.awt.image.BufferedImage.TYPE_3BYTE_BGR) img
            else {
              val c = new java.awt.image.BufferedImage(img.getWidth,
                img.getHeight, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
              val g = c.createGraphics(); g.drawImage(img, 0, 0, null)
              g.dispose(); c
            }
          val bos = new java.io.ByteArrayOutputStream()
          val writer = javax.imageio.ImageIO
            .getImageWritersByFormatName(format).next()
          val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
          writer.setOutput(ios)
          val params = writer.getDefaultWriteParam
          if (!quality.isNaN && params.canWriteCompressed) {
            params.setCompressionMode(
              javax.imageio.ImageWriteParam.MODE_EXPLICIT)
            params.setCompressionQuality(quality)
          }
          writer.write(null,
            new javax.imageio.IIOImage(rgb, null, null), params)
          writer.dispose(); ios.close()
          Row(r.get(0), "image", bos.toByteArray)
        }
      }
    }(outEncoder)
  }

  def resizeImages(df: DataFrame, outW: Int, outH: Int): DataFrame = {
    require(outW > 0 && outH > 0, "resize target must be positive")
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema("media_id").dataType),
      StructField("media_type", StringType),
      StructField("content", BinaryType)))
    val outEncoder = org.apache.spark.sql.Encoders.row(outSchema)
    df.select("media_id", "media_type", "content").mapPartitions { rows =>
      imageIoNoDiskCache
      rows.map { r =>
        val bytes = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
        val img =
          try {
            if (bytes == null) null
            else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          } catch { case _: Exception => null }
        // pass through when a dim is below target (never upscale) OR the
        // image is EXACTLY at target: re-encoding an untouched image to
        // PNG changes its bytes (breaking content-hash dedup downstream)
        // and typically inflates a compressed JPEG severalfold
        if (img == null || img.getWidth < outW || img.getHeight < outH ||
            (img.getWidth == outW && img.getHeight == outH))
          Row(r.get(0), r.get(1), bytes)
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          val out = new java.awt.image.BufferedImage(
            outW, outH, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          // bulk pixel transfer both ways (see decodeImagePixels): same
          // conversion path as per-pixel get/setRGB, identical values
          val in = img.getRGB(0, 0, w, h, null, 0, w)
          val op = new Array[Int](outW * outH)
          var j = 0
          while (j < outH) {
            val y0 = j * h / outH
            val y1 = (j + 1) * h / outH
            var i = 0
            while (i < outW) {
              val x0 = i * w / outW
              val x1 = (i + 1) * w / outW
              var rs = 0L; var gs = 0L; var bs = 0L
              var y = y0
              while (y < y1) {
                var x = x0
                while (x < x1) {
                  val p = in(y * w + x)
                  rs += (p >> 16) & 0xff; gs += (p >> 8) & 0xff; bs += p & 0xff
                  x += 1
                }
                y += 1
              }
              val n = (x1 - x0).toLong * (y1 - y0)
              op(j * outW + i) =
                ((rs / n) << 16 | (gs / n) << 8 | (bs / n)).toInt
              i += 1
            }
            j += 1
          }
          out.setRGB(0, 0, outW, outH, op, 0, outW)
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          Row(r.get(0), r.get(1), bos.toByteArray)
        }
      }
    }(outEncoder)
  }

  /** PCM-stat struct emitted by [[decodeWavPcm]]. */
  val pcmSchema: StructType = StructType(Seq(
    StructField("n_samples", LongType),
    StructField("sum_sq", LongType),
    StructField("peak", IntegerType),
    StructField("zero_cross", LongType)))

  /** REAL PCM decode for 16-bit WAV payloads: walk the RIFF chunks to
    * `fmt `/`data` like [[WavDecoder]], then actually READ the samples
    * (little-endian signed 16-bit, any channel count interleaved) and
    * reduce them to the signal features an audio-corpus curation pass
    * filters on: `sum_sq` (energy — silence detection), `peak`
    * (clipping detection), `zero_cross` (crude pitch/noise proxy,
    * counted when consecutive samples change `>= 0` sign). All-integer,
    * single pass, no sample array materialized — a clip streams through
    * at memory O(1). Non-PCM16/corrupt/truncated → null struct. */
  def decodeWavPcm(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema("media_id").dataType),
      StructField("pcm", pcmSchema)))
    val outEncoder = org.apache.spark.sql.Encoders.row(outSchema)
    df.select("media_id", "content").mapPartitions { rows =>
      rows.map { r =>
        val b = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        val stats = if (b == null) null else wavPcmStats(b)
        Row(r.get(0), stats)
      }
    }(outEncoder)
  }

  /** REAL audio resample for 16-bit mono WAV payloads: linear
    * interpolation at rational positions `k * in_rate / out_rate`, all
    * in truncating integer arithmetic (`idx = pos / out`, `frac = pos %
    * out`, `s = s0 + (s1 - s0) * frac / out`) so the resampled stream
    * is bit-reproducible and oracle-derivable. The output is a fresh
    * RIFF container at the target rate — decode→process→re-encode, the
    * audio twin of [[resizeImages]]. Already-at-rate, multi-channel,
    * non-PCM16 or undecodable payloads pass through unchanged (the
    * degrade-don't-throw contract; a corpus pass must not lose rows). */
  def resamplePcm(df: DataFrame, outRate: Int): DataFrame = {
    require(outRate > 0, "resample target rate must be positive")
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema("media_id").dataType),
      StructField("media_type", StringType),
      StructField("content", BinaryType)))
    val outEncoder = org.apache.spark.sql.Encoders.row(outSchema)
    df.select("media_id", "media_type", "content").mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
        val res = if (bytes == null) null else resampleWav(bytes, outRate)
        Row(r.get(0), r.get(1), if (res == null) bytes else res)
      }
    }(outEncoder)
  }

  private def resampleWav(b: Array[Byte], outRate: Int): Array[Byte] = {
    def tag(off: Int) = new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    def le32(off: Int): Long = (b(off) & 0xffL) | (b(off + 1) & 0xffL) << 8 |
      (b(off + 2) & 0xffL) << 16 | (b(off + 3) & 0xffL) << 24
    def le16(off: Int): Int = (b(off) & 0xff) | (b(off + 1) & 0xff) << 8
    if (b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return null
    var channels = -1; var bits = -1; var sr = -1
    var dataOff = -1; var dataLen = -1L
    var off = 12
    while (off + 8 <= b.length && (bits < 0 || dataOff < 0)) {
      val id = tag(off)
      val size = le32(off + 4)
      if (size > Int.MaxValue - 9L) return null
      if (id == "fmt " && size >= 16 && off + 8 + 16 <= b.length) {
        channels = le16(off + 10); sr = le32(off + 12).toInt; bits = le16(off + 22)
      } else if (id == "data") { dataOff = off + 8; dataLen = size }
      off += 8 + size.toInt + (size % 2).toInt
    }
    if (channels != 1 || bits != 16 || sr <= 0 || sr == outRate || dataOff < 0)
      return null
    val n = (math.min(dataOff + dataLen, b.length.toLong).toInt - dataOff) / 2
    if (n == 0) return null
    def sample(i: Int): Long = {
      val x = le16(dataOff + 2 * i)
      ((x << 16) >> 16).toLong // sign-extend
    }
    val nOut = ((n - 1).toLong * outRate / sr + 1).toInt
    val out = java.nio.ByteBuffer.allocate(44 + nOut * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + nOut * 2)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1)
      .putInt(outRate).putInt(outRate * 2)
      .putShort(2).putShort(16)
    out.put("data".getBytes("US-ASCII")).putInt(nOut * 2)
    var k = 0
    while (k < nOut) {
      val pos = k.toLong * sr
      val idx = (pos / outRate).toInt
      val frac = pos % outRate
      val v =
        if (frac == 0L) sample(idx)
        else sample(idx) + (sample(idx + 1) - sample(idx)) * frac / outRate
      out.putShort(v.toShort)
      k += 1
    }
    out.array()
  }

  private def wavPcmStats(b: Array[Byte]): Row = {
    def tag(off: Int) = new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    def le32(off: Int): Long = (b(off) & 0xffL) | (b(off + 1) & 0xffL) << 8 |
      (b(off + 2) & 0xffL) << 16 | (b(off + 3) & 0xffL) << 24
    def le16(off: Int): Int = (b(off) & 0xff) | (b(off + 1) & 0xff) << 8
    if (b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return null
    var bits = -1
    var dataOff = -1
    var dataLen = -1L
    var off = 12
    while (off + 8 <= b.length && (bits < 0 || dataOff < 0)) {
      val id = tag(off)
      val size = le32(off + 4)
      if (size > Int.MaxValue - 9L) return null
      if (id == "fmt " && size >= 16 && off + 8 + 16 <= b.length) bits = le16(off + 22)
      else if (id == "data") { dataOff = off + 8; dataLen = size }
      off += 8 + size.toInt + (size % 2).toInt
    }
    if (bits != 16 || dataOff < 0) return null
    val end = math.min(dataOff + dataLen, b.length.toLong).toInt - 1
    var i = dataOff
    var n = 0L
    var sumSq = 0L
    var peak = 0
    var zc = 0L
    var prevNonNeg = false
    while (i < end) {
      val s = (le16(i) << 16) >> 16 // sign-extend
      val a = math.abs(s)
      if (a > peak) peak = a
      sumSq += s.toLong * s
      val nonNeg = s >= 0
      if (n > 0 && nonNeg != prevNonNeg) zc += 1
      prevNonNeg = nonNeg
      n += 1
      i += 2
    }
    Row(java.lang.Long.valueOf(n), java.lang.Long.valueOf(sumSq),
      Integer.valueOf(peak), java.lang.Long.valueOf(zc))
  }

  /** mapPartitions decode: init the (expensive) decoder once per
    * partition, stream rows through it, emit `(media_id, meta)`.
    * Payload bytes never survive past this operator — the output row is
    * metadata-only, so whatever shuffles next is narrow. */
  def decodePartitions(df: DataFrame, decoder: Decoder = StubDecoder): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema("media_id").dataType),
      StructField("meta", metaSchema)))
    // the OUTPUT schema's encoder, declared up front — the previous
    // createDataFrame round-trip only worked because EliminateSerialization
    // happened to cancel the mismatched input encoder
    val outEncoder = org.apache.spark.sql.Encoders.row(outSchema)
    df.select("media_id", "media_type", "content")
      .mapPartitions { rows =>
        imageIoNoDiskCache
        val d = decoder // one per partition; real libs init native state here
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]](2)
          // null payload/type → null meta, not a partition-killing NPE:
          // at corpus scale a few corrupt rows are a certainty and the
          // decoder contract stays "non-null bytes in"
          if (bytes == null || r.isNullAt(1)) Row(r.get(0), null)
          else Row(r.get(0), d.decode(r.getString(1), bytes))
        }
      }(outEncoder)
  }
}
