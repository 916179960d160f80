package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata, processed by per-partition batch iteration (the Scala analogue
  * of an Arrow-batched UDF — each partition's rows stream through the
  * decoder without driver involvement).
  *
  * The decoders are REAL pure-JVM parsers for the codec-free container
  * formats that need no external libraries:
  *   - PPM (P6 binary): ASCII header with `#` comments, raw RGB24 rows.
  *   - BMP (Windows BITMAPINFOHEADER, 24 bpp uncompressed): little-endian
  *     header fields, 4-byte-aligned rows, bottom-up or top-down order,
  *     BGR byte order — all normalized to top-down RGB on decode.
  *   - WAV (RIFF PCM 16-bit): chunk walking (unknown chunks skipped, odd
  *     sizes padded per RIFF), fmt + data parsing, interleaved LE samples.
  *
  * Payloads in the gated query are SYNTHESIZED (this corpus carries no
  * real media), but they are byte-exact conformant files: the query
  * round-trips encode → binary column → sniff + decode → features, and the
  * DuckDB oracle recomputes the expected features in closed form from the
  * generation parameters — so a header-math or padding bug anywhere in the
  * codec breaks the hash match.
  */
object Multimodal {

  /** Decoded image, normalized to row-major top-down RGB (3 bytes/pixel). */
  final case class ImageData(width: Int, height: Int, rgb: Array[Byte]) {
    require(rgb.length == width * height * 3,
      s"rgb length ${rgb.length} != $width*$height*3")
  }

  /** Decoded audio: interleaved 16-bit samples. */
  final case class AudioData(sampleRate: Int, channels: Int, samples: Array[Short])

  sealed trait Media
  final case class ImageMedia(format: String, image: ImageData) extends Media
  final case class AudioMedia(format: String, audio: AudioData) extends Media

  // ---------------------------------------------------------------- PPM (P6)

  def encodePpm(img: ImageData): Array[Byte] = {
    val header = s"P6\n${img.width} ${img.height}\n255\n".getBytes(StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + img.rgb.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(img.rgb, 0, out, header.length, img.rgb.length)
    out
  }

  /** Parse P6: magic, then three ASCII integers (width, height, maxval)
    * separated by whitespace, with `#`-to-EOL comments allowed anywhere
    * between tokens, then a single whitespace byte, then raw RGB data.
    */
  def decodePpm(bytes: Array[Byte]): ImageData = decodePpmAt(bytes, 0)._1

  /** One P6 image starting at `start`; returns the image and the offset of
    * the first byte after it — the building block for concatenated-frame
    * streams (the codec-free "video" convention: P6 frames back to back,
    * what e.g. image2pipe ppm output looks like).
    */
  private def decodePpmAt(bytes: Array[Byte], start: Int): (ImageData, Int) = {
    require(bytes.length >= start + 2 && bytes(start) == 'P' && bytes(start + 1) == '6',
      s"not a P6 PPM at offset $start")
    var pos = start + 2
    def nextInt(): Int = {
      // skip whitespace and comments
      var inComment = false
      while (pos < bytes.length &&
             (inComment || bytes(pos).toChar.isWhitespace || bytes(pos) == '#')) {
        if (bytes(pos) == '#') inComment = true
        else if (bytes(pos) == '\n') inComment = false
        pos += 1
      }
      var v = 0
      var saw = false
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
        v = v * 10 + (bytes(pos) - '0'); saw = true; pos += 1
      }
      require(saw, s"malformed PPM header at byte $pos")
      v
    }
    val w = nextInt(); val h = nextInt(); val maxval = nextInt()
    require(maxval > 0 && maxval < 256, s"unsupported PPM maxval $maxval (need 1-byte samples)")
    pos += 1 // exactly one whitespace byte after maxval per spec
    val need = w * h * 3
    require(bytes.length - pos >= need, s"PPM truncated: need $need, have ${bytes.length - pos}")
    val rgb = new Array[Byte](need)
    System.arraycopy(bytes, pos, rgb, 0, need)
    (ImageData(w, h, rgb), pos + need)
  }

  /** Concatenated P6 frames — the codec-free video container. */
  def encodePpmStream(frames: Seq[ImageData]): Array[Byte] = {
    val parts = frames.map(encodePpm)
    val out = new Array[Byte](parts.map(_.length).sum)
    var off = 0
    parts.foreach { p => System.arraycopy(p, 0, out, off, p.length); off += p.length }
    out
  }

  /** Decode every frame of a concatenated-P6 stream (frames may differ in
    * size; each carries its own header).
    */
  def decodePpmStream(bytes: Array[Byte]): Seq[ImageData] = {
    val frames = Seq.newBuilder[ImageData]
    var pos = 0
    while (pos < bytes.length) {
      val (img, next) = decodePpmAt(bytes, pos)
      frames += img
      pos = next
    }
    frames.result()
  }

  /** Nearest-neighbor resize: out pixel (x', y') samples source pixel
    * (⌊x'·W/W'⌋, ⌊y'·H/H'⌋) — integer index math only, so the result is
    * bit-identical in any engine (no filtering kernels, no float rounding).
    */
  def resizeNearest(img: ImageData, outW: Int, outH: Int): ImageData = {
    require(outW > 0 && outH > 0, s"bad target size ${outW}x$outH")
    val rgb = new Array[Byte](outW * outH * 3)
    var y = 0
    while (y < outH) {
      val srcY = (y.toLong * img.height / outH).toInt
      var x = 0
      while (x < outW) {
        val srcX = (x.toLong * img.width / outW).toInt
        val src = (srcY * img.width + srcX) * 3
        val dst = (y * outW + x) * 3
        rgb(dst) = img.rgb(src)
        rgb(dst + 1) = img.rgb(src + 1)
        rgb(dst + 2) = img.rgb(src + 2)
        x += 1
      }
      y += 1
    }
    ImageData(outW, outH, rgb)
  }

  // ------------------------------------------------------- BMP (24bpp, BI_RGB)

  private val BmpHeaderSize = 14 + 40 // BITMAPFILEHEADER + BITMAPINFOHEADER

  private def bmpRowSize(width: Int): Int = ((width * 3 + 3) / 4) * 4

  /** Encode as bottom-up 24bpp BMP with BITMAPINFOHEADER and padded rows. */
  def encodeBmp(img: ImageData): Array[Byte] = {
    val rowSize = bmpRowSize(img.width)
    val dataSize = rowSize * img.height
    val buf = ByteBuffer.allocate(BmpHeaderSize + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(BmpHeaderSize + dataSize) // file size
    buf.putInt(0)                        // reserved
    buf.putInt(BmpHeaderSize)            // pixel data offset
    buf.putInt(40)                       // info header size
    buf.putInt(img.width)
    buf.putInt(img.height)               // positive => bottom-up
    buf.putShort(1)                      // planes
    buf.putShort(24)                     // bpp
    buf.putInt(0)                        // BI_RGB (uncompressed)
    buf.putInt(dataSize)
    buf.putInt(2835).putInt(2835)        // 72 dpi
    buf.putInt(0).putInt(0)              // palette
    // rows bottom-up, pixels BGR, rows padded to 4 bytes
    var fileRow = 0
    while (fileRow < img.height) {
      val y = img.height - 1 - fileRow
      var x = 0
      while (x < img.width) {
        val p = (y * img.width + x) * 3
        buf.put(img.rgb(p + 2)).put(img.rgb(p + 1)).put(img.rgb(p))
        x += 1
      }
      var pad = rowSize - img.width * 3
      while (pad > 0) { buf.put(0.toByte); pad -= 1 }
      fileRow += 1
    }
    buf.array()
  }

  /** Decode 24bpp BI_RGB BMP; honors the pixel-data offset field, row
    * padding, and both bottom-up (height > 0) and top-down (height < 0)
    * row orders. Output is normalized top-down RGB.
    */
  def decodeBmp(bytes: Array[Byte]): ImageData = {
    require(bytes.length >= BmpHeaderSize && bytes(0) == 'B' && bytes(1) == 'M', "not a BMP")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val dataOffset = buf.getInt(10)
    val infoSize = buf.getInt(14)
    require(infoSize >= 40, s"unsupported BMP info header size $infoSize")
    val w = buf.getInt(18)
    val rawH = buf.getInt(22)
    val bottomUp = rawH > 0
    val h = math.abs(rawH)
    val bpp = buf.getShort(28).toInt
    val compression = buf.getInt(30)
    require(bpp == 24, s"unsupported BMP bpp $bpp (only 24)")
    require(compression == 0, s"unsupported BMP compression $compression (only BI_RGB)")
    val rowSize = bmpRowSize(w)
    require(bytes.length >= dataOffset + rowSize * h, "BMP pixel data truncated")
    val rgb = new Array[Byte](w * h * 3)
    var fileRow = 0
    while (fileRow < h) {
      val y = if (bottomUp) h - 1 - fileRow else fileRow
      val rowStart = dataOffset + fileRow * rowSize
      var x = 0
      while (x < w) {
        val src = rowStart + x * 3
        val dst = (y * w + x) * 3
        rgb(dst) = bytes(src + 2)     // R
        rgb(dst + 1) = bytes(src + 1) // G
        rgb(dst + 2) = bytes(src)     // B
        x += 1
      }
      fileRow += 1
    }
    ImageData(w, h, rgb)
  }

  // ---------------------------------------------------------- WAV (PCM16 LE)

  def encodeWav(a: AudioData): Array[Byte] = {
    val dataSize = a.samples.length * 2
    val buf = ByteBuffer.allocate(44 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes(StandardCharsets.US_ASCII))
    buf.putInt(36 + dataSize)
    buf.put("WAVE".getBytes(StandardCharsets.US_ASCII))
    buf.put("fmt ".getBytes(StandardCharsets.US_ASCII))
    buf.putInt(16)                       // PCM fmt chunk size
    buf.putShort(1)                      // audio format = PCM
    buf.putShort(a.channels.toShort)
    buf.putInt(a.sampleRate)
    buf.putInt(a.sampleRate * a.channels * 2) // byte rate
    buf.putShort((a.channels * 2).toShort)    // block align
    buf.putShort(16)                     // bits per sample
    buf.put("data".getBytes(StandardCharsets.US_ASCII))
    buf.putInt(dataSize)
    var i = 0
    while (i < a.samples.length) { buf.putShort(a.samples(i)); i += 1 }
    buf.array()
  }

  /** Walk RIFF chunks (skipping unknown ones, with odd-size padding per the
    * RIFF spec) to find fmt + data; PCM 16-bit only.
    */
  def decodeWav(bytes: Array[Byte]): AudioData = {
    require(bytes.length >= 12, "WAV too short")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def fourCC(at: Int): String =
      new String(bytes, at, 4, StandardCharsets.US_ASCII)
    require(fourCC(0) == "RIFF" && fourCC(8) == "WAVE", "not a RIFF/WAVE file")
    var pos = 12
    var sampleRate = -1
    var channels = -1
    var bits = -1
    var samples: Array[Short] = null
    while (pos + 8 <= bytes.length && (sampleRate < 0 || samples == null)) {
      val id = fourCC(pos)
      val size = buf.getInt(pos + 4)
      val body = pos + 8
      id match {
        case "fmt " =>
          require(size >= 16, s"fmt chunk too small: $size")
          val fmt = buf.getShort(body).toInt
          require(fmt == 1, s"unsupported WAV format $fmt (only PCM)")
          channels = buf.getShort(body + 2).toInt
          sampleRate = buf.getInt(body + 4)
          bits = buf.getShort(body + 14).toInt
          require(bits == 16, s"unsupported WAV bits/sample $bits (only 16)")
        case "data" =>
          require(body + size <= bytes.length, "WAV data chunk truncated")
          samples = new Array[Short](size / 2)
          var i = 0
          while (i < samples.length) { samples(i) = buf.getShort(body + i * 2); i += 1 }
        case _ => // skip unknown chunk (LIST, fact, ...)
      }
      pos = body + size + (size & 1) // RIFF pads odd-sized chunks
    }
    require(sampleRate >= 0, "WAV missing fmt chunk")
    require(samples != null, "WAV missing data chunk")
    AudioData(sampleRate, channels, samples)
  }

  // ------------------------------------------------------------- sniff+decode

  /** Content sniffing by magic bytes — the payload column is opaque binary;
    * format is NOT carried out-of-band.
    */
  def decode(bytes: Array[Byte]): Media = {
    if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6')
      ImageMedia("ppm", decodePpm(bytes))
    else if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M')
      ImageMedia("bmp", decodeBmp(bytes))
    else if (bytes.length >= 12 &&
             new String(bytes, 0, 4, StandardCharsets.US_ASCII) == "RIFF")
      AudioMedia("wav", decodeWav(bytes))
    else throw new IllegalArgumentException(
      s"unknown media format (first bytes: ${bytes.take(4).map(b => f"$b%02x").mkString(" ")})")
  }

  // --------------------------------------------------- synthesis + extraction

  /** Attach a binary payload + deterministic metadata to each document.
    * Stands in for an ingest that carries media bytes alongside text;
    * every derived column is computable by any engine (oracle-able).
    */
  def withPayload(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      octet_length(encode(col("text"), "UTF-8")).cast("long").as("payload_bytes"),
      // fake media metadata, deterministic from doc stats
      (lit(16) + pmod(col("n_chars"), lit(64))).cast("int").as("width"),
      (lit(16) + pmod(col("n_chars") * 7, lit(64))).cast("int").as("height"),
      (col("n_chars") / 500 + 1).cast("int").as("frames"))

  /** Deterministic generation parameters for the synthesized media corpus.
    * The DuckDB oracle replays these closed forms, so the encode→decode
    * round trip through real container bytes is hash-gated end to end:
    *   kind  = doc_id % 3 (0 ppm, 1 bmp, 2 wav)
    *   image: W = 16 + n_chars % 48, H = 16 + (7·n_chars) % 48,
    *          channel c value at row y (constant across x):
    *          (doc_id + y + 85·c) % 256
    *   audio: 8 kHz, channels ch = 1 + n_chars % 2 (mono/stereo mix so
    *          the de-interleave path is oracle-gated), F = 256 +
    *          n_chars % 512 frames, interleaved sample
    *          s(i) = (7·doc_id + 13·i) % 2048 − 1024 for i < F·ch
    */
  private def synthesizeOne(docId: Long, nChars: Long): Array[Byte] =
    (docId % 3) match {
      case 2 =>
        val ch = (1 + nChars % 2).toInt
        val total = (256 + nChars % 512).toInt * ch
        val samples = Array.tabulate(total)(i => ((7 * docId + 13 * i) % 2048 - 1024).toShort)
        encodeWav(AudioData(8000, ch, samples))
      case kind =>
        val w = (16 + nChars % 48).toInt
        val h = (16 + (7 * nChars) % 48).toInt
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var c = 0
          while (c < 3) {
            val v = ((docId + y + 85 * c) % 256).toByte
            var x = 0
            while (x < w) { rgb((y * w + x) * 3 + c) = v; x += 1 }
            c += 1
          }
          y += 1
        }
        val img = ImageData(w, h, rgb)
        if (kind == 0L) encodePpm(img) else encodeBmp(img)
    }

  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** Synthesize a conformant media file per document (PPM / BMP / WAV round
    * robin by doc_id). Partition-parallel: each task encodes its own rows.
    */
  def synthesizeMedia(spark: SparkSession, docs: DataFrame): DataFrame = {
    val out = docs.select("doc_id", "n_chars").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        Row(id, synthesizeOne(id, r.getLong(1)))
      }
    }
    spark.createDataFrame(out, mediaSchema)
  }

  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_units", LongType, nullable = false),
    StructField("c0_sum", LongType, nullable = false),
    StructField("c1_sum", LongType, nullable = false),
    StructField("c2_sum", LongType, nullable = false)))

  /** Frame-stream ("video") synthesis, closed-form so the oracle can replay
    * it without touching bytes:
    *   F = 2 + doc_id % 6 frames, each W = 16 + n_chars % 32,
    *   H = 16 + (3·n_chars) % 32; channel c at row y of frame f (constant
    *   across x) = (doc_id + 31·f + y + 85·c) % 256.
    */
  private def synthesizeStreamOne(docId: Long, nChars: Long): Array[Byte] = {
    val nFrames = (2 + docId % 6).toInt
    val w = (16 + nChars % 32).toInt
    val h = (16 + (3 * nChars) % 32).toInt
    val frames = (0 until nFrames).map { f =>
      val rgb = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        var c = 0
        while (c < 3) {
          val v = ((docId + 31 * f + y + 85 * c) % 256).toByte
          var x = 0
          while (x < w) { rgb((y * w + x) * 3 + c) = v; x += 1 }
          c += 1
        }
        y += 1
      }
      ImageData(w, h, rgb)
    }
    encodePpmStream(frames)
  }

  /** One concatenated-P6 stream per document — partition-parallel. */
  def synthesizeFrameStreams(spark: SparkSession, docs: DataFrame): DataFrame = {
    val out = docs.select("doc_id", "n_chars").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        Row(id, synthesizeStreamOne(id, r.getLong(1)))
      }
    }
    spark.createDataFrame(out, mediaSchema)
  }

  val frameFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("n_sampled", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("c0_sum", LongType, nullable = false),
    StructField("c1_sum", LongType, nullable = false),
    StructField("c2_sum", LongType, nullable = false)))

  /** Frame sampling — the video path of the family: decode the
    * concatenated-P6 stream, keep every `stride`-th frame (0, stride, …),
    * and emit exact integer channel sums over the KEPT frames only. On a
    * real corpus this is the "1 fps thumbnail" pass; the stream decodes
    * frame-at-a-time, so peak memory is one frame, not the whole payload's
    * pixel data.
    */
  def frameFeatures(spark: SparkSession, media: DataFrame, stride: Int = 2): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val out = media.select("doc_id", "payload").rdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]]("payload")
        // skip empty and non-P6 payloads (the resizeFeatures audio-skip
        // convention): mixed corpora are the normal case, and a stray
        // WAV/BMP row must not abort the whole video pass — and an
        // empty payload has no frames.head to read
        if (payload.length < 2 || payload(0) != 'P' || payload(1) != '6') None
        else {
          val frames = decodePpmStream(payload)
          if (frames.isEmpty) None
          else {
            val sampled = frames.indices.filter(_ % stride == 0)
            val sums = new Array[Long](3)
            sampled.foreach { fi =>
              val rgb = frames(fi).rgb
              var i = 0
              while (i < rgb.length) { sums(i % 3) += rgb(i) & 0xff; i += 1 }
            }
            Some(Row(id, frames.length, sampled.length,
              frames.head.width, frames.head.height, sums(0), sums(1), sums(2)))
          }
        }
      }
    }
    spark.createDataFrame(out, frameFeatureSchema)
  }

  val resizeFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("c0_sum", LongType, nullable = false),
    StructField("c1_sum", LongType, nullable = false),
    StructField("c2_sum", LongType, nullable = false)))

  /** Thumbnail pass: sniff + decode each payload, nearest-neighbor resize
    * the images to `outW`×`outH`, emit exact channel sums of the RESIZED
    * pixels (gates the ⌊x'·W/W'⌋ index math, not just the decode). Audio
    * payloads are skipped — mixed corpora are the normal case.
    */
  def resizeFeatures(spark: SparkSession, media: DataFrame,
      outW: Int = 8, outH: Int = 8): DataFrame = {
    val out = media.select("doc_id", "payload").rdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        decode(r.getAs[Array[Byte]]("payload")) match {
          case ImageMedia(fmt, img) =>
            val small = resizeNearest(img, outW, outH)
            val sums = new Array[Long](3)
            var i = 0
            while (i < small.rgb.length) { sums(i % 3) += small.rgb(i) & 0xff; i += 1 }
            Some(Row(id, fmt, small.width, small.height, sums(0), sums(1), sums(2)))
          case _: AudioMedia => None
        }
      }
    }
    spark.createDataFrame(out, resizeFeatureSchema)
  }

  val aHashSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("phash", LongType, nullable = false)))

  /** Perceptual average-hash over DECODED pixels: sniff + decode, 8×8
    * nearest-neighbor thumbnail, integer luminance ⌊(r+g+b)/3⌋ per
    * pixel, bit (y·8+x) set iff 64·gray ≥ Σ gray (the all-integer
    * "above the mean" test — no float mean, so the hash replays exactly
    * in any engine), packed MSB-first into one signed long. Audio
    * payloads are skipped (the [[resizeFeatures]] convention).
    *
    * This is the image twin of the text [[Dedup]] SimHash family: a
    * 64-bit content fingerprint whose Hamming distance tracks visual
    * similarity, computed from the real container bytes so a codec or
    * resize-index bug anywhere flips the gated hash.
    */
  def imageAHash(spark: SparkSession, media: DataFrame): DataFrame = {
    val out = media.select("doc_id", "payload").rdd.mapPartitions { it =>
      it.flatMap { r =>
        decode(r.getAs[Array[Byte]]("payload")) match {
          case ImageMedia(_, img) =>
            val small = resizeNearest(img, 8, 8)
            val gray = new Array[Int](64)
            var total = 0L
            var i = 0
            while (i < 64) {
              val o = i * 3
              gray(i) = ((small.rgb(o) & 0xff) + (small.rgb(o + 1) & 0xff) +
                (small.rgb(o + 2) & 0xff)) / 3
              total += gray(i)
              i += 1
            }
            var h = 0L
            i = 0
            while (i < 64) {
              if (64L * gray(i) >= total) h |= 1L << (63 - i)
              i += 1
            }
            Some(Row(r.getLong(0), h))
          case _: AudioMedia => None
        }
      }
    }
    spark.createDataFrame(out, aHashSchema)
  }

  val audioHashSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("ehash", LongType, nullable = false)))

  /** Audio energy-hash — the WAV twin of [[imageAHash]]: decode the RIFF
    * container, split the interleaved sample stream into 64 windows
    * (sample i → window ⌊i·64/n⌋), exact integer energy Σs² per window,
    * bit w set iff 64·energy(w) ≥ Σ energy (the same all-integer
    * above-mean test), packed MSB-first. Windowed energy is the
    * FFT-free coarse spectral envelope: time-shifted or re-encoded
    * copies keep their energy shape, so Hamming distance tracks
    * perceptual similarity the way aHash does for images. Streams
    * shorter than 64 samples are skipped (their window set is partial —
    * no stable 64-bit signature); image payloads are skipped.
    * Pairs: feed the output straight to [[aHashPairs]] — the banding
    * contract is hash-agnostic.
    */
  def audioEnergyHash(spark: SparkSession, media: DataFrame): DataFrame = {
    val out = media.select("doc_id", "payload").rdd.mapPartitions { it =>
      it.flatMap { r =>
        decode(r.getAs[Array[Byte]]("payload")) match {
          case AudioMedia(_, a) if a.samples.length >= 64 =>
            val n = a.samples.length
            val energy = new Array[Long](64)
            var i = 0
            while (i < n) {
              val s = a.samples(i).toLong
              energy((i.toLong * 64 / n).toInt) += s * s
              i += 1
            }
            var total = 0L
            i = 0
            while (i < 64) { total += energy(i); i += 1 }
            var h = 0L
            i = 0
            while (i < 64) {
              if (64L * energy(i) >= total) h |= 1L << (63 - i)
              i += 1
            }
            Some(Row(r.getLong(0), h))
          case _ => None
        }
      }
    }
    spark.createDataFrame(out, audioHashSchema)
  }

  /** Near-duplicate pairs from [[imageAHash]] fingerprints by banded
    * blocking: split each 64-bit hash into `bands` disjoint key slices;
    * a pair is a candidate iff it collides in ≥1 band whose bucket holds
    * ≤ `maxBucket` hashes, then the exact Hamming distance (one codegen'd
    * xor + bit_count per candidate) keeps pairs ≤ `maxHamming`.
    *
    * Exactness by pigeonhole: `maxHamming < bands` means a qualifying
    * pair differs in fewer slices than there are slices, so at least one
    * band matches — banding loses NOTHING among un-capped buckets. The
    * bucket cap is the [[Similarity.lshNearDup]] pairListCutoff contract:
    * a band bucket with thousands of members is aHash-collision junk
    * (flat/degenerate thumbnails) whose C(n,2) pair fan-out would
    * dominate the join at corpus scale; capped buckets drop out of
    * CANDIDATE GENERATION, bounding per-bucket work at C(maxBucket, 2)
    * absolutely — the documented lower-bound-recall trade every banded
    * dedup op here makes.
    */
  def aHashPairs(
      hashes: DataFrame,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucket: Int = 64,
      hashCol: String = "phash"): DataFrame = {
    require(bands >= 1 && 64 % bands == 0, s"bands must divide 64: $bands")
    require(maxHamming >= 0 && maxHamming < bands,
      s"pigeonhole exactness needs maxHamming < bands: $maxHamming/$bands")
    require(maxBucket >= 2)
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    // persisted + eagerly filled: bk backs the bucket census and both
    // sides of the candidate join — unpinned, each consumer would re-run
    // the upstream hash derivation (for imageAHash: the whole
    // synthesize/decode chain) per reference
    val bk = CacheRegistry.persist(hashes
      .select(col("doc_id"), col(hashCol).as("phash"))
      .select(col("doc_id"), col("phash"),
      posexplode(array((0 until bands).map(i =>
        shiftrightunsigned(col("phash"), i * width).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "key"))))
    bk.count()
    val open = bk.groupBy("band", "key").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket).select("band", "key")
    val slim = bk.join(open, Seq("band", "key"))
    val a = slim.select(col("band"), col("key"),
      col("doc_id").as("id_a"), col("phash").as("__pa"))
    val b = slim.select(col("band"), col("key"),
      col("doc_id").as("id_b"), col("phash").as("__pb"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "__pa", "__pb").distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("__pa").bitwiseXOR(col("__pb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Sniff + decode each payload and emit typed features: dimensions /
    * duration plus EXACT integer channel sums (order-free, so they survive
    * any shuffle and hash-replay in any engine; see
    * cross-engine-determinism notes — no floats in the gated projection).
    */
  def decodeFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    val out = media.select("doc_id", "payload").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        decode(r.getAs[Array[Byte]]("payload")) match {
          case ImageMedia(fmt, img) =>
            val sums = new Array[Long](3)
            var i = 0
            while (i < img.rgb.length) {
              sums(i % 3) += img.rgb(i) & 0xff
              i += 1
            }
            Row(id, fmt, img.width, img.height, 3, 0,
              img.width.toLong * img.height, sums(0), sums(1), sums(2))
          case AudioMedia(fmt, a) =>
            // per-channel sums over the interleaved stream (channel =
            // i mod ch); channels beyond the third fold into c2
            val sums = new Array[Long](3)
            var i = 0
            while (i < a.samples.length) {
              sums(math.min(i % a.channels, 2)) += a.samples(i)
              i += 1
            }
            Row(id, fmt, 0, 0, a.channels, a.sampleRate,
              a.samples.length.toLong / a.channels, sums(0), sums(1), sums(2))
        }
      }
    }
    spark.createDataFrame(out, featureSchema)
  }
}
