package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A multimodal row: opaque media payload + typed metadata — the
  * column pattern for image/audio/video at scale (SURVEY.md §2C ⟨ns⟩
  * "Multimodal columns"): media stays an opaque `binary` column that
  * parquet stores/splits efficiently; everything queryable lives in
  * typed metadata columns.
  */
final case class MediaRow(
    media_id: Long,
    kind: String,            // "image" | "audio" | …
    payload: Array[Byte],
    source: String)

/** Typed features extracted by a decoder. */
final case class MediaFeatures(
    media_id: Long,
    kind: String,
    n_bytes: Long,
    width: Int,              // frame/image width (decoder-defined)
    height: Int,
    n_channels: Int,
    checksum: Long)

/** Decoder interface. Six formats decode FOR REAL with zero
  * external dependencies — P6 PPM and PCM WAV (hand parsers), PNG
  * (hand chunk/inflate/filter pipeline over `java.util.zip`), and
  * JPEG/GIF/BMP (the JDK's bundled ImageIO codecs) — routed by
  * [[SniffingDecoder]], plus real STRUCTURE parsers for the
  * compressed-media containers — MP3 frame-sequence metadata
  * ([[Mp3Decoder]]) and MP4/ISO-BMFF box-tree metadata
  * ([[Mp4Decoder]]); only codec-frame decode of formats without a
  * JDK codec (MP3 PCM synthesis, MP4/WebM coded samples) falls back
  * to a clearly-marked deterministic stub. The Spark plumbing (schema,
  * batching, partition distribution) is identical either way, and a
  * production codec binding touches only this trait.
  */
trait MediaDecoder extends Serializable {
  def decode(row: MediaRow): MediaFeatures
}

/** STUB: derives pseudo-features deterministically from the payload
  * bytes. Replace with a real codec binding in production.
  */
object FakeDecoder extends MediaDecoder {
  override def decode(row: MediaRow): MediaFeatures = {
    val bytes = row.payload
    var checksum = 0L
    var i = 0
    while (i < bytes.length) { checksum = checksum * 31 + (bytes(i) & 0xff); i += 1 }
    MediaFeatures(
      media_id = row.media_id,
      kind = row.kind,
      n_bytes = bytes.length.toLong,
      width = 16 + (math.abs(checksum) % 1024).toInt,
      height = 16 + (math.abs(checksum / 1024) % 1024).toInt,
      n_channels = if (row.kind == "audio") 2 else 3,
      checksum = checksum)
  }
}

/** REAL pure-JVM decoder for one trivial format: binary PPM ("P6").
  * The container has no media libraries, but PPM needs none — the
  * header is ASCII (`P6 <width> <height> <maxval>`, '#' comments
  * allowed between tokens, one whitespace byte before pixel data)
  * and the payload is raw RGB. This makes the decode stage of the
  * m-series a real parser behind the same [[MediaDecoder]] trait the
  * stubs use; [[SniffingDecoder]] routes P6 payloads here and
  * everything else to the stub.
  */
object PpmDecoder extends MediaDecoder {

  def isPpm(bytes: Array[Byte]): Boolean =
    bytes.length >= 3 && bytes(0) == 'P' && bytes(1) == '6' &&
      (bytes(2) == ' ' || bytes(2) == '\t' || bytes(2) == '\n' ||
        bytes(2) == '\r' || bytes(2) == '#')

  /** Parsed P6 header: dimensions, maxval, and the pixel-data start
    * offset. Shared by decode and the real resize transform.
    */
  private[multimodal] final case class PpmHeader(
      w: Int, h: Int, maxval: Int, pixelStart: Int) {
    def bytesPerSample: Int = if (maxval < 256) 1 else 2
  }

  private[multimodal] def parseHeader(b: Array[Byte], mediaId: Long): PpmHeader = {
    require(isPpm(b), s"media_id=$mediaId: not a P6 PPM payload")
    var i = 2
    def skipWs(): Unit = {
      var done = false
      while (!done && i < b.length) {
        val c = b(i).toChar
        if (c == '#') { while (i < b.length && b(i) != '\n') i += 1 }
        else if (c.isWhitespace) i += 1
        else done = true
      }
    }
    def token(): Int = {
      skipWs()
      require(i < b.length && b(i) >= '0' && b(i) <= '9',
        s"media_id=$mediaId: malformed PPM header")
      var v = 0
      while (i < b.length && b(i) >= '0' && b(i) <= '9') { v = v * 10 + (b(i) - '0'); i += 1 }
      v
    }
    val w = token(); val h = token(); val maxval = token()
    require(maxval > 0 && maxval < 65536, s"media_id=$mediaId: bad PPM maxval $maxval")
    i += 1 // exactly ONE whitespace byte separates the header from pixels
    val hdr = PpmHeader(w, h, maxval, i)
    require(b.length - i >= w.toLong * h * 3 * hdr.bytesPerSample,
      s"media_id=$mediaId: truncated PPM pixel data")
    hdr
  }

  override def decode(row: MediaRow): MediaFeatures = {
    val b = row.payload
    val hdr = parseHeader(b, row.media_id)
    var checksum = 0L
    var j = hdr.pixelStart
    while (j < b.length) { checksum = checksum * 31 + (b(j) & 0xff); j += 1 }
    MediaFeatures(
      media_id = row.media_id,
      kind = row.kind,
      n_bytes = b.length.toLong,
      width = hdr.w,
      height = hdr.h,
      n_channels = 3,
      checksum = checksum)
  }
}

/** REAL pure-JVM decoder for the audio analog of PPM: RIFF/WAVE PCM.
  * The header is a fixed 12-byte RIFF preamble followed by
  * size-prefixed chunks; `fmt ` carries channels / sample rate /
  * bits-per-sample and `data` carries raw samples — no compression,
  * no library needed. [[MediaFeatures]]'s image-shaped fields are
  * mapped as documented on the fields below (the trait's contract is
  * "typed metadata out of an opaque payload", not pixels).
  */
object WavDecoder extends MediaDecoder {

  def isWav(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E'

  private def u16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 3) & 0xffL) << 24)

  /** Located PCM chunks: fmt fields + the data chunk's byte range.
    * Shared by decode and the real frame-sampling transform.
    */
  private[multimodal] final case class WavChunks(
      audioFormat: Int, channels: Int, sampleRate: Long, blockAlign: Int,
      dataStart: Int, dataSize: Int) {
    def frames: Long = dataSize.toLong / blockAlign
  }

  /** WAVE_FORMAT tags this parser understands: 1 = integer PCM,
    * 6 = G.711 A-law, 7 = G.711 µ-law (8-bit companded telephony
    * audio — the [[G711Codec]] tier), 0x11 = IMA ADPCM (the
    * [[AdpcmCodec]] tier). Anything else fails loudly.
    */
  private[multimodal] def parseChunks(b: Array[Byte], mediaId: Long): WavChunks = {
    require(isWav(b), s"media_id=$mediaId: not a RIFF/WAVE payload")
    var i = 12
    var audioFormat = -1
    var channels = -1; var sampleRate = -1L; var blockAlign = -1
    var dataStart = -1; var dataSize = -1
    while (i + 8 <= b.length && (dataStart < 0 || channels < 0)) {
      val id = new String(b, i, 4, "US-ASCII")
      val size = u32(b, i + 4)
      val body = i + 8
      require(body + size <= b.length,
        s"media_id=$mediaId: truncated WAV chunk '$id'")
      if (id == "fmt ") {
        require(size >= 16, s"media_id=$mediaId: short fmt chunk")
        audioFormat = u16(b, body)
        require(audioFormat == 1 || audioFormat == 6 || audioFormat == 7
            || audioFormat == 0x11,
          s"media_id=$mediaId: only PCM/A-law/µ-law/IMA-ADPCM WAV supported, got format $audioFormat")
        channels = u16(b, body + 2)
        sampleRate = u32(b, body + 4)
        blockAlign = u16(b, body + 12)
        require(channels > 0 && blockAlign > 0,
          s"media_id=$mediaId: malformed fmt chunk")
      } else if (id == "data") {
        require(channels > 0, s"media_id=$mediaId: data chunk before fmt")
        dataStart = body
        dataSize = size.toInt
      }
      i = body + size.toInt + (size.toInt & 1) // chunks are word-aligned
    }
    require(dataStart >= 0, s"media_id=$mediaId: no data chunk")
    WavChunks(audioFormat, channels, sampleRate, blockAlign, dataStart, dataSize)
  }

  override def decode(row: MediaRow): MediaFeatures = {
    val b = row.payload
    val c = parseChunks(b, row.media_id)
    var checksum = 0L
    var j = c.dataStart
    val end = c.dataStart + c.dataSize
    while (j < end) { checksum = checksum * 31 + (b(j) & 0xff); j += 1 }
    MediaFeatures(
      media_id = row.media_id,
      kind = row.kind,
      n_bytes = b.length.toLong,
      width = c.sampleRate.toInt, // sample rate in Hz
      height = c.frames.toInt, // frames (samples per channel)
      n_channels = c.channels,
      checksum = checksum) // over the data chunk only, same fold as PPM
  }
}

/** REAL G.711 µ-law expander (ITU-T G.711 / the CCITT reference
  * `ulaw2linear`): the telephony/speech-corpus codec — 8-bit
  * companded bytes expand to 14-bit-range linear PCM through pure
  * integer arithmetic (complement, 3-bit segment exponent, 4-bit
  * mantissa, bias 0x84), making it the SECOND codec-frame tier next
  * to [[FlacFrameCodec]] that decodes losslessly-deterministic
  * samples both engines can agree on bit-for-bit — µ-law is lossy
  * w.r.t. the original 16-bit audio, but the DECODE map
  * byte → sample is an exact function, which is all cross-engine
  * verification needs.
  */
object G711Codec {

  /** One µ-law byte → linear PCM sample (−32124 .. +32124). */
  def ulawToLinear(uByte: Int): Int = {
    val c = (~uByte) & 0xff
    val exp = (c >> 4) & 0x07 // segment
    val mant = c & 0x0f
    val t = ((mant << 3) + 0x84) << exp
    if ((c & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** One A-law byte → linear PCM sample (±8 .. ±32256). Same source
    * (the CCITT reference `alaw2linear`): XOR 0x55 bit inversion,
    * then segment 0 is linear-with-offset-8, segment 1 adds the
    * 0x108 step base, higher segments shift it — and the SIGN
    * convention is the opposite of µ-law's (bit set = positive).
    */
  def alawToLinear(aByte: Int): Int = {
    val a = (aByte ^ 0x55) & 0xff
    val mant = a & 0x0f
    val seg = (a >> 4) & 0x07
    val t = seg match {
      case 0 => (mant << 4) + 8
      case 1 => (mant << 4) + 0x108
      case _ => ((mant << 4) + 0x108) << (seg - 1)
    }
    if ((a & 0x80) != 0) t else -t
  }

  /** Decode a format-7 (µ-law) or format-6 (A-law) RIFF/WAVE payload
    * to PCM samples. Mono only (the G.711 deployment shape); the
    * data chunk carries one byte per sample.
    */
  def decodeG711Wav(b: Array[Byte], mediaId: Long): (Long, Array[Int]) = {
    val c = WavDecoder.parseChunks(b, mediaId)
    require(c.audioFormat == 6 || c.audioFormat == 7,
      s"media_id=$mediaId: expected G.711 (format 6/7), got ${c.audioFormat}")
    require(c.channels == 1, s"media_id=$mediaId: G.711 decode is mono-only")
    require(c.blockAlign == 1,
      s"media_id=$mediaId: G.711 blockAlign must be 1, got ${c.blockAlign}")
    val expand: Int => Int =
      if (c.audioFormat == 7) ulawToLinear else alawToLinear
    val out = new Array[Int](c.dataSize)
    var i = 0
    while (i < c.dataSize) {
      out(i) = expand(b(c.dataStart + i) & 0xff); i += 1
    }
    (c.sampleRate, out)
  }

  /** µ-law-only entry point (kept for the format-gate contract: a
    * caller expecting µ-law must not silently accept A-law).
    */
  def decodeUlawWav(b: Array[Byte], mediaId: Long): (Long, Array[Int]) = {
    val c = WavDecoder.parseChunks(b, mediaId)
    require(c.audioFormat == 7,
      s"media_id=$mediaId: expected µ-law (format 7), got ${c.audioFormat}")
    decodeG711Wav(b, mediaId)
  }
}

/** REAL pure-JVM PNG decoder — the first COMPRESSED format in the
  * codec tier (PPM/WAV are raw): 8-byte signature, CRC-verified
  * chunks, IDAT inflate via `java.util.zip.Inflater`, and full
  * scanline-filter reconstruction (None/Sub/Up/Average/Paeth, the
  * complete PNG filter matrix). Supports the non-palette 8-bit color
  * types (gray / RGB / gray+alpha / RGBA); palette and 16-bit depth
  * fail loudly rather than guess. The checksum folds over the
  * RECONSTRUCTED raw pixels with PPM's fold, so a filter-math bug
  * changes the checksum even when the dimensions parse fine.
  */
object PngDecoder extends MediaDecoder {

  private val Sig: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  def isPng(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 && {
      var i = 0
      while (i < 8 && bytes(i) == Sig(i)) i += 1
      i == 8
    }

  private[multimodal] def channels(colorType: Int): Int = colorType match {
    case 0 => 1 // grayscale
    case 2 => 3 // RGB
    case 4 => 2 // gray + alpha
    case 6 => 4 // RGBA
    case ct => throw new IllegalArgumentException(
      s"unsupported PNG color type $ct (palette PNGs not handled)")
  }

  /** Paeth predictor (PNG spec 9.4) — shared with [[PngSynth]] so the
    * writer's filter math can never drift from the reader's.
    */
  private[multimodal] def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def i32be(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)

  // private[graft]: m33's dHash query hashes the decoded raster
  private[graft] final case class PngImage(
      w: Int, h: Int, colorType: Int, pixels: Array[Byte])

  private[graft] def decodeImage(b: Array[Byte], mediaId: Long): PngImage = {
    require(isPng(b), s"media_id=$mediaId: not a PNG payload")
    var i = 8
    var w = -1; var h = -1; var colorType = -1
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done) {
      require(i + 8 <= b.length, s"media_id=$mediaId: truncated PNG chunk header")
      val len = i32be(b, i)
      require(len >= 0 && i + 12 + len <= b.length,
        s"media_id=$mediaId: truncated PNG chunk body")
      val typ = new String(b, i + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(b, i + 4, 4 + len)
      require(crc.getValue == (i32be(b, i + 8 + len) & 0xffffffffL),
        s"media_id=$mediaId: PNG chunk '$typ' CRC mismatch")
      typ match {
        case "IHDR" =>
          require(len == 13, s"media_id=$mediaId: bad IHDR length $len")
          w = i32be(b, i + 8); h = i32be(b, i + 12)
          val depth = b(i + 16) & 0xff
          colorType = b(i + 17) & 0xff
          require(depth == 8,
            s"media_id=$mediaId: only 8-bit PNG supported, depth=$depth")
          require((b(i + 20) & 0xff) == 0,
            s"media_id=$mediaId: interlaced PNG not supported")
          channels(colorType) // validates the color type
          require(w > 0 && h > 0, s"media_id=$mediaId: bad PNG dims ${w}x$h")
        case "IDAT" => idat.write(b, i + 8, len)
        case "IEND" => done = true
        case _ => () // ancillary chunks skipped
      }
      i += 12 + len
    }
    require(w > 0, s"media_id=$mediaId: PNG missing IHDR")
    val bpp = channels(colorType)
    val stride = bpp * w
    val filtered = new Array[Byte](h * (1 + stride))
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    var off = 0
    while (off < filtered.length && !inflater.finished()) {
      val n = inflater.inflate(filtered, off, filtered.length - off)
      require(n > 0 || inflater.finished() || !inflater.needsInput(),
        s"media_id=$mediaId: truncated IDAT stream")
      off += n
    }
    inflater.end()
    require(off == filtered.length,
      s"media_id=$mediaId: IDAT inflated to $off of ${filtered.length} bytes")
    // scanline filter reconstruction over RECONSTRUCTED neighbors
    val pix = new Array[Byte](h * stride)
    var y = 0
    while (y < h) {
      val ft = filtered(y * (1 + stride)) & 0xff
      require(ft <= 4, s"media_id=$mediaId: bad PNG filter type $ft")
      var x = 0
      while (x < stride) {
        val f = filtered(y * (1 + stride) + 1 + x) & 0xff
        val left = if (x >= bpp) pix(y * stride + x - bpp) & 0xff else 0
        val up = if (y > 0) pix((y - 1) * stride + x) & 0xff else 0
        val ul = if (x >= bpp && y > 0) pix((y - 1) * stride + x - bpp) & 0xff else 0
        val recon = ft match {
          case 0 => f
          case 1 => f + left
          case 2 => f + up
          case 3 => f + (left + up) / 2
          case 4 => f + paeth(left, up, ul)
        }
        pix(y * stride + x) = recon.toByte
        x += 1
      }
      y += 1
    }
    PngImage(w, h, colorType, pix)
  }

  override def decode(row: MediaRow): MediaFeatures = {
    val img = decodeImage(row.payload, row.media_id)
    var checksum = 0L
    var j = 0
    while (j < img.pixels.length) {
      checksum = checksum * 31 + (img.pixels(j) & 0xff); j += 1
    }
    MediaFeatures(
      media_id = row.media_id,
      kind = row.kind,
      n_bytes = row.payload.length.toLong,
      width = img.w,
      height = img.h,
      n_channels = channels(img.colorType),
      checksum = checksum)
  }
}

/** Minimal deterministic PNG writer feeding the real decoder's
  * synthesis/test path: 8-bit RGB, STORED (uncompressed) zlib blocks
  * so the emitted byte length is algebraically predictable by the
  * m04 oracle (`68 + h·(1 + 3·w)` for one block), per-row filter
  * chosen by `filterOf` so every decoder filter branch is
  * exercisable. Filters compute from the original pixels — identical
  * to spec filtering, since reconstruction reproduces the original.
  */
object PngSynth {

  def encode(w: Int, h: Int, pixels: Array[Byte],
      filterOf: Int => Int): Array[Byte] = {
    require(pixels.length == 3 * w * h, "pixels must be 3·w·h RGB bytes")
    val stride = 3 * w
    val raw = new Array[Byte](h * (1 + stride))
    var y = 0
    while (y < h) {
      val ft = filterOf(y)
      require(ft >= 0 && ft <= 4, s"bad filter type $ft")
      raw(y * (1 + stride)) = ft.toByte
      var x = 0
      while (x < stride) {
        val cur = pixels(y * stride + x) & 0xff
        val left = if (x >= 3) pixels(y * stride + x - 3) & 0xff else 0
        val up = if (y > 0) pixels((y - 1) * stride + x) & 0xff else 0
        val ul = if (x >= 3 && y > 0) pixels((y - 1) * stride + x - 3) & 0xff else 0
        val f = ft match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case 4 => cur - PngDecoder.paeth(left, up, ul)
        }
        raw(y * (1 + stride) + 1 + x) = f.toByte
        x += 1
      }
      y += 1
    }
    // zlib stream: 2-byte header + ONE stored block + Adler32 (the
    // predictable-length contract; plenty for the synthetic payloads)
    require(raw.length <= 0xffff,
      "stored-block synthesis supports raw scanlines < 64 KiB")
    val adler = new java.util.zip.Adler32()
    adler.update(raw, 0, raw.length)
    val zlib = java.nio.ByteBuffer.allocate(2 + 5 + raw.length + 4)
    zlib.put(0x78.toByte).put(0x01.toByte) // deflate, 32K window, fastest
    zlib.put(0x01.toByte) // BFINAL=1, BTYPE=00 (stored)
    zlib.put((raw.length & 0xff).toByte).put(((raw.length >> 8) & 0xff).toByte)
    val nlen = raw.length ^ 0xffff
    zlib.put((nlen & 0xff).toByte).put(((nlen >> 8) & 0xff).toByte)
    zlib.put(raw)
    zlib.putInt(adler.getValue.toInt)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(t).put(data).putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(8.toByte)  // bit depth
      .put(2.toByte)  // color type: truecolor RGB
      .put(0.toByte).put(0.toByte).put(0.toByte) // compression/filter/interlace
      .array()
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", zlib.array()) ++ chunk("IEND", Array.emptyByteArray)
  }
}

/** Deterministic GIF89a synthesis with a PREDICTABLE byte length —
  * the LZW analog of PngSynth's stored-block trick: a clear code is
  * emitted before every literal, so the decoder's dictionary never
  * grows past the initial 258 entries and every code stays exactly
  * 9 bits. Codes = n clears + n literals + 1 EOI = 2n+1 for n
  * pixels, hence the compressed stream is ceil(9·(2n+1)/8) bytes —
  * an algebraic function of the dimensions that an oracle can
  * predict. Grayscale 256-entry global palette (index i → RGB
  * (i,i,i)), no GCE (so no transparency: decoders report 3
  * channels), single image block.
  */
object GifSynth {

  /** Total payload size for a w×h synthesis — the oracle's formula.
    * 6 header + 7 LSD + 768 GCT + 10 image descriptor + 1 min-code-
    * size + sub-blocks + 1 block terminator + 1 trailer.
    */
  def predictedBytes(w: Int, h: Int): Int = {
    val n = w * h
    val lzw = (9 * (2 * n + 1) + 7) / 8
    val blocks = (lzw + 254) / 255
    6 + 7 + 768 + 10 + 1 + lzw + blocks + 1 + 1
  }

  /** Encode w×h 8-bit palette indices (row-major) as a GIF89a. */
  def encode(w: Int, h: Int, indices: Array[Byte]): Array[Byte] = {
    require(indices.length == w * h, s"need ${w * h} indices, got ${indices.length}")
    val out = java.nio.ByteBuffer.allocate(predictedBytes(w, h))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("GIF89a".getBytes("US-ASCII"))
    // logical screen descriptor: GCT present, 8-bit color res, 256 entries
    out.putShort(w.toShort).putShort(h.toShort)
      .put(0xf7.toByte).put(0.toByte).put(0.toByte)
    var i = 0
    while (i < 256) { // grayscale global color table
      out.put(i.toByte).put(i.toByte).put(i.toByte); i += 1
    }
    // image descriptor at (0,0), no local table, not interlaced
    out.put(0x2c.toByte).putShort(0).putShort(0)
      .putShort(w.toShort).putShort(h.toShort).put(0.toByte)
    out.put(8.toByte) // LZW minimum code size
    // bit-pack the code stream LSB-first (GIF's LZW bit order)
    val n = w * h
    val lzwLen = (9 * (2 * n + 1) + 7) / 8
    val lzw = new Array[Byte](lzwLen)
    var bitPos = 0
    def putCode(c: Int): Unit = {
      var k = 0
      while (k < 9) {
        if (((c >> k) & 1) != 0) lzw(bitPos >> 3) = (lzw(bitPos >> 3) | (1 << (bitPos & 7))).toByte
        bitPos += 1; k += 1
      }
    }
    val Clear = 256
    val Eoi = 257
    i = 0
    while (i < n) { putCode(Clear); putCode(indices(i) & 0xff); i += 1 }
    putCode(Eoi)
    // sub-block packaging: ≤255-byte chunks, then a zero terminator
    var off = 0
    while (off < lzwLen) {
      val len = math.min(255, lzwLen - off)
      out.put(len.toByte).put(lzw, off, len)
      off += len
    }
    out.put(0.toByte)  // block terminator
    out.put(0x3b.toByte) // trailer
    require(out.remaining() == 0,
      s"GifSynth length drifted from predictedBytes for ${w}x$h")
    out.array()
  }
}

/** Shared ImageIO decode path for the formats whose codec every JDK
  * bundles (`com.sun.imageio.plugins.{jpeg,gif,bmp}` + PNG, which has
  * its own hand parser here). Dimensions and channel count are
  * codec-exact. The checksum folds over the DECODED RGB raster with
  * the same 31-fold as PPM/PNG — for lossy/implementation-defined
  * decodes (JPEG inverse-DCT) it is deterministic per JVM/codec (one
  * JDK per cluster in any real deployment), not a cross-vendor
  * contract; for GIF/BMP the raster is lossless, so the fold is
  * byte-exact everywhere.
  */
private[multimodal] object ImageIoSupport {

  // ImageIO defaults to a DISK-backed stream cache; per-row temp
  // files on executors would be absurd. One-time, process-wide.
  private lazy val noDiskCache: Unit = javax.imageio.ImageIO.setUseCache(false)

  /** Per-thread per-format reusable readers (r15 optimization):
    * `ImageIO.read`'s reader lookup walks the process-wide IIORegistry
    * under synchronization on every call and concurrent decode tasks
    * serialize on it (measured 0.8 s vs 4.4 s swings on the m22
    * cross-check — same registry). One reader per (task thread,
    * format), re-targeted per image via setInput; the JDK codec
    * itself is unchanged.
    */
  private val readers =
    new ThreadLocal[scala.collection.mutable.Map[String, javax.imageio.ImageReader]] {
      override def initialValue() = scala.collection.mutable.Map.empty
    }

  def decode(row: MediaRow, fmt: String): MediaFeatures = {
    noDiskCache
    val b = row.payload
    val reader = readers.get().getOrElseUpdate(fmt, {
      val it = javax.imageio.ImageIO.getImageReadersByFormatName(fmt)
      require(it.hasNext, s"no ImageIO reader for format $fmt")
      it.next()
    })
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(b))
    val img =
      try { reader.setInput(iis); reader.read(0) }
      catch {
        case e: java.io.IOException => throw new IllegalArgumentException(
          s"media_id=${row.media_id}: corrupt $fmt: ${e.getMessage}")
      }
      finally { reader.setInput(null); iis.close() }
    require(img != null, s"media_id=${row.media_id}: undecodable $fmt payload")
    val w = img.getWidth
    val h = img.getHeight
    var checksum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val argb = img.getRGB(x, y) // sRGB-converted, alpha-stripped below
        checksum = checksum * 31 + ((argb >> 16) & 0xff)
        checksum = checksum * 31 + ((argb >> 8) & 0xff)
        checksum = checksum * 31 + (argb & 0xff)
        x += 1
      }
      y += 1
    }
    MediaFeatures(
      media_id = row.media_id,
      kind = row.kind,
      n_bytes = b.length.toLong,
      width = w,
      height = h,
      n_channels = img.getColorModel.getNumComponents,
      checksum = checksum)
  }
}

/** REAL JPEG decoder — the DCT-compressed tier above PNG's DEFLATE.
  * No external library: every JDK bundles a full baseline+progressive
  * JPEG codec behind `javax.imageio.ImageIO`, so "this container has
  * no media libs" does not apply to JPEG (see [[ImageIoSupport]] for
  * the checksum-scope caveat on lossy decodes).
  */
object JpegDecoder extends MediaDecoder {

  def isJpeg(bytes: Array[Byte]): Boolean =
    bytes.length >= 3 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8 && (bytes(2) & 0xff) == 0xff

  override def decode(row: MediaRow): MediaFeatures = {
    require(isJpeg(row.payload), s"media_id=${row.media_id}: not a JPEG payload")
    ImageIoSupport.decode(row, "JPEG")
  }
}

/** REAL GIF decoder via the JDK's bundled LZW codec — the
  * palette-indexed tier of the codec matrix (PPM raw → PNG DEFLATE →
  * JPEG DCT → GIF LZW). Width/height/palette-resolved RGB raster are
  * codec-exact and lossless.
  */
object GifDecoder extends MediaDecoder {

  def isGif(bytes: Array[Byte]): Boolean =
    bytes.length >= 6 && bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F' &&
      bytes(3) == '8' && (bytes(4) == '7' || bytes(4) == '9') && bytes(5) == 'a'

  override def decode(row: MediaRow): MediaFeatures = {
    require(isGif(row.payload), s"media_id=${row.media_id}: not a GIF payload")
    ImageIoSupport.decode(row, "GIF")
  }
}

/** REAL BMP decoder via the JDK's bundled codec — the uncompressed
  * interchange tier (BI_RGB 24-bit is the overwhelmingly common
  * case). The 2-byte "BM" magic alone is a weak sniff, so the header
  * is also required to parse: declared file size == payload length
  * (our synthesis and virtually every real-world writer set it) and a
  * sane pixel-data offset.
  */
object BmpDecoder extends MediaDecoder {

  def isBmp(bytes: Array[Byte]): Boolean = {
    if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return false
    def le32(i: Int): Long =
      (bytes(i) & 0xffL) | ((bytes(i + 1) & 0xffL) << 8) |
        ((bytes(i + 2) & 0xffL) << 16) | ((bytes(i + 3) & 0xffL) << 24)
    le32(2) == bytes.length && { val off = le32(10); off >= 54 && off < bytes.length }
  }

  override def decode(row: MediaRow): MediaFeatures = {
    require(isBmp(row.payload), s"media_id=${row.media_id}: not a BMP payload")
    ImageIoSupport.decode(row, "BMP")
  }
}

/** REAL TIFF decoder via the JDK's bundled codec (TIFFImageReader,
  * standard since JDK 9) — the archival/scan tier, and the last
  * raster format the JDK ships an ImageIO plugin for (after JPEG,
  * PNG, GIF, BMP). The sniff accepts both byte orders of the magic
  * (`II*\0` little-endian, `MM\0*` big-endian) plus a sane
  * first-IFD offset. Grayscale samples pass through the JDK's
  * gray→sRGB color management in `getRGB`, so the raster checksum
  * is deterministic per JVM (the JPEG caveat), while dims/channels/
  * byte length are codec-exact.
  */
object TiffDecoder extends MediaDecoder {

  def isTiff(bytes: Array[Byte]): Boolean = {
    if (bytes.length < 8) return false
    val le = bytes(0) == 'I' && bytes(1) == 'I' &&
      bytes(2) == 42 && bytes(3) == 0
    val be = bytes(0) == 'M' && bytes(1) == 'M' &&
      bytes(2) == 0 && bytes(3) == 42
    if (!le && !be) return false
    val ifd =
      if (le) (bytes(4) & 0xffL) | ((bytes(5) & 0xffL) << 8) |
        ((bytes(6) & 0xffL) << 16) | ((bytes(7) & 0xffL) << 24)
      else ((bytes(4) & 0xffL) << 24) | ((bytes(5) & 0xffL) << 16) |
        ((bytes(6) & 0xffL) << 8) | (bytes(7) & 0xffL)
    ifd >= 8 && ifd < bytes.length
  }

  override def decode(row: MediaRow): MediaFeatures = {
    require(isTiff(row.payload), s"media_id=${row.media_id}: not a TIFF payload")
    ImageIoSupport.decode(row, "TIFF")
  }
}

/** REAL MP3 METADATA parser — the compressed-audio analog of what a
  * curation pipeline actually queries. Full PCM decode needs a codec
  * no JDK ships (and stays out of scope — a wrong guess there would
  * be worse than a loud stub), but the FRAME STRUCTURE is a
  * hand-parseable spec exactly like WAV's chunk list: an optional
  * ID3v2 tag (size-prefixed, syncsafe), then a sequence of frames
  * whose 4-byte headers carry version/layer/bitrate/sample-rate/
  * channel-mode and whose byte length is computable from them
  * (`144·bitrate/rate + padding` for Layer III). This walks every
  * frame: sample rate, channel count, and frame count (= duration ×
  * 38.28 fps at 44.1 kHz) are codec-exact metadata, and the checksum
  * folds over the frame bytes (the compressed stream, same fold and
  * same scope as WAV's data chunk). MPEG-1/2/2.5 Layer III, the
  * MP3-file case; free-format bitrate (index 0) fails loudly.
  */
object Mp3Decoder extends MediaDecoder {

  // bitrate (kbps) tables, Layer III: MPEG-1 and MPEG-2/2.5
  private val BitrateV1 =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
  private val BitrateV2 =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0)
  // sample-rate (Hz) per version, indexed by the 2-bit rate field
  private val RateV1 = Array(44100, 48000, 32000, 0)
  private val RateV2 = Array(22050, 24000, 16000, 0)
  private val RateV25 = Array(11025, 12000, 8000, 0)

  /** Header fields of one frame, plus its total byte length. */
  private final case class FrameHeader(
      sampleRate: Int, channels: Int, frameLen: Int)

  /** Parses the 4-byte header at `i`; None if not a valid frame. */
  private def frameAt(b: Array[Byte], i: Int): Option[FrameHeader] = {
    if (i + 4 > b.length) return None
    val h0 = b(i) & 0xff; val h1 = b(i + 1) & 0xff
    val h2 = b(i + 2) & 0xff; val h3 = b(i + 3) & 0xff
    if (h0 != 0xff || (h1 & 0xe0) != 0xe0) return None
    val versionBits = (h1 >> 3) & 0x3 // 0=2.5, 1=reserved, 2=MPEG2, 3=MPEG1
    val layerBits = (h1 >> 1) & 0x3   // 1 = Layer III
    if (versionBits == 1 || layerBits != 1) return None
    val bitrateIdx = (h2 >> 4) & 0xf
    val rateIdx = (h2 >> 2) & 0x3
    if (bitrateIdx == 0 || bitrateIdx == 15 || rateIdx == 3) return None
    val mpeg1 = versionBits == 3
    val bitrate = (if (mpeg1) BitrateV1 else BitrateV2)(bitrateIdx) * 1000
    val rate = (versionBits match {
      case 3 => RateV1
      case 2 => RateV2
      case _ => RateV25
    })(rateIdx)
    val padding = (h2 >> 1) & 0x1
    // samples/frame: 1152 (MPEG-1 L3) or 576 (MPEG-2/2.5 L3)
    val frameLen = (if (mpeg1) 144 else 72) * bitrate / rate + padding
    val channels = if (((h3 >> 6) & 0x3) == 3) 1 else 2 // 3 = mono
    Some(FrameHeader(rate, channels, frameLen))
  }

  /** Skips a leading ID3v2 tag (10-byte header, syncsafe 28-bit size;
    * the syncsafe size excludes both the header AND the optional
    * 10-byte footer, whose presence flag is header byte 5 bit 4 —
    * without the footer skip a footered tag lands the frame probe on
    * the footer bytes and a valid MP3 falls through to the stub).
    */
  private def afterId3(b: Array[Byte]): Int =
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val size = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      val footer = if ((b(5) & 0x10) != 0) 10 else 0
      10 + size + footer
    } else 0

  /** MP3 sniff: a VALID Layer-III frame header (full field
    * validation, not just the sync bits) at offset 0 or right after
    * an ID3v2 tag. An "ID3"-leading text payload or an arbitrary
    * 0xFF-leading binary does NOT match — those keep falling through
    * to the stub, exactly as before this parser existed.
    */
  def isMp3(bytes: Array[Byte]): Boolean = {
    val start = afterId3(bytes)
    frameAt(bytes, start).isDefined
  }

  override def decode(row: MediaRow): MediaFeatures = {
    val b = row.payload
    var i = afterId3(b)
    require(i <= b.length, s"media_id=${row.media_id}: truncated ID3v2 tag")
    var frames = 0
    var rate = -1
    var channels = -1
    var checksum = 0L
    var done = false
    while (!done) {
      frameAt(b, i) match {
        case Some(f) if i + f.frameLen <= b.length =>
          if (rate < 0) { rate = f.sampleRate; channels = f.channels }
          var j = i
          val end = i + f.frameLen
          while (j < end) { checksum = checksum * 31 + (b(j) & 0xff); j += 1 }
          frames += 1
          i = end
        case _ => done = true
      }
    }
    require(frames > 0, s"media_id=${row.media_id}: no valid MP3 frame")
    MediaFeatures(
      media_id = row.media_id,
      kind = row.kind,
      n_bytes = b.length.toLong,
      width = rate,      // sample rate in Hz, same mapping as WavDecoder
      height = frames,   // frame count (frames × 1152∕rate = duration)
      n_channels = channels,
      checksum = checksum)
  }
}

/** REAL MP4/ISO-BMFF CONTAINER METADATA parser — the video analog of
  * [[Mp3Decoder]]. Codec-frame decode (H.264 etc.) needs a codec no
  * JDK ships and stays a loud stub, but the CONTAINER is a
  * hand-parseable spec exactly like WAV's chunk list or MP3's frame
  * sequence: a flat tree of size-prefixed boxes (4-byte big-endian
  * length + 4-char type), where `moov/mvhd` carries timescale +
  * duration, each `moov/trak/tkhd` carries track id and 16.16
  * fixed-point presentation dimensions, and `mdat` carries the coded
  * samples. This walks the real tree — both mvhd/tkhd versions (v0
  * 32-bit and v1 64-bit times), `size==0` ("to end of file") and a
  * loud failure on `size==1` 64-bit largesize (payloads here are
  * in-memory byte arrays ≪ 4 GiB, so a largesize is corruption, not
  * scale) — and emits container-exact metadata: presentation
  * width/height from the first video-sized tkhd, track count, and a
  * checksum folded over the `mdat` payload bytes (the coded stream —
  * same fold and scope as WAV's data chunk / MP3's frames). What a
  * 100 TB curation pipeline actually filters on (duration floors,
  * resolution gates, track sanity) is exactly this container
  * metadata; only the per-frame pixel decode remains behind
  * [[FakeDecoder]].
  */
object Mp4Decoder extends MediaDecoder {

  /** MP4 sniff: the spec-mandated `ftyp` box first (its 4-byte size
    * may vary; the type at offset 4 is the signature). `moov`-first
    * files exist in theory, but every muxer writes `ftyp` first —
    * anything else keeps falling through to the stub.
    */
  def isMp4(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 && bytes(4) == 'f' && bytes(5) == 't' &&
      bytes(6) == 'y' && bytes(7) == 'p'

  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)

  private def boxType(b: Array[Byte], i: Int): String =
    new String(b, i + 4, 4, "US-ASCII")

  /** Resolved [start, end) of the box at `i`, handling size==0
    * (to end of enclosing range) and rejecting size==1 largesize.
    */
  private def boxEnd(b: Array[Byte], i: Int, limit: Int, mediaId: Long): Int = {
    require(i + 8 <= limit, s"media_id=$mediaId: truncated box header at $i")
    val size = be32(b, i)
    require(size != 1, s"media_id=$mediaId: 64-bit largesize box unsupported")
    if (size == 0) limit
    else {
      require(size >= 8 && i + size <= limit,
        s"media_id=$mediaId: bad box size $size at $i (limit $limit)")
      i + size.toInt
    }
  }

  /** Walks the child boxes of [start, end), invoking `f(type, boxStart,
    * boxEnd)` per box.
    */
  private def walk(b: Array[Byte], start: Int, end: Int, mediaId: Long)(
      f: (String, Int, Int) => Unit): Unit = {
    var i = start
    while (i < end) {
      val e = boxEnd(b, i, end, mediaId)
      f(boxType(b, i), i, e)
      i = e
    }
  }

  override def decode(row: MediaRow): MediaFeatures = {
    val b = row.payload
    require(isMp4(b), s"media_id=${row.media_id}: not an ISO-BMFF payload")
    var sawFtyp = false
    var timescale = -1L
    var duration = -1L
    var nTracks = 0
    var width = 0
    var height = 0
    var checksum = 0L
    walk(b, 0, b.length, row.media_id) { (t, s, e) =>
      t match {
        case "ftyp" => sawFtyp = true
        case "moov" =>
          walk(b, s + 8, e, row.media_id) { (ct, cs, ce) =>
            ct match {
              case "mvhd" =>
                val v = b(cs + 8) & 0xff
                // v0: ver/flags, ctime, mtime, timescale@+20, dur@+24 (32-bit)
                // v1: 64-bit ctime/mtime push timescale to +28, dur@+32 (64-bit)
                if (v == 0) { timescale = be32(b, cs + 20); duration = be32(b, cs + 24) }
                else {
                  timescale = be32(b, cs + 28)
                  duration = (be32(b, cs + 32) << 32) | be32(b, cs + 36)
                }
              case "trak" =>
                nTracks += 1
                walk(b, cs + 8, ce, row.media_id) { (tt, ts, _) =>
                  if (tt == "tkhd") {
                    val v = b(ts + 8) & 0xff
                    // width/height are 16.16 fixed point at the end of the
                    // box: v0 +84/+88, v1 (64-bit times = +12) +96/+100
                    val off = if (v == 0) 84 else 96
                    val w = (be32(b, ts + off) >> 16).toInt
                    val h = (be32(b, ts + off + 4) >> 16).toInt
                    if (width == 0 && w > 0 && h > 0) { width = w; height = h }
                  }
                }
              case _ => ()
            }
          }
        case "mdat" =>
          var j = s + 8
          while (j < e) { checksum = checksum * 31 + (b(j) & 0xff); j += 1 }
        case _ => ()
      }
    }
    require(sawFtyp, s"media_id=${row.media_id}: no ftyp box")
    require(timescale > 0, s"media_id=${row.media_id}: no mvhd or zero timescale")
    require(duration >= 0, s"media_id=${row.media_id}: negative mvhd duration")
    require(nTracks > 0, s"media_id=${row.media_id}: moov carries no tracks")
    MediaFeatures(
      media_id = row.media_id,
      kind = row.kind,
      n_bytes = b.length.toLong,
      width = width,       // presentation dims from the first video tkhd
      height = height,
      n_channels = nTracks, // track count, the container's "channel" axis
      checksum = checksum)
  }
}

/** REAL FLAC STREAMINFO parser — the lossless-compressed-audio
  * analog of [[Mp3Decoder]]. Rice-coded FIXED-subframe FRAME decode
  * is real too since round 9 ([[FlacFrameCodec]], exercised by m17
  * which hash-gates the decoded PCM); this decoder is the metadata
  * tier (m11), and the container is a hand-parseable spec: a 4-byte `fLaC` magic,
  * then size-prefixed metadata blocks (1-byte last-flag|type header +
  * 24-bit big-endian length) of which the first is the mandatory
  * 34-byte STREAMINFO — sample rate (20 bits), channels−1 (3 bits),
  * bits-per-sample−1 (5 bits) and total samples (36 bits) bit-packed
  * into one 64-bit word — and everything after the last metadata
  * block is the coded frame stream. Exactly the fields a curation
  * pipeline filters audio on (rate floors, channel sanity, duration
  * = totalSamples∕rate); the checksum folds over the frame bytes,
  * same fold and scope as WAV's data chunk / MP3's frames / MP4's
  * mdat.
  */
object FlacDecoder extends MediaDecoder {

  /** FLAC sniff: the `fLaC` magic AND a well-formed leading
    * STREAMINFO block header (type 0, length 34) — a text payload
    * that merely starts with "fLaC" keeps falling through.
    */
  def isFlac(b: Array[Byte]): Boolean =
    b.length >= 42 && b(0) == 'f' && b(1) == 'L' && b(2) == 'a' &&
      b(3) == 'C' && (b(4) & 0x7f) == 0 &&
      ((b(5) & 0xff) << 16 | (b(6) & 0xff) << 8 | (b(7) & 0xff)) == 34

  override def decode(row: MediaRow): MediaFeatures = {
    val b = row.payload
    require(isFlac(b), s"media_id=${row.media_id}: not a FLAC payload")
    var i = 4
    var last = false
    var rate = -1
    var channels = -1
    var totalSamples = -1L
    while (!last) {
      require(i + 4 <= b.length, s"media_id=${row.media_id}: truncated block header at $i")
      last = (b(i) & 0x80) != 0
      val blockType = b(i) & 0x7f
      val len = (b(i + 1) & 0xff) << 16 | (b(i + 2) & 0xff) << 8 | (b(i + 3) & 0xff)
      require(i + 4 + len <= b.length,
        s"media_id=${row.media_id}: metadata block overruns payload at $i")
      if (blockType == 0) {
        // STREAMINFO: skip min/max block size (4 B) + min/max frame
        // size (6 B); the next 8 bytes pack rate/channels/bps/samples.
        val p = i + 4 + 10
        var word = 0L
        var k = 0
        while (k < 8) { word = (word << 8) | (b(p + k) & 0xffL); k += 1 }
        rate = ((word >>> 44) & 0xfffff).toInt
        channels = ((word >>> 41) & 0x7).toInt + 1
        totalSamples = word & 0xfffffffffL
      }
      i += 4 + len
    }
    require(rate > 0, s"media_id=${row.media_id}: no STREAMINFO or zero sample rate")
    var checksum = 0L
    var j = i
    while (j < b.length) { checksum = checksum * 31 + (b(j) & 0xff); j += 1 }
    MediaFeatures(
      media_id = row.media_id,
      kind = row.kind,
      n_bytes = b.length.toLong,
      width = rate,                    // sample rate, same mapping as WavDecoder
      height = totalSamples.toInt,     // total samples (= duration · rate)
      n_channels = channels,
      checksum = checksum)
  }
}

/** REAL Matroska/WebM (EBML) CONTAINER METADATA parser — the second
  * video-container leg next to [[Mp4Decoder]]. Codec-frame decode
  * (VP9/Opus etc.) stays a loud stub, but the container is a
  * hand-parseable spec: a tree of EBML elements, each a
  * variable-length ID (leading-zero-count class encoding, marker bit
  * kept) + a variable-length size (marker bit stripped) + payload.
  * This walks the real tree — EBML header → DocType, Segment → Info
  * (TimestampScale, Duration), Tracks → TrackEntry (TrackType,
  * Video→PixelWidth/PixelHeight, Audio→Channels), Cluster →
  * SimpleBlock — and emits container-exact metadata: presentation
  * dims from the first VIDEO track, track count, and a checksum over
  * the SimpleBlock coded bytes (same fold and scope as MP4's mdat).
  * Non-minimal size encodings (an 8-byte varint on Segment/Cluster,
  * the streaming-muxer shape) parse identically to minimal ones.
  */
object MkvDecoder extends MediaDecoder {

  /** Matroska sniff: the EBML magic 0x1A45DFA3. */
  def isMkv(b: Array[Byte]): Boolean =
    b.length >= 4 && b(0) == 0x1a.toByte && b(1) == 0x45.toByte &&
      b(2) == 0xdf.toByte && b(3) == 0xa3.toByte

  /** Length in bytes of the varint starting at `i` (position of the
    * highest set bit in the first byte).
    */
  private[multimodal] def vintLen(b: Array[Byte], i: Int, mediaId: Long): Int = {
    val h = b(i) & 0xff
    require(h != 0, s"media_id=$mediaId: invalid EBML varint (zero lead byte) at $i")
    var mask = 0x80; var n = 1
    while ((h & mask) == 0) { mask >>= 1; n += 1 }
    n
  }

  /** EBML element ID at `i`: all bytes INCLUDING the marker bit (the
    * spec's class-encoded form, matching the published ID tables).
    */
  private[multimodal] def readId(b: Array[Byte], i: Int, n: Int): Long = {
    var v = 0L; var k = 0
    while (k < n) { v = (v << 8) | (b(i + k) & 0xffL); k += 1 }
    v
  }

  /** EBML data size at `i`: marker bit stripped. */
  private[multimodal] def readSize(b: Array[Byte], i: Int, n: Int): Long = {
    var v = (b(i) & (0xff >>> n)).toLong
    var k = 1
    while (k < n) { v = (v << 8) | (b(i + k) & 0xffL); k += 1 }
    v
  }

  /** Unsigned big-endian integer payload. */
  private def uint(b: Array[Byte], i: Int, len: Int): Long = {
    var v = 0L; var k = 0
    while (k < len) { v = (v << 8) | (b(i + k) & 0xffL); k += 1 }
    v
  }

  /** Walks child elements of [start, end), invoking
    * `f(id, payloadStart, payloadEnd)` per element.
    */
  private def walk(b: Array[Byte], start: Int, end: Int, mediaId: Long)(
      f: (Long, Int, Int) => Unit): Unit = {
    var i = start
    while (i < end) {
      val idLen = vintLen(b, i, mediaId)
      require(i + idLen <= end, s"media_id=$mediaId: truncated element id at $i")
      val id = readId(b, i, idLen)
      val szLen = vintLen(b, i + idLen, mediaId)
      require(i + idLen + szLen <= end, s"media_id=$mediaId: truncated size at $i")
      val size = readSize(b, i + idLen, szLen)
      val ps = i + idLen + szLen
      val pe = ps + size.toInt
      require(size >= 0 && pe <= end,
        s"media_id=$mediaId: element 0x${id.toHexString} overruns parent at $i")
      f(id, ps, pe)
      i = pe
    }
  }

  override def decode(row: MediaRow): MediaFeatures = {
    val b = row.payload
    require(isMkv(b), s"media_id=${row.media_id}: not an EBML payload")
    var docType = ""
    var timescale = -1L
    var nTracks = 0
    var width = 0
    var height = 0
    var checksum = 0L
    walk(b, 0, b.length, row.media_id) { (id, s, e) =>
      id match {
        case 0x1a45dfa3L => // EBML header
          walk(b, s, e, row.media_id) { (cid, cs, ce) =>
            if (cid == 0x4282L) docType = new String(b, cs, ce - cs, "US-ASCII")
          }
        case 0x18538067L => // Segment
          walk(b, s, e, row.media_id) { (cid, cs, ce) =>
            cid match {
              case 0x1549a966L => // Info
                walk(b, cs, ce, row.media_id) { (iid, is, ie) =>
                  if (iid == 0x2ad7b1L) timescale = uint(b, is, ie - is)
                }
              case 0x1654ae6bL => // Tracks
                walk(b, cs, ce, row.media_id) { (tid, ts, te) =>
                  if (tid == 0xaeL) { // TrackEntry
                    nTracks += 1
                    var trackType = -1L
                    var w = 0; var h = 0
                    walk(b, ts, te, row.media_id) { (eid, es, ee) =>
                      eid match {
                        case 0x83L => trackType = uint(b, es, ee - es)
                        case 0xe0L => // Video
                          walk(b, es, ee, row.media_id) { (vid, vs, ve) =>
                            if (vid == 0xb0L) w = uint(b, vs, ve - vs).toInt
                            else if (vid == 0xbaL) h = uint(b, vs, ve - vs).toInt
                          }
                        case _ => ()
                      }
                    }
                    if (trackType == 1 && width == 0 && w > 0 && h > 0) {
                      width = w; height = h
                    }
                  }
                }
              case 0x1f43b675L => // Cluster
                walk(b, cs, ce, row.media_id) { (kid, ks, ke) =>
                  if (kid == 0xa3L) { // SimpleBlock: track vint + s16 + flags
                    val skip = vintLen(b, ks, row.media_id) + 3
                    var j = ks + skip
                    while (j < ke) { checksum = checksum * 31 + (b(j) & 0xff); j += 1 }
                  }
                }
              case _ => ()
            }
          }
        case _ => ()
      }
    }
    require(docType == "webm" || docType == "matroska",
      s"media_id=${row.media_id}: unexpected EBML DocType '$docType'")
    require(timescale > 0, s"media_id=${row.media_id}: no Info or zero TimestampScale")
    require(nTracks > 0, s"media_id=${row.media_id}: Tracks carries no entries")
    MediaFeatures(
      media_id = row.media_id,
      kind = row.kind,
      n_bytes = b.length.toLong,
      width = width,        // presentation dims from the first video track
      height = height,
      n_channels = nTracks, // track count, same axis as Mp4Decoder
      checksum = checksum)
  }
}

/** The Ogg page CRC (RFC 3533 §6): CRC-32 with polynomial
  * 0x04c11db7, FORWARD bit order (unreflected — NOT the zlib CRC),
  * zero initial value, zero final xor, computed over the whole page
  * with the 4 CRC bytes zeroed. Shared by the synth (writes it) and
  * the parser (verifies it).
  */
private[graft] object OggCrc {
  private val table: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var k = 0
      while (k < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04c11db7 else r << 1
        k += 1
      }
      t(i) = r
      i += 1
    }
    t
  }

  /** CRC over [from, until) of `b`, treating the 4 bytes starting at
    * `zeroAt` as zero (the in-place CRC-field rule).
    */
  def compute(b: Array[Byte], from: Int, until: Int, zeroAt: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      val v = if (i >= zeroAt && i < zeroAt + 4) 0 else b(i) & 0xff
      crc = (crc << 8) ^ table(((crc >>> 24) ^ v) & 0xff)
      i += 1
    }
    crc
  }
}

/** REAL Ogg (RFC 3533) CONTAINER METADATA parser — the third audio
  * container next to WAV and MP3/FLAC, and the one speech corpora
  * actually ship (.ogg/.opus). Opus frame decode needs a codec no
  * JDK ships and stays a loud stub, but the page layer is a
  * hand-parseable spec: "OggS" capture pattern + version + header
  * type (BOS/EOS flags) + 64-bit granule position + serial/sequence
  * numbers + a REAL page CRC (forward CRC-32, verified per page —
  * a single flipped payload bit fails the parse loudly, the
  * integrity property a 100 TB crawl ingest actually wants) + a
  * lacing-value segment table sizing the payload. The BOS page
  * carries the OpusHead (RFC 7845) identification header: channel
  * count and input sample rate; the final page's granule position is
  * the stream's total sample count. Checksum folds over the data
  * pages' payloads (the coded stream — same scope as MP3 frames /
  * mdat / FLAC frames).
  */
object OggDecoder extends MediaDecoder {

  def isOgg(b: Array[Byte]): Boolean =
    b.length >= 27 && b(0) == 'O' && b(1) == 'g' && b(2) == 'g' &&
      b(3) == 'S' && b(4) == 0

  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  private def le64(b: Array[Byte], i: Int): Long =
    (le32(b, i) & 0xffffffffL) | ((le32(b, i + 4) & 0xffffffffL) << 32)

  override def decode(row: MediaRow): MediaFeatures = {
    val b = row.payload
    require(isOgg(b), s"media_id=${row.media_id}: not an Ogg payload")
    var i = 0
    var rate = -1
    var channels = -1
    var granule = -1L
    var sawBos = false
    var sawEos = false
    var checksum = 0L
    while (i < b.length) {
      require(i + 27 <= b.length, s"media_id=${row.media_id}: truncated page header at $i")
      require(b(i) == 'O' && b(i + 1) == 'g' && b(i + 2) == 'g' && b(i + 3) == 'S' &&
        b(i + 4) == 0, s"media_id=${row.media_id}: bad page capture pattern at $i")
      val headerType = b(i + 5) & 0xff
      val pageGranule = le64(b, i + 6)
      val declaredCrc = le32(b, i + 22)
      val nSegs = b(i + 26) & 0xff
      require(i + 27 + nSegs <= b.length,
        s"media_id=${row.media_id}: truncated segment table at $i")
      var payloadLen = 0
      var s = 0
      while (s < nSegs) { payloadLen += b(i + 27 + s) & 0xff; s += 1 }
      val payloadStart = i + 27 + nSegs
      val pageEnd = payloadStart + payloadLen
      require(pageEnd <= b.length,
        s"media_id=${row.media_id}: page payload overruns buffer at $i")
      val actualCrc = OggCrc.compute(b, i, pageEnd, i + 22)
      require(actualCrc == declaredCrc,
        s"media_id=${row.media_id}: page CRC mismatch at $i " +
          f"(declared 0x$declaredCrc%08x, computed 0x$actualCrc%08x)")
      if ((headerType & 0x02) != 0) {
        // BOS: identification header — OpusHead (RFC 7845)
        sawBos = true
        require(payloadLen >= 19 &&
          new String(b, payloadStart, 8, "US-ASCII") == "OpusHead",
          s"media_id=${row.media_id}: BOS page carries no OpusHead")
        channels = b(payloadStart + 9) & 0xff
        rate = le32(b, payloadStart + 12)
      } else {
        var j = payloadStart
        while (j < pageEnd) { checksum = checksum * 31 + (b(j) & 0xff); j += 1 }
      }
      if ((headerType & 0x04) != 0) sawEos = true
      if (pageGranule >= 0) granule = pageGranule
      i = pageEnd
    }
    require(sawBos, s"media_id=${row.media_id}: no BOS page")
    require(sawEos, s"media_id=${row.media_id}: no EOS page")
    require(rate > 0 && channels > 0, s"media_id=${row.media_id}: bad OpusHead")
    MediaFeatures(
      media_id = row.media_id,
      kind = row.kind,
      n_bytes = b.length.toLong,
      width = rate,                // OpusHead input sample rate
      height = granule.toInt,      // final granule = total samples
      n_channels = channels,
      checksum = checksum)
  }
}

/** REAL WebP (RIFF container + VP8L header) METADATA parser — the
  * image format modern web crawls actually contain (no JDK ImageIO
  * codec exists for it, so this is a hand walk like MP4/MKV/Ogg):
  * the 12-byte RIFF preamble (whose declared size is REQUIRED to
  * equal the payload length — truncation fails loudly), the WEBP
  * form tag, then the chunk walk to a VP8L (lossless) bitstream
  * chunk, whose 0x2f signature byte precedes a 32-bit word packing
  * width−1 (14 bits), height−1 (14 bits), an alpha flag, and a
  * version REQUIRED to be 0. Dims/channels come from that real
  * bit-unpack; the entropy-coded stream itself is codec-frame decode
  * (stubbed by policy, like MP4/WebM samples); checksum folds over
  * the compressed stream bytes. Even-byte chunk padding is honored
  * in the walk.
  */
object WebpDecoder extends MediaDecoder {

  def isWebp(b: Array[Byte]): Boolean =
    b.length >= 16 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P'

  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  override def decode(row: MediaRow): MediaFeatures = {
    val b = row.payload
    require(isWebp(b), s"media_id=${row.media_id}: not a RIFF/WEBP payload")
    require(le32(b, 4) == b.length - 8,
      s"media_id=${row.media_id}: RIFF declares ${le32(b, 4)} bytes, " +
        s"payload carries ${b.length - 8}")
    var i = 12
    while (i + 8 <= b.length) {
      val tag = new String(b, i, 4, "US-ASCII")
      val size = le32(b, i + 4)
      require(i + 8 + size <= b.length,
        s"media_id=${row.media_id}: chunk '$tag' overruns the payload")
      if (tag == "VP8L") {
        require(size >= 5 && (b(i + 8) & 0xff) == 0x2f,
          s"media_id=${row.media_id}: VP8L chunk lacks the 0x2f signature")
        val bits = le32(b, i + 9)
        val w = (bits & 0x3fff) + 1
        val h = ((bits >> 14) & 0x3fff) + 1
        val alpha = (bits >> 28) & 1
        require(((bits >> 29) & 0x7) == 0,
          s"media_id=${row.media_id}: VP8L version must be 0")
        var checksum = 0L
        var j = i + 13
        val end = i + 8 + size
        while (j < end) { checksum = checksum * 31 + (b(j) & 0xff); j += 1 }
        return MediaFeatures(
          media_id = row.media_id,
          kind = row.kind,
          n_bytes = b.length.toLong,
          width = w,
          height = h,
          n_channels = 3 + alpha,
          checksum = checksum)
      }
      i += 8 + size + (size & 1) // chunks pad to even
    }
    throw new IllegalArgumentException(
      s"media_id=${row.media_id}: no VP8L chunk in the WebP container")
  }
}

/** REAL PDF (ISO 32000) CONTAINER METADATA parser — the DOCUMENT
  * format class next to the raster/audio/video tiers, and the one
  * book/paper corpora actually arrive in. The whole file is walked
  * through its REAL cross-reference machinery, not scanned for
  * keywords: locate `startxref` + `%%EOF` at the tail, follow the
  * startxref offset and REQUIRE the xref table actually lives there,
  * parse the fixed 20-byte xref entries, and for EVERY in-use entry
  * REQUIRE that `<id> 0 obj` really starts at the declared byte
  * offset — the offset-integrity check a malformed or truncated PDF
  * fails loudly (the xref analog of Ogg's per-page CRC). The page
  * tree's /Count gives n_pages, the first /Type /Page's /MediaBox
  * gives the presentation dims, and the checksum folds over the
  * content-STREAM payload bytes in object order (the coded stream —
  * same scope as mdat / MP3 frames / FLAC frames). Bytes are viewed
  * through ISO-8859-1 (1 byte = 1 char, lossless) so offsets are
  * byte-exact.
  */
object PdfDecoder extends MediaDecoder {

  def isPdf(b: Array[Byte]): Boolean =
    b.length >= 9 && b(0) == '%' && b(1) == 'P' && b(2) == 'D' &&
      b(3) == 'F' && b(4) == '-'

  override def decode(row: MediaRow): MediaFeatures = {
    val b = row.payload
    require(isPdf(b), s"media_id=${row.media_id}: not a PDF payload")
    val s = new String(b, "ISO-8859-1")
    require(s.endsWith("%%EOF\n"),
      s"media_id=${row.media_id}: missing %%EOF marker")
    val sxAt = s.lastIndexOf("startxref\n")
    require(sxAt >= 0, s"media_id=${row.media_id}: no startxref")
    val offEnd = s.indexOf('\n', sxAt + 10)
    val xrefOff = s.substring(sxAt + 10, offEnd).trim.toInt
    // integrity check #1: the xref table must actually live at the
    // declared offset
    require(s.startsWith("xref\n", xrefOff),
      s"media_id=${row.media_id}: startxref $xrefOff does not point at the xref table")
    val subHdrEnd = s.indexOf('\n', xrefOff + 5)
    val subHdr = s.substring(xrefOff + 5, subHdrEnd).split(' ')
    require(subHdr.length == 2 && subHdr(0) == "0",
      s"media_id=${row.media_id}: unsupported xref subsection ${subHdr.mkString(" ")}")
    val nEntries = subHdr(1).toInt
    var checksum = 0L
    var nPages = -1
    var width = -1
    var height = -1
    var e = 1 // entry 0 is the free-list head
    while (e < nEntries) {
      val at = subHdrEnd + 1 + e * 20
      val entry = s.substring(at, at + 20)
      require(entry.charAt(17) == 'n',
        s"media_id=${row.media_id}: xref entry $e is not in-use")
      val objOff = entry.substring(0, 10).toInt
      // integrity check #2: EVERY in-use entry must point at its
      // object header
      require(s.startsWith(s"$e 0 obj\n", objOff),
        s"media_id=${row.media_id}: xref entry $e declares offset $objOff " +
          "but no matching object header lives there")
      val bodyAt = objOff + s"$e 0 obj\n".length
      if (s.startsWith("<< /Type /Pages ", bodyAt)) {
        val cAt = s.indexOf("/Count ", bodyAt) + 7
        nPages = s.substring(cAt, s.indexOf(' ', cAt)).toInt
      } else if (s.startsWith("<< /Type /Page ", bodyAt)) {
        if (width < 0) {
          val mAt = s.indexOf("/MediaBox [0 0 ", bodyAt) + 15
          val mEnd = s.indexOf(']', mAt)
          val dims = s.substring(mAt, mEnd).split(' ')
          width = dims(0).toInt
          height = dims(1).toInt
        }
      } else if (s.startsWith("<< /Length ", bodyAt)) {
        val len = s.substring(bodyAt + 11, s.indexOf(' ', bodyAt + 11)).toInt
        val streamAt = s.indexOf("stream\n", bodyAt) + 7
        var j = streamAt
        val end = streamAt + len
        while (j < end) { checksum = checksum * 31 + (b(j) & 0xff); j += 1 }
        require(s.startsWith("\nendstream", end),
          s"media_id=${row.media_id}: /Length $len does not reach endstream")
      }
      e += 1
    }
    require(nPages > 0, s"media_id=${row.media_id}: no /Type /Pages /Count")
    require(width > 0 && height > 0, s"media_id=${row.media_id}: no /MediaBox")
    MediaFeatures(
      media_id = row.media_id,
      kind = row.kind,
      n_bytes = b.length.toLong,
      width = width,
      height = height,
      n_channels = nPages,
      checksum = checksum)
  }
}

/** Content-sniffing decoder: real formats go to their real parser,
  * everything else to `fallback` (the stub — now only codec-FRAME
  * decode of formats without a JDK codec, e.g. the coded samples
  * inside MP4/WebM/Ogg or MP3's PCM synthesis; MP4, Matroska/WebM,
  * Ogg and FLAC container metadata itself parses for real, and FLAC
  * rice-coded FIXED-subframe frames decode to exact PCM via
  * [[FlacFrameCodec]] — the m17 path — leaving only genuinely-lossy
  * codec tiers stubbed).
  */
final case class SniffingDecoder(fallback: MediaDecoder = FakeDecoder) extends MediaDecoder {
  override def decode(row: MediaRow): MediaFeatures =
    if (PpmDecoder.isPpm(row.payload)) PpmDecoder.decode(row)
    else if (WavDecoder.isWav(row.payload)) WavDecoder.decode(row)
    else if (PngDecoder.isPng(row.payload)) PngDecoder.decode(row)
    else if (JpegDecoder.isJpeg(row.payload)) JpegDecoder.decode(row)
    else if (GifDecoder.isGif(row.payload)) GifDecoder.decode(row)
    else if (BmpDecoder.isBmp(row.payload)) BmpDecoder.decode(row)
    else if (TiffDecoder.isTiff(row.payload)) TiffDecoder.decode(row)
    else if (Mp3Decoder.isMp3(row.payload)) Mp3Decoder.decode(row)
    else if (Mp4Decoder.isMp4(row.payload)) Mp4Decoder.decode(row)
    else if (FlacDecoder.isFlac(row.payload)) FlacDecoder.decode(row)
    else if (MkvDecoder.isMkv(row.payload)) MkvDecoder.decode(row)
    else if (OggDecoder.isOgg(row.payload)) OggDecoder.decode(row)
    else if (PdfDecoder.isPdf(row.payload)) PdfDecoder.decode(row)
    else if (WebpDecoder.isWebp(row.payload)) WebpDecoder.decode(row)
    else fallback.decode(row)
}

/** A transformed media payload (resize output). */
final case class ResizedMedia(
    media_id: Long, kind: String, width: Int, height: Int, payload: Array[Byte])

/** One sampled frame of a media payload. */
final case class MediaFrame(
    media_id: Long, frame_idx: Int, offset: Long, frame_bytes: Array[Byte])

/** Transform stages the mandate names beyond decode: resize and
  * frame-sample. [[SniffingTransforms]] implements them FOR REAL on
  * the formats whose parsers exist (nearest-neighbor P6 resize,
  * sample-aligned WAV frame windows); [[FakeTransforms]] remains the
  * labeled stub for everything else (no media libs in this
  * container). The Spark-side shape — per-partition batching, typed
  * rows, opaque binary in/out — is the contract any further codec
  * binding drops into.
  */
trait MediaTransforms extends Serializable {
  def resize(row: MediaRow, w: Int, h: Int): ResizedMedia
  def sampleFrames(row: MediaRow, n: Int): Seq[MediaFrame]
}

object FakeTransforms extends MediaTransforms {
  override def resize(row: MediaRow, w: Int, h: Int): ResizedMedia = {
    val target = math.max(1, math.min(row.payload.length, w * h / 64))
    ResizedMedia(row.media_id, row.kind, w, h, row.payload.take(target))
  }

  override def sampleFrames(row: MediaRow, n: Int): Seq[MediaFrame] = {
    val len = row.payload.length
    if (len == 0 || n <= 0) Seq.empty
    else (0 until n).map { i =>
      val off = (len.toLong * i) / n
      val end = math.min(len, off.toInt + math.max(1, len / n))
      MediaFrame(row.media_id, i, off, row.payload.slice(off.toInt, end))
    }
  }
}

/** REAL transforms for the formats whose parsers exist, mirroring
  * [[SniffingDecoder]]: nearest-neighbor resize for 8-bit P6 PPM
  * (raw RGB in, valid P6 out) and sample-aligned frame windows for
  * RIFF/WAVE PCM; everything else routes to `fallback`.
  */
final case class SniffingTransforms(fallback: MediaTransforms = FakeTransforms)
    extends MediaTransforms {

  override def resize(row: MediaRow, w: Int, h: Int): ResizedMedia =
    if (PpmDecoder.isPpm(row.payload)) SniffingTransforms.resizePpm(row, w, h)
    else fallback.resize(row, w, h)

  override def sampleFrames(row: MediaRow, n: Int): Seq[MediaFrame] =
    if (WavDecoder.isWav(row.payload)) SniffingTransforms.sampleWavFrames(row, n)
    else fallback.sampleFrames(row, n)
}

object SniffingTransforms {

  /** Nearest-neighbor P6 resize: source pixel (x·w₀/w, y·h₀/h) per
    * target pixel, re-emitted as a valid P6 payload — decodable by
    * [[PpmDecoder]], so resize→decode round-trips in the pipeline.
    * 8-bit (maxval < 256) only; 16-bit P6 routes nowhere today and
    * fails loudly rather than corrupt samples.
    */
  private[multimodal] def resizePpm(row: MediaRow, w: Int, h: Int): ResizedMedia = {
    require(w > 0 && h > 0, s"media_id=${row.media_id}: bad resize target ${w}x$h")
    val b = row.payload
    val hdr = PpmDecoder.parseHeader(b, row.media_id)
    require(hdr.maxval < 256,
      s"media_id=${row.media_id}: resize supports 8-bit PPM, maxval=${hdr.maxval}")
    val header = s"P6\n$w $h\n${hdr.maxval}\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + w * h * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    var y = 0
    while (y < h) {
      val sy = (y.toLong * hdr.h / h).toInt
      var x = 0
      while (x < w) {
        val sx = (x.toLong * hdr.w / w).toInt
        val src = hdr.pixelStart + (sy * hdr.w + sx) * 3
        val dst = header.length + (y * w + x) * 3
        out(dst) = b(src); out(dst + 1) = b(src + 1); out(dst + 2) = b(src + 2)
        x += 1
      }
      y += 1
    }
    ResizedMedia(row.media_id, row.kind, w, h, out)
  }

  /** `n` evenly-spaced PCM frame windows, aligned to blockAlign so a
    * window never splits a sample across channels; `offset` is the
    * window's byte offset into the payload (always frame-aligned
    * inside the data chunk).
    */
  private[multimodal] def sampleWavFrames(row: MediaRow, n: Int): Seq[MediaFrame] = {
    val b = row.payload
    val c = WavDecoder.parseChunks(b, row.media_id)
    val total = c.frames
    if (total == 0 || n <= 0) Seq.empty
    else {
      val perWindow = math.max(1L, total / n)
      (0 until math.min(n.toLong, total).toInt).map { i =>
        val startFrame = total * i / n
        val endFrame = math.min(total, startFrame + perWindow)
        val off = c.dataStart + startFrame * c.blockAlign
        val end = c.dataStart + endFrame * c.blockAlign
        MediaFrame(row.media_id, i, off, b.slice(off.toInt, end.toInt))
      }
    }
  }
}

/** The decode stage: a batched per-partition map — each partition's
  * rows stream through the decoder without collecting to the driver,
  * so the stage scales with partition count and the decoder can
  * amortize per-batch init (real codecs keep native contexts per
  * partition, created once in the mapPartitions closure).
  */
object MediaPipeline {

  /** Resize stage: 1→1 typed map, binary in / binary out. */
  def resizeAll(media: Dataset[MediaRow], w: Int, h: Int,
      transforms: MediaTransforms = FakeTransforms): Dataset[ResizedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions(rows => rows.map(transforms.resize(_, w, h)))
  }

  /** Frame-sampling stage: 1→N expansion (the media analog of a
    * generator/UDTF) — still per-partition, no driver involvement.
    */
  def sampleFramesAll(media: Dataset[MediaRow], framesPer: Int,
      transforms: MediaTransforms = FakeTransforms): Dataset[MediaFrame] = {
    import media.sparkSession.implicits._
    media.mapPartitions(rows => rows.flatMap(transforms.sampleFrames(_, framesPer)))
  }

  def decodeAll(media: Dataset[MediaRow], decoder: MediaDecoder): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder context would be created here
      rows.map(decoder.decode)
    }
  }

  /** Build a media Dataset from the documents table (payload = utf-8
    * text bytes standing in for real blobs; prod swaps the loader).
    */
  def fromDocuments(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"),
        when(col("doc_id") % 2 === 0, "image").otherwise("audio").as("kind"),
        col("text").cast("binary").as("payload"),
        col("source"))
      .as[MediaRow]
  }

  /** Features joined back to metadata — the queryable multimodal
    * table (media stays opaque; features are columns).
    */
  def featureTable(spark: SparkSession, dir: String,
      decoder: MediaDecoder = FakeDecoder): DataFrame =
    decodeAll(fromDocuments(spark, dir), decoder).toDF()
}
