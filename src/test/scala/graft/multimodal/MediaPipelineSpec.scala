package graft.multimodal

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class MediaPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  test("decode stage runs per-partition and emits typed features") {
    val feats = MediaPipeline.featureTable(spark, "/root/testdata/sf0.001")
    val rows = feats.collect()
    assert(rows.length == 500)
    assert(!feats.columns.contains("payload"), "payload must not leak into features")
    assert(feats.columns.toSet ==
      Set("media_id", "kind", "n_bytes", "width", "height", "n_channels", "checksum"))
  }

  test("stub decoder is deterministic and kind-aware") {
    val row = MediaRow(1L, "image", "hello".getBytes("UTF-8"), "src")
    val a = FakeDecoder.decode(row)
    val b = FakeDecoder.decode(row)
    assert(a == b)
    assert(a.n_bytes == 5)
    assert(a.n_channels == 3)
    assert(FakeDecoder.decode(row.copy(kind = "audio")).n_channels == 2)
  }

  test("resize stage is 1→1 with bounded deterministic output") {
    val media = MediaPipeline.fromDocuments(spark, "/root/testdata/sf0.001")
    val resized = MediaPipeline.resizeAll(media, 64, 64)
    val rows = resized.collect()
    assert(rows.length == 500)
    assert(rows.forall(r => r.width == 64 && r.height == 64))
    assert(rows.forall(r => r.payload.length <= 64 * 64 / 64))
    // deterministic: same input, same bytes
    val again = MediaPipeline.resizeAll(media, 64, 64).collect()
    assert(rows.sortBy(_.media_id).zip(again.sortBy(_.media_id))
      .forall { case (a, b) => java.util.Arrays.equals(a.payload, b.payload) })
  }

  test("frame sampling is a 1→N expansion with ordered offsets") {
    val media = MediaPipeline.fromDocuments(spark, "/root/testdata/sf0.001")
    val frames = MediaPipeline.sampleFramesAll(media, 4)
    assert(frames.count() == 500 * 4)
    val one = frames.filter(_.media_id == 0L).collect().sortBy(_.frame_idx)
    assert(one.map(_.frame_idx).toSeq == Seq(0, 1, 2, 3))
    assert(one.map(_.offset).toSeq == one.map(_.offset).toSeq.sorted)
    assert(one.forall(_.frame_bytes.nonEmpty))
  }

  /** A real in-memory P6 PPM: header (with a comment line) + raw RGB. */
  private def ppmBytes(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    val header = s"P6\n# fixture\n$w $h\n255\n".getBytes("US-ASCII")
    header ++ rgb
  }

  test("PPM decoder parses real fixture bytes end-to-end through the decode stage") {
    import spark.implicits._
    val rgb2x3 = Array.tabulate(2 * 3 * 3)(i => (i * 7).toByte)
    val rows = Seq(
      MediaRow(1L, "image", ppmBytes(2, 3, rgb2x3), "fixture"),
      MediaRow(2L, "image", ppmBytes(1, 1, Array[Byte](10, 20, 30)), "fixture"),
      MediaRow(3L, "audio", "not a ppm at all".getBytes("UTF-8"), "fixture"))
    val feats = MediaPipeline.decodeAll(rows.toDS().repartition(2), SniffingDecoder())
      .collect().map(f => f.media_id -> f).toMap
    // real parse: dimensions come from the HEADER, not the stub heuristic
    assert(feats(1L).width == 2 && feats(1L).height == 3 && feats(1L).n_channels == 3)
    assert(feats(2L).width == 1 && feats(2L).height == 1)
    // checksum covers exactly the pixel bytes (header excluded)
    val expected = rgb2x3.foldLeft(0L)((acc, b) => acc * 31 + (b & 0xff))
    assert(feats(1L).checksum == expected)
    // non-PPM payloads still flow through the stub — mixed corpora work
    assert(feats(3L).n_channels == 2) // FakeDecoder's audio path
  }

  test("PPM decoder rejects truncated or malformed payloads loudly") {
    val bad = MediaRow(9L, "image", "P6\n2 3\n255\n".getBytes("US-ASCII") ++ Array[Byte](1, 2),
      "fixture")
    val e = intercept[IllegalArgumentException](PpmDecoder.decode(bad))
    assert(e.getMessage.contains("truncated"))
    val notPpm = MediaRow(10L, "image", "JFIF....".getBytes("US-ASCII"), "fixture")
    intercept[IllegalArgumentException](PpmDecoder.decode(notPpm))
    // and the sniffing wrapper routes it to the stub instead of failing
    assert(SniffingDecoder().decode(notPpm).n_bytes == 8L)
  }

  /** A real in-memory PCM WAV: RIFF preamble + fmt + data chunks. */
  private def wavBytes(channels: Int, sampleRate: Int, bitsPerSample: Int,
      data: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val blockAlign = channels * bitsPerSample / 8
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * blockAlign).putShort(blockAlign.toShort)
      .putShort(bitsPerSample.toShort)
      .put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
    bb.array()
  }

  test("WAV decoder parses real fixture bytes end-to-end through the decode stage") {
    import spark.implicits._
    val pcm = Array.tabulate(100 * 2 * 2)(i => (i * 13).toByte) // 100 stereo 16-bit frames
    val rows = Seq(
      MediaRow(20L, "audio", wavBytes(2, 44100, 16, pcm), "fixture"),
      MediaRow(21L, "audio", wavBytes(1, 8000, 8, Array[Byte](1, 2, 3, 4)), "fixture"),
      MediaRow(22L, "image", "not audio".getBytes("UTF-8"), "fixture"))
    val feats = MediaPipeline.decodeAll(rows.toDS().repartition(2), SniffingDecoder())
      .collect().map(f => f.media_id -> f).toMap
    // real parse: rate/frames/channels come from the HEADER chunks
    assert(feats(20L).width == 44100 && feats(20L).height == 100 && feats(20L).n_channels == 2)
    assert(feats(21L).width == 8000 && feats(21L).height == 4 && feats(21L).n_channels == 1)
    // checksum covers exactly the data chunk (headers excluded), same fold as PPM
    val expected = pcm.foldLeft(0L)((acc, b) => acc * 31 + (b & 0xff))
    assert(feats(20L).checksum == expected)
    // non-WAV payloads still flow through the stub — mixed corpora work
    assert(feats(22L).n_channels == 3) // FakeDecoder's image path
  }

  test("real PPM resize: nearest-neighbor pixels, valid P6 out, decode round-trips") {
    import spark.implicits._
    // 2x2 source: four distinct pixels
    val rgb = Array[Byte](
      10, 11, 12,   20, 21, 22,
      30, 31, 32,   40, 41, 42)
    val rows = Seq(MediaRow(1L, "image", ppmBytes(2, 2, rgb), "fixture"),
      MediaRow(2L, "other", "not a ppm".getBytes("UTF-8"), "fixture"))
    val resized = MediaPipeline.resizeAll(rows.toDS().repartition(2), 4, 4,
      SniffingTransforms()).collect().map(r => r.media_id -> r).toMap
    // upscale 2x2 -> 4x4 doubles each pixel in both axes
    val out = resized(1L)
    assert(out.width == 4 && out.height == 4)
    val feats = PpmDecoder.decode(MediaRow(1L, "image", out.payload, "fixture"))
    assert(feats.width == 4 && feats.height == 4) // output is a VALID P6
    val px = out.payload.drop(out.payload.length - 4 * 4 * 3)
    // corner pixels of the scaled image are the source corners
    assert(px.take(3).toSeq == Seq[Byte](10, 11, 12))
    assert(px.slice((3 * 4 + 3) * 3, (3 * 4 + 3) * 3 + 3).toSeq == Seq[Byte](40, 41, 42))
    // non-PPM rows still route to the fallback stub — mixed corpora work
    assert(resized(2L).payload.nonEmpty)
    // downscale back 4x4 -> 2x2 recovers the original pixels exactly
    val back = SniffingTransforms().resize(
      MediaRow(1L, "image", out.payload, "fixture"), 2, 2)
    assert(back.payload.drop(back.payload.length - 12).toSeq == rgb.toSeq)
  }

  test("real WAV frame sampling: windows are blockAlign-aligned and cover the data chunk") {
    import spark.implicits._
    val pcm = Array.tabulate(10 * 4)(i => i.toByte) // 10 stereo 16-bit frames
    val rows = Seq(MediaRow(3L, "audio", wavBytes(2, 8000, 16, pcm), "fixture"))
    val frames = MediaPipeline.sampleFramesAll(rows.toDS(), 4, SniffingTransforms())
      .collect().sortBy(_.frame_idx)
    assert(frames.length == 4)
    // every window starts at a frame boundary (offset - dataStart) % 4 == 0
    val dataStart = 44L
    assert(frames.forall(f => (f.offset - dataStart) % 4 == 0))
    // windows tile the 10 frames: starts at frame 0, 2, 5, 7
    assert(frames.map(f => (f.offset - dataStart) / 4).toSeq == Seq(0L, 2L, 5L, 7L))
    // each window carries whole frames and the first window's bytes
    // are the first two PCM frames verbatim
    assert(frames.forall(_.frame_bytes.length % 4 == 0))
    assert(frames(0).frame_bytes.toSeq == pcm.take(8).toSeq)
    // more windows than frames: capped at one window per frame, no empties
    val tiny = SniffingTransforms().sampleFrames(
      MediaRow(4L, "audio", wavBytes(1, 8000, 16, Array[Byte](1, 2, 3, 4)), "fixture"), 8)
    assert(tiny.length == 2 && tiny.forall(_.frame_bytes.nonEmpty))
  }

  test("WAV decoder rejects truncated or non-PCM payloads loudly") {
    val good = wavBytes(2, 44100, 16, Array[Byte](1, 2, 3, 4))
    val truncated = MediaRow(30L, "audio", good.dropRight(2), "fixture")
    val e = intercept[IllegalArgumentException](WavDecoder.decode(truncated))
    assert(e.getMessage.contains("truncated"))
    val nonPcm = good.clone()
    nonPcm(20) = 3 // audioFormat = IEEE float
    val e2 = intercept[IllegalArgumentException](
      WavDecoder.decode(MediaRow(31L, "audio", nonPcm, "fixture")))
    assert(e2.getMessage.contains("only PCM"))
    // and the sniffing wrapper routes junk to the stub instead of failing
    val junk = MediaRow(32L, "audio", "MP3junk!".getBytes("US-ASCII"), "fixture")
    assert(SniffingDecoder().decode(junk).n_bytes == 8L)
  }

  test("PNG: every filter type round-trips through encode → inflate → reconstruct") {
    // 6x5 RGB, pixel byte j = j*7 mod 256 (varied enough that a wrong
    // predictor can't accidentally reproduce the input)
    val w = 6; val h = 5
    val px = Array.tabulate(3 * w * h)(j => (j * 7 % 256).toByte)
    // one image per uniform filter choice + one cycling all five
    for (ft <- 0 to 4) {
      val img = PngDecoder.decodeImage(PngSynth.encode(w, h, px, _ => ft), 1L)
      assert(img.w == w && img.h == h && img.colorType == 2)
      assert(img.pixels.sameElements(px), s"filter $ft did not round-trip")
    }
    val mixed = PngDecoder.decodeImage(PngSynth.encode(w, h, px, y => y % 5), 2L)
    assert(mixed.pixels.sameElements(px))
  }

  test("PNG decoder parses real bytes end-to-end through the decode stage") {
    val w = 4; val h = 3
    val px = Array.tabulate(3 * w * h)(j => (j % 256).toByte)
    val payload = PngSynth.encode(w, h, px, y => y % 5)
    assert(PngDecoder.isPng(payload))
    val f = SniffingDecoder().decode(MediaRow(7L, "png", payload, "src"))
    assert(f.width == w && f.height == h && f.n_channels == 3)
    assert(f.n_bytes == 68 + h * (1 + 3 * w)) // the stored-block length contract
    // checksum folds over the RECONSTRUCTED pixels, not the payload
    var expect = 0L
    px.foreach(b => expect = expect * 31 + (b & 0xff))
    assert(f.checksum == expect)
  }

  test("PNG decoder rejects corrupt payloads loudly") {
    val px = Array.tabulate(36)(j => j.toByte)
    val good = PngSynth.encode(4, 3, px, _ => 0)
    // flip one IDAT byte: CRC check must catch it
    val bad = good.clone()
    bad(good.length - 20) = (bad(good.length - 20) ^ 0x01).toByte
    val e = intercept[IllegalArgumentException] {
      PngDecoder.decodeImage(bad, 9L)
    }
    assert(e.getMessage.contains("CRC") || e.getMessage.contains("truncated"))
    // truncated payload
    intercept[IllegalArgumentException] {
      PngDecoder.decodeImage(good.take(good.length - 8), 10L)
    }
    // non-PNG
    assert(!PngDecoder.isPng("hello".getBytes("UTF-8")))
  }

  test("JPEG: the JDK ImageIO codec decodes real bytes, deterministically") {
    // synthesize a real JPEG with the SAME codec family that decodes
    // it: deterministic 16x12 RGB gradient -> ImageIO "jpg" writer
    val w = 16; val h = 12
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 16) << 16) | ((y * 21) << 8) | ((x + y) * 7))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val payload = bos.toByteArray
    assert(JpegDecoder.isJpeg(payload))
    assert(!JpegDecoder.isJpeg("not a jpeg".getBytes("UTF-8")))

    val f = JpegDecoder.decode(MediaRow(40L, "image", payload, "synth"))
    assert(f.width == w && f.height == h && f.n_channels == 3)
    assert(f.n_bytes == payload.length.toLong)
    // decode is deterministic within this JVM (the checksum's contract)
    val f2 = JpegDecoder.decode(MediaRow(40L, "image", payload, "synth"))
    assert(f.checksum == f2.checksum)
    // lossy-roundtrip sanity: decoded pixels stay near the source
    // gradient (channel values were crafted <= 255), so the checksum
    // can't be the payload fold the stub would produce
    assert(f.checksum != FakeDecoder.decode(MediaRow(40L, "image", payload, "synth")).checksum)

    // the sniffer routes JPEG magic to the real codec
    val sniffed = SniffingDecoder().decode(MediaRow(41L, "image", payload, "synth"))
    assert(sniffed.copy(media_id = 40L) == f)

    // corrupt payloads fail loudly: JPEG magic with garbage body
    val garbage = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte) ++
      Array.tabulate(64)(i => (i * 13).toByte)
    intercept[IllegalArgumentException] {
      JpegDecoder.decode(MediaRow(42L, "image", garbage, "synth"))
    }
  }

  test("MP3: frame-structure metadata parses from real synthesized frames") {
    // MPEG-1 Layer III, 44.1 kHz, 128 kbps, stereo, no padding:
    // frameLen = 144*128000/44100 = 417 bytes (integer division)
    def frame(channelBits: Int): Array[Byte] = {
      val hdr = Array(0xff, 0xfb, 0x90, channelBits << 6).map(_.toByte)
      hdr ++ Array.tabulate(417 - 4)(i => (i * 11).toByte)
    }
    val stereo = Array.fill(5)(frame(0)).flatten.toArray
    assert(Mp3Decoder.isMp3(stereo))
    val f = Mp3Decoder.decode(MediaRow(50L, "audio", stereo, "synth"))
    assert(f.width == 44100 && f.height == 5 && f.n_channels == 2)
    assert(f.n_bytes == 5L * 417)

    // mono channel-mode bits (11) are read from the 4th header byte
    val mono = Mp3Decoder.decode(MediaRow(51L, "audio", frame(3), "synth"))
    assert(mono.n_channels == 1 && mono.height == 1)

    // an ID3v2 tag (10-byte header, syncsafe size) is skipped
    val id3 = Array[Byte]('I', 'D', '3', 4, 0, 0, 0, 0, 0, 10) ++
      Array.fill[Byte](10)(0x20) ++ stereo
    assert(Mp3Decoder.isMp3(id3))
    val tagged = Mp3Decoder.decode(MediaRow(52L, "audio", id3, "synth"))
    assert(tagged.height == 5 && tagged.width == 44100)
    // frames (not the tag) feed the checksum: same stream, same fold
    assert(tagged.checksum == f.checksum)

    // the sniffer routes it; junk does NOT match without a valid frame
    assert(SniffingDecoder().decode(MediaRow(53L, "audio", stereo, "synth"))
      .copy(media_id = 50L) == f)
    assert(!Mp3Decoder.isMp3("ID3 looks like a tag but has no frames".getBytes("US-ASCII")))
    assert(!Mp3Decoder.isMp3(Array[Byte](0xff.toByte, 0xe0.toByte, 0x00, 0x00))) // invalid layer
    intercept[IllegalArgumentException] {
      // valid first header but body truncated below frameLen
      Mp3Decoder.decode(MediaRow(54L, "audio", frame(0).take(100), "synth"))
    }
  }

  test("MP3: an ID3v2 tag WITH the footer flag skips 10 extra bytes") {
    def frame(): Array[Byte] = {
      val hdr = Array(0xff, 0xfb, 0x90, 0x00).map(_.toByte)
      hdr ++ Array.tabulate(417 - 4)(i => (i * 11).toByte)
    }
    val stream = Array.fill(3)(frame()).flatten.toArray
    // header byte 5 bit 4 set = footer present: tag occupies 10 + size
    // + 10 bytes; without the fix the probe lands on the footer bytes
    val footered = Array[Byte]('I', 'D', '3', 4, 0, 0x10, 0, 0, 0, 10) ++
      Array.fill[Byte](10)(0x20) ++ // syncsafe size 10 of tag body
      Array.fill[Byte](10)(0x21) ++ // the 10-byte footer itself
      stream
    assert(Mp3Decoder.isMp3(footered))
    val f = Mp3Decoder.decode(MediaRow(55L, "audio", footered, "synth"))
    assert(f.height == 3 && f.width == 44100)
  }

  test("GIF: GifSynth bytes decode through the JDK LZW codec, predictably") {
    val w = 9; val h = 4
    val idx = Array.tabulate(w * h)(j => ((7 + j) % 256).toByte)
    val payload = GifSynth.encode(w, h, idx)
    assert(payload.length == GifSynth.predictedBytes(w, h))
    assert(GifDecoder.isGif(payload))
    assert(!GifDecoder.isGif("GIF-ish text".getBytes("US-ASCII")))

    val f = GifDecoder.decode(MediaRow(60L, "image", payload, "synth"))
    assert(f.width == w && f.height == h && f.n_channels == 3)
    assert(f.n_bytes == payload.length.toLong)
    // lossless: the decoded raster IS the grayscale palette values,
    // so the RGB checksum is the exact 31-fold over (v,v,v) triples
    var expect = 0L
    idx.foreach { b =>
      val v = b & 0xff
      expect = ((expect * 31 + v) * 31 + v) * 31 + v
    }
    assert(f.checksum == expect)

    // the sniffer routes GIF magic to the real codec
    assert(SniffingDecoder().decode(MediaRow(61L, "image", payload, "synth"))
      .copy(media_id = 60L) == f)
    // corrupt body fails loudly (header magic alone isn't enough)
    intercept[Exception] {
      GifDecoder.decode(MediaRow(62L, "image", payload.take(40), "synth"))
    }
  }

  test("BMP: synthesized BI_RGB bytes decode through the JDK codec, predictably") {
    // w=6: rowSize = ((18+3)/4)*4 = 20 — padding exercised
    val w = 6; val h = 3
    val rowSize = ((3 * w + 3) / 4) * 4
    val dataSize = rowSize * h
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putShort(0).putShort(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    (0 until dataSize).foreach(j => buf.put(((j * 5) % 256).toByte))
    val payload = buf.array()
    assert(BmpDecoder.isBmp(payload))
    // wrong declared file size fails the sniff (weak "BM" magic alone
    // must not capture arbitrary binary)
    val wrongSize = payload.clone(); wrongSize(2) = (wrongSize(2) + 1).toByte
    assert(!BmpDecoder.isBmp(wrongSize))

    val f = BmpDecoder.decode(MediaRow(70L, "image", payload, "synth"))
    assert(f.width == w && f.height == h && f.n_channels == 3)
    assert(f.n_bytes == payload.length.toLong)
    // lossless bottom-up BGR: fold the checksum from the raster rows
    // top-down, reading (b,g,r) little-endian triples as (r,g,b)
    var expect = 0L
    for (y <- (h - 1) to 0 by -1; x <- 0 until w) {
      val o = 54 + y * rowSize + 3 * x
      val bVal = payload(o) & 0xff
      val gVal = payload(o + 1) & 0xff
      val rVal = payload(o + 2) & 0xff
      expect = ((expect * 31 + rVal) * 31 + gVal) * 31 + bVal
    }
    assert(f.checksum == expect)
    assert(SniffingDecoder().decode(MediaRow(71L, "image", payload, "synth"))
      .copy(media_id = 70L) == f)
  }

  test("MP4: ISO-BMFF box-tree metadata parses from a real synthesized container") {
    def tag(buf: java.nio.ByteBuffer, s: String): Unit = buf.put(s.getBytes("US-ASCII"))
    def matrix(buf: java.nio.ByteBuffer): Unit = {
      buf.putInt(0x00010000).putInt(0).putInt(0)
      buf.putInt(0).putInt(0x00010000).putInt(0)
      buf.putInt(0).putInt(0).putInt(0x40000000)
    }
    def mvhdV0(buf: java.nio.ByteBuffer, timescale: Int, dur: Int): Unit = {
      buf.putInt(108); tag(buf, "mvhd")
      buf.putInt(0).putInt(0).putInt(0).putInt(timescale).putInt(dur)
        .putInt(0x00010000).putShort(0x0100.toShort)
        .putShort(0).putInt(0).putInt(0)
      matrix(buf)
      (1 to 6).foreach(_ => buf.putInt(0))
      buf.putInt(2)
    }
    def trakV0(buf: java.nio.ByteBuffer, id: Int, w: Int, h: Int): Unit = {
      buf.putInt(100); tag(buf, "trak")
      buf.putInt(92); tag(buf, "tkhd")
      buf.putInt(7).putInt(0).putInt(0).putInt(id).putInt(0).putInt(500)
        .putLong(0L).putShort(0).putShort(0).putShort(0).putShort(0)
      matrix(buf)
      buf.putInt(w << 16).putInt(h << 16)
    }
    // two tracks: a zero-dim audio track FIRST, then the video track —
    // the decoder must skip to the first video-sized tkhd
    val data = Array.tabulate(23)(i => (i * 7).toByte)
    val moovSize = 8 + 108 + 2 * 100
    val buf = java.nio.ByteBuffer.allocate(20 + moovSize + 8 + data.length) // big-endian
    buf.putInt(20); tag(buf, "ftyp"); tag(buf, "isom"); buf.putInt(0); tag(buf, "isom")
    buf.putInt(moovSize); tag(buf, "moov")
    mvhdV0(buf, 1000, 4321)
    trakV0(buf, 1, 0, 0)
    trakV0(buf, 2, 640, 360)
    buf.putInt(8 + data.length); tag(buf, "mdat"); buf.put(data)
    val payload = buf.array()

    assert(Mp4Decoder.isMp4(payload))
    assert(!Mp4Decoder.isMp4("not a movie at all!!".getBytes("US-ASCII")))
    val f = Mp4Decoder.decode(MediaRow(80L, "video", payload, "synth"))
    assert(f.width == 640 && f.height == 360 && f.n_channels == 2)
    assert(f.n_bytes == payload.length.toLong)
    // the checksum folds over the mdat payload only (the coded stream)
    var expect = 0L
    data.foreach(b => expect = expect * 31 + (b & 0xff))
    assert(f.checksum == expect)
    assert(SniffingDecoder().decode(MediaRow(81L, "video", payload, "synth"))
      .copy(media_id = 80L) == f)

    // size==0 means "to end of file": an open-ended trailing mdat parses
    val open = payload.clone()
    val mdatOff = 20 + moovSize
    open(mdatOff) = 0; open(mdatOff + 1) = 0; open(mdatOff + 2) = 0; open(mdatOff + 3) = 0
    assert(Mp4Decoder.decode(MediaRow(82L, "video", open, "synth")).checksum == expect)

    // size==1 (64-bit largesize) fails loudly, as does a truncated tree
    val large = payload.clone(); large(mdatOff + 3) = 1
    intercept[IllegalArgumentException] {
      Mp4Decoder.decode(MediaRow(83L, "video", large, "synth"))
    }
    intercept[IllegalArgumentException] {
      Mp4Decoder.decode(MediaRow(84L, "video", payload.take(40), "synth"))
    }
  }

  test("MP4: version-1 mvhd/tkhd (64-bit times) parse at their shifted offsets") {
    def tag(buf: java.nio.ByteBuffer, s: String): Unit = buf.put(s.getBytes("US-ASCII"))
    def matrix(buf: java.nio.ByteBuffer): Unit = {
      buf.putInt(0x00010000).putInt(0).putInt(0)
      buf.putInt(0).putInt(0x00010000).putInt(0)
      buf.putInt(0).putInt(0).putInt(0x40000000)
    }
    // v1 mvhd = 120 B (three 64-bit times), v1 tkhd = 104 B
    val moovSize = 8 + 120 + (8 + 104)
    val buf = java.nio.ByteBuffer.allocate(20 + moovSize)
    buf.putInt(20); tag(buf, "ftyp"); tag(buf, "isom"); buf.putInt(0); tag(buf, "isom")
    buf.putInt(moovSize); tag(buf, "moov")
    buf.putInt(120); tag(buf, "mvhd")
    buf.putInt(0x01000000)                    // version 1
      .putLong(0L).putLong(0L)                // ctime, mtime (64-bit)
      .putInt(90000).putLong(123456789L)      // timescale, duration (64-bit)
      .putInt(0x00010000).putShort(0x0100.toShort)
      .putShort(0).putInt(0).putInt(0)
    matrix(buf)
    (1 to 6).foreach(_ => buf.putInt(0))
    buf.putInt(2)
    buf.putInt(8 + 104); tag(buf, "trak")
    buf.putInt(104); tag(buf, "tkhd")
    buf.putInt(0x01000007)                    // version 1, enabled flags
      .putLong(0L).putLong(0L)                // ctime, mtime (64-bit)
      .putInt(1).putInt(0).putLong(500L)      // track_id, reserved, duration (64-bit)
      .putLong(0L).putShort(0).putShort(0).putShort(0).putShort(0)
    matrix(buf)
    buf.putInt(1920 << 16).putInt(1080 << 16)
    val f = Mp4Decoder.decode(MediaRow(85L, "video", buf.array(), "synth"))
    assert(f.width == 1920 && f.height == 1080 && f.n_channels == 1)
    assert(f.checksum == 0L) // no mdat: nothing to fold
  }

  test("FLAC: bit-packed STREAMINFO parses; checksum folds over the frame region only") {
    // fLaC + STREAMINFO (44.1 kHz stereo 16-bit, 12345 samples) + an
    // APPLICATION block (type 2, skipped) + last-flagged PADDING + frames
    val frames = Array.tabulate(37)(i => (i * 5 + 3).toByte)
    val appLen = 9
    val padLen = 5
    val buf = java.nio.ByteBuffer.allocate(42 + 4 + appLen + 4 + padLen + frames.length)
    buf.put("fLaC".getBytes("US-ASCII"))
    buf.put(0x00.toByte).put(0.toByte).put(0.toByte).put(34.toByte)
    buf.putShort(4096).putShort(4096)
    (1 to 6).foreach(_ => buf.put(0.toByte))
    buf.putLong((44100L << 44) | (1L << 41) | (15L << 36) | 12345L)
    (1 to 16).foreach(i => buf.put(i.toByte))
    buf.put(0x02.toByte).put(0.toByte).put(0.toByte).put(appLen.toByte)
    (1 to appLen).foreach(_ => buf.put(0x41.toByte))
    buf.put(0x81.toByte).put(0.toByte).put(0.toByte).put(padLen.toByte)
    (1 to padLen).foreach(_ => buf.put(0.toByte))
    buf.put(frames)
    val payload = buf.array()

    assert(FlacDecoder.isFlac(payload))
    assert(!FlacDecoder.isFlac("fLaC is a nice word".getBytes("US-ASCII")))
    val f = FlacDecoder.decode(MediaRow(90L, "audio", payload, "synth"))
    assert(f.width == 44100 && f.height == 12345 && f.n_channels == 2)
    assert(f.n_bytes == payload.length.toLong)
    var expect = 0L
    frames.foreach(b => expect = expect * 31 + (b & 0xff))
    assert(f.checksum == expect)
    assert(SniffingDecoder().decode(MediaRow(91L, "audio", payload, "synth"))
      .copy(media_id = 90L) == f)

    // a metadata block that overruns the payload fails loudly
    intercept[IllegalArgumentException] {
      FlacDecoder.decode(MediaRow(92L, "audio", payload.take(44), "synth"))
    }
  }

  test("MKV: the EBML varint walk parses dims/tracks; audio-first track order is skipped") {
    def el(buf: java.nio.ByteBuffer, idBytes: Seq[Int], payloadLen: Int): Unit = {
      idBytes.foreach(x => buf.put(x.toByte))
      buf.put((0x80 | payloadLen).toByte)
    }
    val coded = Array.tabulate(21)(i => (i * 3 + 1).toByte)
    val tracksPayload = 22 + 27
    val clusterPayload = 9 + coded.length
    val segPayload = 49 + tracksPayload + coded.length
    val buf = java.nio.ByteBuffer.allocate(48 + segPayload)
    // EBML header with DocType webm
    el(buf, Seq(0x1a, 0x45, 0xdf, 0xa3), 31)
    el(buf, Seq(0x42, 0x86), 1); buf.put(1.toByte)
    el(buf, Seq(0x42, 0xf7), 1); buf.put(1.toByte)
    el(buf, Seq(0x42, 0xf2), 1); buf.put(4.toByte)
    el(buf, Seq(0x42, 0xf3), 1); buf.put(8.toByte)
    el(buf, Seq(0x42, 0x82), 4); buf.put("webm".getBytes("US-ASCII"))
    el(buf, Seq(0x42, 0x87), 1); buf.put(2.toByte)
    el(buf, Seq(0x42, 0x85), 1); buf.put(2.toByte)
    // Segment with a NON-MINIMAL 8-byte size varint (streaming-muxer shape)
    Seq(0x18, 0x53, 0x80, 0x67).foreach(x => buf.put(x.toByte))
    buf.put(0x01.toByte)
    (48 to 0 by -8).foreach(s => buf.put(((segPayload.toLong >> s) & 0xff).toByte))
    el(buf, Seq(0x15, 0x49, 0xa9, 0x66), 18)
    el(buf, Seq(0x2a, 0xd7, 0xb1), 3); Seq(0x0f, 0x42, 0x40).foreach(x => buf.put(x.toByte))
    el(buf, Seq(0x44, 0x89), 8); buf.putDouble(2000.0)
    el(buf, Seq(0x16, 0x54, 0xae, 0x6b), tracksPayload)
    // audio TrackEntry FIRST — the decoder must take dims from the video one
    el(buf, Seq(0xae), 25)
    el(buf, Seq(0xd7), 1); buf.put(1.toByte)
    el(buf, Seq(0x73, 0xc5), 1); buf.put(1.toByte)
    el(buf, Seq(0x83), 1); buf.put(2.toByte)
    el(buf, Seq(0xe1), 13)
    el(buf, Seq(0xb5), 8); buf.putDouble(48000.0)
    el(buf, Seq(0x9f), 1); buf.put(2.toByte)
    el(buf, Seq(0xae), 20)
    el(buf, Seq(0xd7), 1); buf.put(2.toByte)
    el(buf, Seq(0x73, 0xc5), 1); buf.put(2.toByte)
    el(buf, Seq(0x83), 1); buf.put(1.toByte)
    el(buf, Seq(0xe0), 8)
    el(buf, Seq(0xb0), 2); buf.putShort(1280.toShort)
    el(buf, Seq(0xba), 2); buf.putShort(720.toShort)
    Seq(0x1f, 0x43, 0xb6, 0x75).foreach(x => buf.put(x.toByte))
    buf.put(0x01.toByte)
    (48 to 0 by -8).foreach(s => buf.put(((clusterPayload.toLong >> s) & 0xff).toByte))
    el(buf, Seq(0xe7), 1); buf.put(0.toByte)
    el(buf, Seq(0xa3), 4 + coded.length)
    buf.put(0x81.toByte).putShort(0).put(0x80.toByte).put(coded)
    val payload = buf.array()

    assert(MkvDecoder.isMkv(payload))
    assert(!MkvDecoder.isMkv("definitely not ebml.".getBytes("US-ASCII")))
    val f = MkvDecoder.decode(MediaRow(95L, "video", payload, "synth"))
    assert(f.width == 1280 && f.height == 720 && f.n_channels == 2)
    assert(f.n_bytes == payload.length.toLong)
    // checksum folds over the SimpleBlock coded bytes only (skips the
    // track vint + timecode + flags block header)
    var expect = 0L
    coded.foreach(b => expect = expect * 31 + (b & 0xff))
    assert(f.checksum == expect)
    assert(SniffingDecoder().decode(MediaRow(96L, "video", payload, "synth"))
      .copy(media_id = 95L) == f)

    // an element that overruns its parent fails loudly
    intercept[IllegalArgumentException] {
      MkvDecoder.decode(MediaRow(97L, "video", payload.take(60), "synth"))
    }
  }

  test("TIFF: the JDK codec decodes a hand-written baseline grayscale IFD, deterministically") {
    val w = 9; val h = 5
    val px = Array.tabulate(w * h)(j => ((7 + j) % 256).toByte)
    val buf = java.nio.ByteBuffer.allocate(8 + px.length + 2 + 9 * 12 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def entry(tag: Int, typ: Int, value: Int): Unit = {
      buf.putShort(tag.toShort).putShort(typ.toShort).putInt(1)
      if (typ == 3) buf.putShort(value.toShort).putShort(0) else buf.putInt(value)
    }
    buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8 + px.length)
    buf.put(px)
    buf.putShort(9)
    entry(256, 3, w); entry(257, 3, h); entry(258, 3, 8)
    entry(259, 3, 1); entry(262, 3, 1); entry(273, 4, 8)
    entry(277, 3, 1); entry(278, 3, h); entry(279, 4, w * h)
    buf.putInt(0)
    val payload = buf.array()

    assert(TiffDecoder.isTiff(payload))
    assert(!TiffDecoder.isTiff("III like this text.".getBytes("US-ASCII")))
    assert(!TiffDecoder.isTiff("MM *bad".getBytes("US-ASCII"))) // truncated
    val f = TiffDecoder.decode(MediaRow(98L, "image", payload, "synth"))
    assert(f.width == 9 && f.height == 5 && f.n_channels == 1)
    assert(f.n_bytes == payload.length.toLong && f.n_bytes == 122L + w * h)
    // getRGB passes gray samples through color management (the JPEG
    // caveat: deterministic per JVM, not byte-exact) — pin determinism
    // and verify the RAW raster samples round-trip byte-exactly
    assert(TiffDecoder.decode(MediaRow(98L, "image", payload, "synth")) == f)
    assert(SniffingDecoder().decode(MediaRow(99L, "image", payload, "synth"))
      .copy(media_id = 98L) == f)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    val raw = img.getRaster
    for (y <- 0 until h; x <- 0 until w)
      assert(raw.getSample(x, y, 0) == (px(y * w + x) & 0xff))

    // a strip that overruns the payload fails the reader loudly
    val bad = payload.clone()
    bad(8 + px.length + 2 + 5 * 12 + 8) = 200.toByte // StripOffsets → past the end
    intercept[IllegalArgumentException] {
      TiffDecoder.decode(MediaRow(100L, "image", bad, "synth"))
    }
  }

  test("Ogg: page walk verifies the real forward-CRC32; a flipped coded bit fails loudly") {
    def page(headerType: Int, granule: Long, serial: Int, seq: Int,
        payload: Array[Byte]): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(27 + 1 + payload.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("OggS".getBytes("US-ASCII")).put(0.toByte).put(headerType.toByte)
        .putLong(granule).putInt(serial).putInt(seq).putInt(0)
        .put(1.toByte).put(payload.length.toByte).put(payload)
      val arr = buf.array()
      val crc = OggCrc.compute(arr, 0, arr.length, 22)
      java.nio.ByteBuffer.wrap(arr).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(22, crc)
      arr
    }
    val head = java.nio.ByteBuffer.allocate(19)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    head.put("OpusHead".getBytes("US-ASCII")).put(1.toByte)
      .put(2.toByte).putShort(312.toShort).putInt(48000)
      .putShort(0.toShort).put(0.toByte)
    val coded1 = Array.tabulate(30)(j => (j * 11 + 3).toByte)
    val coded2 = Array.tabulate(25)(j => (j * 7 + 1).toByte)
    val payload = page(0x02, 0L, 7, 0, head.array()) ++
      page(0x00, 960L, 7, 1, coded1) ++
      page(0x04, 1920L, 7, 2, coded2)

    assert(OggDecoder.isOgg(payload))
    assert(!OggDecoder.isOgg("OggSomething else!!".getBytes("US-ASCII"))) // version != 0
    val f = OggDecoder.decode(MediaRow(110L, "audio", payload, "synth"))
    assert(f.width == 48000 && f.height == 1920 && f.n_channels == 2)
    assert(f.n_bytes == payload.length.toLong)
    // checksum folds over the DATA pages' payloads only (not OpusHead)
    var expect = 0L
    (coded1 ++ coded2).foreach(b => expect = expect * 31 + (b & 0xff))
    assert(f.checksum == expect)
    assert(SniffingDecoder().decode(MediaRow(111L, "audio", payload, "synth"))
      .copy(media_id = 110L) == f)

    // a single flipped bit in a coded payload fails the page CRC loudly
    val bad = payload.clone()
    bad(payload.length - 3) = (bad(payload.length - 3) ^ 0x10).toByte
    val e = intercept[IllegalArgumentException] {
      OggDecoder.decode(MediaRow(112L, "audio", bad, "synth"))
    }
    assert(e.getMessage.contains("CRC mismatch"))

    // a stream whose last page lacks the EOS flag fails loudly
    val noEos = page(0x02, 0L, 7, 0, head.array()) ++ page(0x00, 960L, 7, 1, coded1)
    intercept[IllegalArgumentException] {
      OggDecoder.decode(MediaRow(113L, "audio", noEos, "synth"))
    }
  }

  test("PDF: xref walk verifies every declared object offset; corruption fails loudly") {
    // a hand-built 1-page PDF in the same shape the m15 synth emits
    val sb = new StringBuilder
    val offs = scala.collection.mutable.ArrayBuffer[Int]()
    sb.append("%PDF-1.4\n")
    def obj(id: Int)(body: String): Unit = {
      offs += sb.length
      sb.append(s"$id 0 obj\n").append(body).append("endobj\n")
    }
    obj(1)("<< /Type /Catalog /Pages 2 0 R >>\n")
    obj(2)("<< /Type /Pages /Kids [3 0 R] /Count 1 >>\n")
    obj(3)("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 320 240] /Contents 4 0 R >>\n")
    val payload = Array.tabulate(25)(j => ((j * 13 + 5) % 256).toByte)
    val payloadStr = new String(payload.map(b => (b & 0xff).toChar))
    obj(4)(s"<< /Length 25 >>\nstream\n$payloadStr\nendstream\n")
    val xrefOff = sb.length
    sb.append("xref\n0 5\n0000000000 65535 f\r\n")
    offs.foreach(o => sb.append(f"$o%010d 00000 n\r\n"))
    sb.append("trailer\n<< /Size 5 /Root 1 0 R >>\n")
    sb.append("startxref\n").append(f"$xrefOff%010d\n").append("%%EOF\n")
    val bytes = sb.toString.getBytes("ISO-8859-1")

    assert(PdfDecoder.isPdf(bytes))
    val f = PdfDecoder.decode(MediaRow(120L, "pdf", bytes, "synth"))
    assert(f.width == 320 && f.height == 240 && f.n_channels == 1)
    assert(f.n_bytes == bytes.length.toLong)
    var expect = 0L
    payload.foreach(b => expect = expect * 31 + (b & 0xff))
    assert(f.checksum == expect)
    assert(SniffingDecoder().decode(MediaRow(121L, "pdf", bytes, "synth"))
      .copy(media_id = 120L) == f)

    // corrupting one xref entry's declared offset fails the
    // object-header integrity check
    val bad = sb.toString.replaceFirst("0000000009", "0000000011")
      .getBytes("ISO-8859-1")
    val e1 = intercept[IllegalArgumentException] {
      PdfDecoder.decode(MediaRow(122L, "pdf", bad, "synth"))
    }
    assert(e1.getMessage.contains("no matching object header"))

    // a truncated file (lost trailer) fails the %%EOF check
    intercept[IllegalArgumentException] {
      PdfDecoder.decode(MediaRow(123L, "pdf", bytes.dropRight(10), "synth"))
    }
  }

  test("WebP: RIFF size check, padded chunk walk, and the VP8L dims bit-unpack") {
    def webp(w: Int, h: Int, alpha: Int, stream: Array[Byte],
        leadingChunk: Boolean = false): Array[Byte] = {
      val lead = if (leadingChunk) 8 + 3 + 1 else 0 // odd-sized chunk + pad
      val chunkSize = 5 + stream.length
      val pad = chunkSize % 2
      val buf = java.nio.ByteBuffer.allocate(12 + lead + 8 + chunkSize + pad)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(buf.capacity - 8)
        .put("WEBP".getBytes("US-ASCII"))
      if (leadingChunk) { // an odd-sized unknown chunk the walk must pad past
        buf.put("XMP ".getBytes("US-ASCII")).putInt(3)
          .put(Array[Byte](1, 2, 3)).put(0.toByte)
      }
      buf.put("VP8L".getBytes("US-ASCII")).putInt(chunkSize).put(0x2f.toByte)
      buf.putInt((w - 1) | ((h - 1) << 14) | (alpha << 28))
      buf.put(stream)
      if (pad == 1) buf.put(0.toByte)
      buf.array()
    }
    val stream = Array.tabulate(21)(j => (j * 5 + 2).toByte)
    val bytes = webp(320, 208, 1, stream, leadingChunk = true)
    assert(WebpDecoder.isWebp(bytes))
    val f = WebpDecoder.decode(MediaRow(130L, "webp", bytes, "synth"))
    assert(f.width == 320 && f.height == 208 && f.n_channels == 4)
    assert(f.n_bytes == bytes.length.toLong)
    var expect = 0L
    stream.foreach(b => expect = expect * 31 + (b & 0xff))
    assert(f.checksum == expect)
    assert(SniffingDecoder().decode(MediaRow(131L, "webp", bytes, "synth"))
      .copy(media_id = 130L) == f)
    // max 14-bit dims round-trip
    val big = WebpDecoder.decode(MediaRow(132L, "webp",
      webp(16384, 16384, 0, Array[Byte](9)), "synth"))
    assert(big.width == 16384 && big.height == 16384 && big.n_channels == 3)
    // a truncated payload contradicts the RIFF declared size
    intercept[IllegalArgumentException] {
      WebpDecoder.decode(MediaRow(133L, "webp", bytes.dropRight(4), "synth"))
    }
    // WAV still routes to the WAV parser, not here (both are RIFF)
    assert(!WebpDecoder.isWebp("RIFF1234WAVEfmt ".getBytes("US-ASCII")))
  }

  test("decoding distributes: partition count is preserved, no driver collect") {
    val media = MediaPipeline.fromDocuments(spark, "/root/testdata/sf0.001").repartition(7)
    val decoded = MediaPipeline.decodeAll(media, FakeDecoder)
    assert(decoded.rdd.getNumPartitions == 7)
    assert(decoded.count() == 500)
  }
}
