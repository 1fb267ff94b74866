package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Multimodal._

/** Unit gates for the pixel codec (SURVEY.md §2i multimodal): the
  * javax.imageio PNG round trip over every pixel-op image size in all
  * three deflate modes, decode of frozen five-filter PNGs, loud
  * rejection of corrupted input, and no temp files. These run WITHOUT
  * Spark, so a codec slip fails in milliseconds, not via the oracle
  * gate.
  */
class MultimodalSpec extends AnyFunSuite {

  private def pix(n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((i * 31 + 7) % 256).toByte)

  private def unhex(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private val codec = new PngCodec

  // Frozen output of the hand-written encoder this codec replaced, in
  // deflate mode 1 with scanline filter y % 5, so every row type
  // None/Sub/Up/Average/Paeth reaches the decoder: pix(120) as 12x10
  // grayscale, pix(192) as 8x8 RGB (the bpp = 3 left-neighbor offset).
  private val goldenGray = unhex(
    "89504e470d0a1a0a0000000d494844520000000c0000000a0800000000a547e0" +
    "260000004d494441547801636057734d695e74f0c17f39db18c66a7904602a41" +
    "02cc6fbcc0e0d42920c5520256052119bcb33a571c7fc6aae29cd4b880713f42" +
    "bf3caa017d408da7c0da21064074039503008739283fca5c4e8e000000004945" +
    "4e44ae426082")
  private val goldenRgb = unhex(
    "89504e470d0a1a0a0000000d49484452000000080000000808020000004b6d29" +
    "dc00000066494441547801636057734d695e74f0c17f39db98ea593b6f7c1733" +
    "0d299eb4f102e37b3edd586c80e9050ec01c92fc79f1e2c5ca4000a490681654" +
    "0db1506eec0b86fe7567df706b7966b42f3bfa8459c931a17edede3bbfa52c23" +
    "18cba76dc566772c4ecb01000c7457a0b9ca1b0000000049454e44ae426082")

  test("PNG decode refuses an IHDR too large for its data") {
    // An IHDR (with a valid CRC) claiming 30000x30000 is refused before
    // ImageIO allocates a 900 MB image.
    val big = codec.encode(pix(64), 8, 8, 1, 0).clone()
    for (o <- Seq(16, 20)) {
      big(o + 2) = (30000 >> 8).toByte; big(o + 3) = (30000 & 0xFF).toByte
    }
    val crc = new java.util.zip.CRC32
    crc.update(big, 12, 17)
    for (k <- 0 until 4) big(29 + k) = (crc.getValue >>> (24 - 8 * k)).toByte
    val e = intercept[IllegalArgumentException](codec.decode(big, 1))
    assert(e.getMessage.contains("cannot fit"), e.getMessage)
  }

  test("PNG grayscale roundtrip exercises all five filters and every small dim") {
    for (w <- 8 to 16; h <- 8 to 14; mode <- 0 to 2) {
      val img = pix(w * h)
      val (dw, dh, out) = codec.decode(codec.encode(img, w, h, 1, mode), 1)
      assert(dw == w && dh == h, s"dims drifted at ${w}x$h mode $mode")
      assert(out.sameElements(img), s"pixels drifted at ${w}x$h mode $mode")
    }
    val (gw, gh, gout) = codec.decode(goldenGray, 1)
    assert(gw == 12 && gh == 10 && gout.sameElements(pix(120)),
      "five-filter grayscale PNG decoded to other pixels")
  }

  test("decode rejects a corrupted or truncated IDAT in every mode") {
    // A compressible image, so modes 1 and 2 emit real Huffman blocks.
    val img = Array.tabulate(16 * 14)(i => (i % 7 * 20).toByte)
    for (mode <- 0 to 2) {
      val png = codec.encode(img, 16, 14, 1, mode)
      assert(new String(png, 37, 4, "US-ASCII") == "IDAT")
      val len = java.nio.ByteBuffer.wrap(png, 33, 4).getInt
      // A flip in the deflate data, one in the Adler-32 trailer (each
      // with the chunk CRC left stale) and one in the IDAT CRC alone,
      // over intact data: ImageIO checks no chunk CRC, the chunk walk
      // before it does.
      for (o <- Seq(41 + len / 2, 41 + len - 2, 41 + len + 1)) {
        val bad = png.clone(); bad(o) = (bad(o) ^ 0x10).toByte
        val e = intercept[IllegalArgumentException](codec.decode(bad, 1))
        assert(e.getMessage.startsWith("png:"), s"mode $mode: ${e.getMessage}")
      }
      // Cut mid-IDAT, and cut by the last byte only: ImageIO stops
      // reading once it has the pixels, so only the walk sees the cut.
      for (n <- Seq(41 + len / 2, png.length - 1)) {
        val e = intercept[IllegalArgumentException](
          codec.decode(png.take(n), 1))
        assert(e.getMessage.startsWith("png:"), s"mode $mode: ${e.getMessage}")
      }
    }
  }

  test("a different deflate mode changes the bytes but not the pixels") {
    // The mm_dedup_pixels_exact premise: re-encoding the same image in
    // another deflate mode yields a byte-DIFFERENT container that
    // decodes to the IDENTICAL image.
    val img = pix(12 * 10)
    val pngs = (0 to 2).map(codec.encode(img, 12, 10, 1, _))
    for (a <- 0 to 2; b <- a + 1 to 2)
      assert(!pngs(a).sameElements(pngs(b)),
        s"modes $a and $b must give different container bytes")
    for (png <- pngs) assert(codec.decode(png, 1)._3.sameElements(img))
  }

  test("parseWavSamples: LE sign extension, odd tail drop, framing checks") {
    // 4 bytes = 2 samples: 0x0102 = 258; 0xFF80 sign-extends to -128.
    val data = Array[Byte](0x02, 0x01, 0x80.toByte, 0xFF.toByte, 0x7F)
    val smp = parseWavSamples(wrapWav(data, 8000, 1))
    assert(smp.toSeq === Seq[Short](258, -128),
      "LE decode + sign extension + odd-tail drop")
    val bad = wrapWav(data, 8000, 1)
    bad(34) = 8 // claim 8-bit samples: fmt-derived fields now disagree
    val e = intercept[IllegalArgumentException](parseWavSamples(bad))
    assert(e.getMessage.contains("WAV"), s"unexpected: ${e.getMessage}")
  }

  test("PNG roundtrip holds under the compressed IDAT modes") {
    for (w <- Seq(8, 11, 16); h <- Seq(8, 10, 14); mode <- Seq(1, 2)) {
      val img = pix(w * h)
      val png = codec.encode(img, w, h, 1, mode)
      val (dw, dh, out) = codec.decode(png, 1)
      assert(dw == w && dh == h && out.sameElements(img),
        s"mode-$mode PNG roundtrip broke at ${w}x$h")
      // And the compressed container is byte-different from stored mode.
      assert(!png.sameElements(codec.encode(img, w, h, 1, 0)),
        "deflate mode must change container bytes")
    }
  }

  test("truecolor PNG roundtrip: bpp=3 filter walk over all five filters and modes") {
    for (w <- 8 to 16; h <- 8 to 14; mode <- 0 to 2) {
      val img = pix(w * h * 3)
      val (dw, dh, out) = codec.decode(codec.encode(img, w, h, 3, mode), 3)
      assert(dw == w && dh == h, s"RGB dims drifted at ${w}x$h")
      assert(out.sameElements(img), s"RGB pixels drifted at ${w}x$h mode $mode")
    }
    val (gw, gh, gout) = codec.decode(goldenRgb, 3)
    assert(gw == 8 && gh == 8 && gout.sameElements(pix(192)),
      "five-filter truecolor PNG decoded to other pixels")
    // A grayscale decode refuses to reinterpret truecolor triplets.
    val e = intercept[IllegalArgumentException](codec.decode(goldenRgb, 1))
    assert(e.getMessage.contains("expected 8-bit grayscale"), e.getMessage)
  }

  test("BT.601 integer luminance of a known triplet") {
    // Pure white -> 255, pure black -> 0, mid checks the >> 8 floor.
    def lum(r: Int, g: Int, b: Int) = (77 * r + 150 * g + 29 * b) >> 8
    assert(lum(255, 255, 255) == 255)
    assert(lum(0, 0, 0) == 0)
    assert(lum(100, 50, 25) == (7700 + 7500 + 725) / 256)
  }

  test("GCLP clip container: write/walk roundtrip, bounds, trailing-byte rejection") {
    val frames = (0 until 5).map(f => codec.encode(pix(8 * 8), 8, 8, 1, f % 3))
    val clip = wrapClip(frames)
    val back = clipFrames(clip)
    assert(back.length == 5)
    for (f <- 0 until 5) {
      assert(back(f).sameElements(frames(f)), s"frame $f bytes drifted")
      assert(codec.decode(back(f), 1)._3.sameElements(pix(64)))
    }
    // Empty clip is legal; garbage is not.
    assert(clipFrames(wrapClip(Seq.empty)).isEmpty)
    val trailing = clip ++ Array[Byte](0)
    val e1 = intercept[IllegalArgumentException](clipFrames(trailing))
    assert(e1.getMessage.contains("trailing"))
    val trunc = clip.take(clip.length - 3)
    intercept[IllegalArgumentException](clipFrames(trunc))
    val badMagic = clip.clone(); badMagic(0) = 'X'
    val e3 = intercept[IllegalArgumentException](clipFrames(badMagic))
    assert(e3.getMessage.contains("magic"))
  }

  test("1,000 codec round trips create no file under java.io.tmpdir") {
    // ImageIO's file-backed streams cache through "imageio*.tmp" files
    // there and delete them on close, so a listing taken afterwards
    // cannot see them: watch the directory while the codec runs.
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val ws = tmp.getFileSystem.newWatchService()
    def created(): Seq[String] = {
      val names = Seq.newBuilder[String]
      var key = ws.poll(1, java.util.concurrent.TimeUnit.SECONDS)
      while (key != null) {
        // An overflow event, with no name, stands for too many to list.
        key.pollEvents().forEach(e =>
          names += (if (e.context == null) "overflow" else e.context.toString))
        key.reset()
        key = ws.poll(1, java.util.concurrent.TimeUnit.SECONDS)
      }
      names.result().filter(n => n == "overflow" || n.startsWith("imageio"))
    }
    try {
      tmp.register(ws, java.nio.file.StandardWatchEventKinds.ENTRY_CREATE)
      val before = tmp.toFile.list().toSet
      for (i <- 0 until 1000) {
        val (w, h) = pixDims(i)
        val bpp = 1 + i % 2 * 2
        val img = pix(w * h * bpp)
        assert(codec.decode(codec.encode(img, w, h, bpp, i % 3), bpp)._3
          .sameElements(img), s"round trip $i drifted")
      }
      val left = tmp.toFile.list().toSet -- before
      val seen = created()
      assert(seen.isEmpty, s"ImageIO cache files were created: $seen")
      assert(!left.exists(_.startsWith("imageio")), s"left behind: $left")
      // The watch does see a file-backed ImageIO stream.
      new javax.imageio.stream.FileCacheImageOutputStream(
        new java.io.ByteArrayOutputStream, null).close()
      assert(created().nonEmpty, "the tmpdir watch saw no ImageIO cache file")
    } finally ws.close()
  }

  test("tilePixels matches the oracle's construction pixel-for-pixel") {
    val data = "hello graft".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val t = tilePixels(data, 9, 5)
    for (k <- 0 until 45)
      assert(t(k) == data(k % data.length), s"tile broke at k=$k")
  }
}
