package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Multimodal._

/** Unit gates for the pixel codec (SURVEY.md §2i multimodal): the zlib
  * modes over java.util.zip, the full five-filter PNG encode→decode
  * roundtrip, and loud rejection of corrupted streams. These run
  * WITHOUT Spark, so a framing slip fails in milliseconds, not via the
  * oracle gate.
  */
class MultimodalSpec extends AnyFunSuite {

  private def pix(n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((i * 31 + 7) % 256).toByte)

  test("zlib stored roundtrip, including the multi-block path past 65535 bytes") {
    for (n <- Seq(0, 1, 2, 3, 17, 100, 5000, 65534, 65535, 65536, 70000, 200000)) {
      val raw = pix(n)
      val z = zlibDeflate(raw, 0)
      assert((z(0) & 0x0F) == 8 && ((z(0) & 0xFF) * 256 + (z(1) & 0xFF)) % 31 == 0,
        s"bad zlib header for n=$n")
      assert((z(2) >> 1 & 3) == 0, s"mode 0 must emit stored blocks at n=$n")
      assert(zlibInflate(z, n).sameElements(raw), s"roundtrip broke at n=$n")
    }
  }

  test("zlib inflate rejects LEN/NLEN and Adler-32 corruption loudly") {
    val z = zlibDeflate(pix(100), 0)
    val nlenBad = z.clone(); nlenBad(5) = (nlenBad(5) ^ 0x01).toByte
    val e1 = intercept[IllegalArgumentException](zlibInflate(nlenBad, 100))
    assert(e1.getMessage.startsWith("zlib:"), e1.getMessage)
    assert(e1.getMessage.contains("stored block lengths"), e1.getMessage)
    val adlerBad = z.clone(); adlerBad(z.length - 1) = (adlerBad(z.length - 1) ^ 0x01).toByte
    val e2 = intercept[IllegalArgumentException](zlibInflate(adlerBad, 100))
    assert(e2.getMessage.contains("data check"), e2.getMessage)
  }

  test("inflate and PNG decode reject wrong or oversized lengths and a preset dictionary") {
    val z = zlibDeflate(pix(100), 1)
    val e1 = intercept[IllegalArgumentException](zlibInflate(z, 99))
    assert(e1.getMessage.contains("exceeds 99"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](zlibInflate(z, 101))
    assert(e2.getMessage.contains("expected 101"), e2.getMessage)
    val d = new java.util.zip.Deflater()
    val withDict = try {
      d.setDictionary(pix(32)); d.setInput(pix(100)); d.finish()
      val buf = new Array[Byte](512)
      java.util.Arrays.copyOf(buf, d.deflate(buf))
    } finally d.end()
    val e3 = intercept[IllegalArgumentException](zlibInflate(withDict, 100))
    assert(e3.getMessage.contains("preset dictionary"), e3.getMessage)
    // An IHDR (with a valid CRC) claiming 30000x30000 is refused before
    // a 900 MB scanline buffer is allocated.
    val big = encodeGrayPng(pix(64), 8, 8).clone()
    for (o <- Seq(16, 20)) {
      big(o + 2) = (30000 >> 8).toByte; big(o + 3) = (30000 & 0xFF).toByte
    }
    val crc = new java.util.zip.CRC32
    crc.update(big, 12, 17)
    for (k <- 0 until 4) big(29 + k) = (crc.getValue >>> (24 - 8 * k)).toByte
    val e4 = intercept[IllegalArgumentException](decodeGrayPng(big))
    assert(e4.getMessage.contains("cannot fit"), e4.getMessage)
  }

  test("PNG grayscale roundtrip exercises all five filters and every small dim") {
    // h >= 5 cycles every filter type (y % 5); sweep the pixDims range.
    for (w <- 8 to 16; h <- 8 to 14) {
      val img = pix(w * h)
      val (dw, dh, out) = decodeGrayPng(encodeGrayPng(img, w, h))
      assert(dw == w && dh == h, s"dims drifted at ${w}x$h")
      assert(out.sameElements(img), s"pixels drifted at ${w}x$h")
    }
  }

  test("PNG decode rejects chunk-CRC corruption loudly") {
    val png = encodeGrayPng(pix(64), 8, 8)
    // Flip a byte inside the IDAT body (well past the 33-byte IHDR span).
    val bad = png.clone(); bad(45) = (bad(45) ^ 0x10).toByte
    val e = intercept[IllegalArgumentException](decodeGrayPng(bad))
    assert(e.getMessage.contains("CRC-32"))
  }

  test("a shifted filter schedule changes the bytes but not the decoded pixels") {
    // The mm_dedup_pixels_exact premise: re-encoding the same image
    // under a different (still spec-conformant) filter choice yields a
    // byte-DIFFERENT container that decodes to the IDENTICAL image.
    val img = pix(12 * 10)
    val a = encodeGrayPng(img, 12, 10)
    val b = encodeGrayPng(img, 12, 10, filterOffset = 1)
    assert(!a.sameElements(b), "filter shift must change container bytes")
    assert(decodeGrayPng(a)._3.sameElements(img))
    assert(decodeGrayPng(b)._3.sameElements(img),
      "shifted-schedule PNG must decode to the same pixels")
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

  // ---- Compressed modes. Corpus shapes force both the literal path
  // and the LZ77 window-copy path (including overlapping copies with
  // dist < len).

  private def repetitive(n: Int): Array[Byte] =
    Array.tabulate(n)(i => ("graft".charAt(i % 5)).toByte)

  for ((mode, name) <- Seq(1 -> "BEST_SPEED", 2 -> "BEST_COMPRESSION"))
    test(s"mode-$mode ($name) deflate roundtrips through the inflate") {
      for (n <- Seq(0, 1, 2, 3, 100, 5000, 70000)) {
        for (raw <- Seq(pix(n), repetitive(n))) {
          val z = zlibDeflate(raw, mode)
          assert(((z(0) & 0xFF) * 256 + (z(1) & 0xFF)) % 31 == 0)
          assert(zlibInflate(z, n).sameElements(raw),
            s"mode-$mode roundtrip broke at n=$n")
        }
      }
    }

  test("overlapping LZ77 copy (dist < len) decodes correctly in both modes") {
    // 3-byte period over 600 bytes: dist=3 matches far longer than 3,
    // so the decoder must copy byte-by-byte. The size bound also shows
    // that modes 1 and 2 really compress.
    val raw = Array.tabulate(600)(i => "abc".charAt(i % 3).toByte)
    for (mode <- Seq(1, 2)) {
      val z = zlibDeflate(raw, mode)
      assert(z.length < raw.length / 4,
        s"mode $mode should compress a period-3 stream hard (${z.length})")
      assert(zlibInflate(z, raw.length).sameElements(raw))
    }
  }

  test("full inflate also accepts the stored subset and mixed corpora agree") {
    for (n <- Seq(0, 1, 100, 70000)) {
      val raw = pix(n)
      // All three modes carry the same payload.
      for (mode <- 0 to 2)
        assert(zlibInflate(zlibDeflate(raw, mode), n).sameElements(raw),
          s"mode $mode broke at n=$n")
    }
  }

  test("full inflate rejects corruption loudly: trailer, truncation, reserved btype") {
    val raw = pix(500)
    for (mode <- Seq(1, 2)) {
      val z = zlibDeflate(raw, mode)
      val adlerBad = z.clone()
      adlerBad(z.length - 1) = (adlerBad(z.length - 1) ^ 0x01).toByte
      val e1 = intercept[IllegalArgumentException](zlibInflate(adlerBad, 500))
      assert(e1.getMessage.contains("data check"), s"mode $mode: ${e1.getMessage}")
      val trunc = z.take(z.length / 2)
      val e2 = intercept[IllegalArgumentException](zlibInflate(trunc, 500))
      assert(e2.getMessage.contains("truncated"), s"mode $mode: ${e2.getMessage}")
    }
    // Reserved btype=11: header bits BFINAL=1, BTYPE=3 -> byte 0b00000111.
    val res = Array[Byte](0x78, 0x01, 0x07, 0, 0, 0, 0, 1)
    val e3 = intercept[IllegalArgumentException](zlibInflate(res, 0))
    assert(e3.getMessage.contains("invalid block type"), e3.getMessage)
  }

  test("full inflate rejects an over-subscribed dynamic Huffman header") {
    // Hand-packed dynamic block: HLIT=257, HDIST=1, HCLEN=4, and all
    // four transmitted code-length-code lengths (syms 16,17,18,0) set
    // to 1 -> four 1-bit codes is over-subscribed (max two).
    val bits = new scala.collection.mutable.ArrayBuffer[Int]
    def put(v: Int, n: Int): Unit = (0 until n).foreach(i => bits += ((v >>> i) & 1))
    put(1, 1); put(2, 2) // BFINAL, BTYPE=dynamic
    put(0, 5); put(0, 5); put(0, 4) // HLIT-257, HDIST-1, HCLEN-4
    (0 until 4).foreach(_ => put(1, 3))
    val body = bits.grouped(8).map(g =>
      g.zipWithIndex.map { case (b, i) => b << i }.sum.toByte).toArray
    val stream = Array[Byte](0x78, 0x01) ++ body ++ Array[Byte](0, 0, 0, 1)
    val e = intercept[IllegalArgumentException](zlibInflate(stream, 0))
    assert(e.getMessage.contains("invalid code lengths set"), e.getMessage)
  }

  test("PNG roundtrip holds under the compressed IDAT modes") {
    for (w <- Seq(8, 11, 16); h <- Seq(8, 10, 14); mode <- Seq(1, 2)) {
      val img = pix(w * h)
      val png = encodeGrayPng(img, w, h, deflateMode = mode)
      val (dw, dh, out) = decodeGrayPng(png)
      assert(dw == w && dh == h && out.sameElements(img),
        s"mode-$mode PNG roundtrip broke at ${w}x$h")
      // And the compressed container is byte-different from stored mode.
      assert(!png.sameElements(encodeGrayPng(img, w, h)),
        "deflate mode must change container bytes")
    }
  }

  test("truecolor PNG roundtrip: bpp=3 filter walk over all five filters and modes") {
    for (w <- Seq(8, 11, 16); h <- Seq(8, 10, 14); mode <- Seq(0, 1, 2)) {
      val img = pix(w * h * 3)
      val png = encodePng(img, w, h, 3, deflateMode = mode)
      val (dw, dh, bpp, out) = decodePng(png)
      assert(dw == w && dh == h && bpp == 3, s"RGB dims drifted at ${w}x$h")
      assert(out.sameElements(img), s"RGB pixels drifted at ${w}x$h mode $mode")
    }
    // The grayscale wrapper refuses to reinterpret truecolor triplets.
    val rgb = encodePng(pix(8 * 8 * 3), 8, 8, 3)
    val e = intercept[IllegalArgumentException](decodeGrayPng(rgb))
    assert(e.getMessage.contains("truecolor"))
  }

  test("BT.601 integer luminance of a known triplet") {
    // Pure white -> 255, pure black -> 0, mid checks the >> 8 floor.
    def lum(r: Int, g: Int, b: Int) = (77 * r + 150 * g + 29 * b) >> 8
    assert(lum(255, 255, 255) == 255)
    assert(lum(0, 0, 0) == 0)
    assert(lum(100, 50, 25) == (7700 + 7500 + 725) / 256)
  }

  test("GCLP clip container: write/walk roundtrip, bounds, trailing-byte rejection") {
    val frames = (0 until 5).map(f => encodeGrayPng(pix(8 * 8), 8, 8,
      deflateMode = f % 3))
    val clip = wrapClip(frames)
    val back = clipFrames(clip)
    assert(back.length == 5)
    for (f <- 0 until 5) {
      assert(back(f).sameElements(frames(f)), s"frame $f bytes drifted")
      assert(decodeGrayPng(back(f))._3.sameElements(pix(64)))
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

  test("tilePixels matches the oracle's construction pixel-for-pixel") {
    val data = "hello graft".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val t = tilePixels(data, 9, 5)
    for (k <- 0 until 45)
      assert(t(k) == data(k % data.length), s"tile broke at k=$k")
  }
}
