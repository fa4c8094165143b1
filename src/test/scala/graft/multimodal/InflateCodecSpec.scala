package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

/** InflateCodec contract: round-trips of java.util.zip.Deflater output
  * at EVERY compression level (0 = stored blocks, 1 = fixed-leaning,
  * 9 = dynamic Huffman) over random, redundant, and empty payloads;
  * hand-assembled blocks of each BTYPE from this spec's own bit packer;
  * the zlib wrapper checks (header consistency, FDICT rejection,
  * Adler-32 verification, nothing after the trailer); the exact-size
  * and `maxOut` bounds; and totality on mangled streams.
  */
class InflateCodecSpec extends AnyFunSuite {

  private def deflate(data: Array[Byte], level: Int): Array[Byte] = {
    val d = new java.util.zip.Deflater(level)
    d.setInput(data); d.finish()
    val buf = new Array[Byte](data.length + 1024)
    val out = new java.io.ByteArrayOutputStream()
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  test("differential vs Deflater: all levels 0-9, random + redundant + pathological payloads") {
    val rnd = new scala.util.Random(0x1F1A)
    for (level <- 0 to 9; k <- 0 until 12) {
      val data = k % 4 match {
        case 0 => Array.fill(rnd.nextInt(5000))(rnd.nextInt(256).toByte) // incompressible
        case 1 => Array.fill(rnd.nextInt(8000))((rnd.nextInt(3) + 65).toByte) // tiny alphabet → deep LZ
        case 2 => Array.tabulate(rnd.nextInt(6000))(i => (i % 97).toByte) // periodic → long matches
        case _ => Array.emptyByteArray
      }
      val z = deflate(data, level)
      val back = InflateCodec.zlib(z, data.length)
        .getOrElse(fail(s"level $level case $k rejected (n=${data.length})"))
      assert(back.sameElements(data), s"level $level case $k")
    }
  }

  test("differential: long-range matches exercise the full 32 KiB window") {
    val rnd = new scala.util.Random(0x32AB)
    val unit = Array.fill(30000)(rnd.nextInt(256).toByte)
    val data = unit ++ Array.fill(100)(7.toByte) ++ unit // distance ≈ 30100
    val z = deflate(data, 9)
    val back = InflateCodec.zlib(z, data.length).getOrElse(fail("rejected"))
    assert(back.sameElements(data))
  }

  // ---- hand-assembled raw DEFLATE (own LSB-first packer)

  private def pack(bits: Seq[(Int, Int)]): Array[Byte] = { // (value, width)
    var cur = 0L; var n = 0
    val out = new java.io.ByteArrayOutputStream()
    bits.foreach { case (v, w) =>
      cur |= (v.toLong & ((1L << w) - 1)) << n
      n += w
      while (n >= 8) { out.write((cur & 0xFF).toInt); cur >>= 8; n -= 8 }
    }
    if (n > 0) out.write((cur & 0xFF).toInt)
    out.toByteArray
  }

  /** Fixed-Huffman literal code for byte b (RFC 1951 §3.2.6): 8 bits,
    * value 0x30+b for b<144, else 9 bits 0x190+(b-144) — emitted
    * MSB-first, so reverse into the LSB-first packer.
    */
  private def fixedLit(b: Int): (Int, Int) = {
    val (code, len) = if (b < 144) (0x30 + b, 8) else (0x190 + (b - 144), 9)
    var rev = 0
    for (i <- 0 until len) if ((code & (1 << i)) != 0) rev |= 1 << (len - 1 - i)
    (rev, len)
  }

  test("hand-assembled: stored block + fixed-Huffman block concatenated") {
    val stored = Array[Byte](10, 20, 30)
    val fixedBytes = Array[Byte](65, 66, 200.toByte) // crosses the 144 code split
    val storedHeader = Seq((0, 1), (0, 2)) // BFINAL=0, BTYPE=00
    val storedBody = // align happens in decoder; we pack to byte boundary manually
      Array[Byte](3, 0, 0xFC.toByte, 0xFF.toByte) ++ stored
    val fixedHeader = Seq((1, 1), (1, 2)) // BFINAL=1, BTYPE=01
    val fixedBody = fixedBytes.map(b => fixedLit(b & 0xFF)).toSeq :+ ((0, 7)) // EOB = code 256 = 7 zero bits
    val raw = pack(storedHeader) ++ storedBody ++ pack(fixedHeader ++ fixedBody)
    val out = InflateCodec.inflate(raw, 0, 6).getOrElse(fail("hand-assembled rejected"))
    assert(out.sameElements(stored ++ fixedBytes))
  }

  test("hand-assembled: fixed-Huffman length/distance copy (RLE via distance 1)") {
    // literal 'A', then length=4 distance=1 (code 257: len 3+... use
    // code 258 = length 4; dist code 0 = distance 1), EOB
    // length code 258 → 7-bit code value 3 (257→2, 258→3), MSB-first
    def code7(v: Int): (Int, Int) = {
      var rev = 0
      for (i <- 0 until 7) if ((v & (1 << i)) != 0) rev |= 1 << (6 - i)
      (rev, 7)
    }
    def dist5(v: Int): (Int, Int) = {
      var rev = 0
      for (i <- 0 until 5) if ((v & (1 << i)) != 0) rev |= 1 << (4 - i)
      (rev, 5)
    }
    val seq = Seq((1, 1), (1, 2), fixedLit('A'), code7(258 - 256), dist5(0), (0, 7))
    val out = InflateCodec.inflate(pack(seq), 0, 5).getOrElse(fail("rejected"))
    assert(out.sameElements("AAAAA".getBytes("US-ASCII")),
      "distance-1 length-4 copy after one literal is the classic RLE form")
  }

  test("zlib wrapper: header check bits, FDICT, and Adler-32 all enforced") {
    val data = Array.tabulate(500)(i => (i % 251).toByte)
    val good = deflate(data, 6)
    assert(InflateCodec.zlib(good, 500).isDefined)
    // corrupt FLG check bits
    val badHdr = good.clone(); badHdr(1) = (badHdr(1) ^ 0x01).toByte
    assert(InflateCodec.zlib(badHdr, 500).isEmpty, "header check bits must reject")
    // flip a bit in the stored Adler-32
    val badAdler = good.clone()
    badAdler(badAdler.length - 1) = (badAdler(badAdler.length - 1) ^ 0x10).toByte
    assert(InflateCodec.zlib(badAdler, 500).isEmpty, "Adler-32 mismatch must reject")
    // wrong expected size
    assert(InflateCodec.zlib(good, 499).isEmpty)
    assert(InflateCodec.zlib(good, 501).isEmpty)
    // FDICT: a stream built against a preset dictionary is refused
    // outright (Inflater would otherwise wait on needsDictionary())
    val d = new java.util.zip.Deflater(6)
    d.setDictionary(Array.tabulate(64)(i => (i % 251).toByte))
    d.setInput(data); d.finish()
    val buf = new Array[Byte](2048)
    val dict = java.util.Arrays.copyOf(buf, d.deflate(buf))
    d.end()
    assert((dict(1) & 0x20) != 0, "precondition: FDICT flag set")
    val t0 = System.nanoTime()
    assert(InflateCodec.zlib(dict, 500).isEmpty, "FDICT must reject")
    assert(InflateCodec.zlibUnknown(dict, 1 << 20).isEmpty, "FDICT must reject")
    val zs = new InflateCodec.Stream
    try assert(zs.segment(dict, 0).isEmpty, "FDICT must reject")
    finally zs.close()
    assert(System.nanoTime() - t0 < 5000000000L, "FDICT rejection must not spin")
  }

  test("totality: truncations and bit flips never throw") {
    val rnd = new scala.util.Random(0xBADF)
    val data = Array.fill(3000)(rnd.nextInt(256).toByte)
    val z = deflate(data, 9)
    (0 until z.length by 7).foreach { k =>
      assert(InflateCodec.zlib(z.take(k), data.length).isEmpty, s"prefix $k")
    }
    for (_ <- 0 until 300) {
      val m = z.clone()
      m(rnd.nextInt(m.length)) = (m(rnd.nextInt(m.length)) ^ (1 << rnd.nextInt(8))).toByte
      InflateCodec.zlib(m, data.length)
    }
    succeed
  }

  test("Stream: sync-flushed segments share context (distances reach into prior segments)") {
    val rnd = new scala.util.Random(0x57E4)
    val d = new java.util.zip.Deflater(6)
    val segs = (0 until 5).map { i =>
      // later segments repeat earlier content → back-references across
      // the segment boundary are guaranteed profitable
      val payload =
        if (i == 0) Array.fill(4000)(rnd.nextInt(256).toByte)
        else Array.fill(500)(rnd.nextInt(256).toByte) ++
          Array.tabulate(1500)(j => ((j * 7 + i) % 256).toByte)
      payload
    }
    val compressed = segs.map { p =>
      d.setInput(p)
      val buf = new Array[Byte](p.length + 1024)
      val out = new java.io.ByteArrayOutputStream()
      var n = d.deflate(buf, 0, buf.length, java.util.zip.Deflater.SYNC_FLUSH)
      while (n > 0) {
        out.write(buf, 0, n)
        n = d.deflate(buf, 0, buf.length, java.util.zip.Deflater.SYNC_FLUSH)
      }
      out.toByteArray
    }
    d.end()
    val zs = new InflateCodec.Stream
    compressed.zip(segs).zipWithIndex.foreach { case ((c, want), i) =>
      val got = zs.segment(c, 0).getOrElse(fail(s"segment $i rejected"))
      assert(got.sameElements(want), s"segment $i")
    }
    // reset() is a keyframe: the stream decodes from segment 0 again
    zs.reset()
    assert(zs.segment(compressed(0), 0).exists(_.sameElements(segs(0))))
    zs.close()
    // shared-context proof: a FRESH stream cannot decode segment 1 alone
    val fresh = new InflateCodec.Stream
    val seg1Alone = fresh.segment(compressed(1), 0)
    fresh.close()
    assert(seg1Alone.isEmpty || !seg1Alone.get.sameElements(segs(1)),
      "segment 1 must depend on segment 0's window (and it lacks the zlib header)")
  }

  private def syncFlushSegment(d: java.util.zip.Deflater, p: Array[Byte]): Array[Byte] = {
    d.setInput(p)
    val buf = new Array[Byte](p.length + 1024)
    val out = new java.io.ByteArrayOutputStream()
    var n = d.deflate(buf, 0, buf.length, java.util.zip.Deflater.SYNC_FLUSH)
    while (n > 0) {
      out.write(buf, 0, n)
      n = d.deflate(buf, 0, buf.length, java.util.zip.Deflater.SYNC_FLUSH)
    }
    out.toByteArray
  }

  test("Stream: maxOut bounds a decompression-bomb segment instead of inflating it") {
    // 1 MiB of zeros deflates to ~1 KiB: without an output bound a
    // crafted segment expands arbitrarily before any validity check
    // (OutOfMemoryError is not in the totality catch list). The bound
    // must reject it; the same segment under a sufficient bound decodes.
    val payload = new Array[Byte](1 << 20)
    val d = new java.util.zip.Deflater(6)
    val seg = syncFlushSegment(d, payload)
    d.end()
    assert(seg.length < 8192, "precondition: the bomb really is tiny")
    val bounded = new InflateCodec.Stream
    assert(bounded.segment(seg, 0, maxOut = 4096).isEmpty,
      "segment expanding past maxOut must be rejected")
    bounded.close()
    val roomy = new InflateCodec.Stream
    val got = roomy.segment(seg, 0, maxOut = 1 << 20).getOrElse(fail("exact bound rejected"))
    roomy.close()
    assert(got.length == payload.length && got.forall(_ == 0))
    // the same bound on the one-shot shapes
    val raw = deflate(payload, 6).drop(2) // zlib header off: raw DEFLATE + trailer
    assert(InflateCodec.inflateUnknown(raw, 0, 4096).isEmpty)
    assert(InflateCodec.inflateUnknown(raw, 0, 1 << 20).exists(_._1.length == payload.length))
    assert(InflateCodec.zlibUnknown(deflate(payload, 6), 4096).isEmpty)
  }

  test("zlib: a duplicated trailer appended after the stream is rejected") {
    // The Adler check must compare against the REAL trailer (the 4 bytes
    // immediately after the DEFLATE stream), not whatever happens to sit
    // at the end of the buffer: a stream with trailing garbage ending in
    // a copy of its own trailer must fail, not pass.
    val data = Array.tabulate(500)(i => (i % 97).toByte)
    val z = deflate(data, 6) // Deflater default wraps in zlib
    assert(InflateCodec.zlib(z, data.length).isDefined, "precondition: stream valid")
    val withGarbage = z ++ Array[Byte](1, 2, 3) ++ z.takeRight(4)
    assert(InflateCodec.zlib(withGarbage, data.length).isEmpty,
      "trailing garbage + duplicated trailer must be rejected")
    val withDupTrailer = z ++ z.takeRight(4)
    assert(InflateCodec.zlib(withDupTrailer, data.length).isEmpty,
      "duplicated trailer alone must be rejected")
  }

  test("PNG end-to-end: fixture decode through InflateCodec") {
    val img = graft.images.ImageOps.Image(16, 16,
      Array.fill(256)(((7 * 10) << 16) | ((255 - 70) << 8) | 7))
    val png = graft.images.ImageOps.encodePng(img)
    val back = PngCodec.decode(png).getOrElse(fail("PNG path rejected fixture"))
    assert(back.pixels.sameElements(img.pixels))
  }
}
