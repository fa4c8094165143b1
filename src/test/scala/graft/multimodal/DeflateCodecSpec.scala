package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

/** DeflateCodec contract: the encoder's output is not standardized, so
  * the pins are (1) determinism, (2) conformance through [[InflateCodec]]
  * and a bare `java.util.zip.Inflater` across payload regimes, (3) the
  * stored-block fallback on incompressible data, and (4) the
  * sync-flushed stream mode against both [[InflateCodec.Stream]] and a
  * SYNC_FLUSH-fed `Inflater`.
  */
class DeflateCodecSpec extends AnyFunSuite {

  private def viaInflater(zlibBytes: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(zlibBytes)
    val out = new Array[Byte](expected)
    var got = 0
    while (got < expected && !inf.finished()) {
      val n = inf.inflate(out, got, expected - got)
      if (n == 0 && inf.needsInput()) fail("Inflater stalled")
      got += n
    }
    assert(got == expected, s"Inflater produced $got of $expected")
    inf.end()
    out
  }

  private def payloads(rnd: scala.util.Random): Seq[Array[Byte]] = Seq(
    Array.emptyByteArray,
    Array.fill(1)(42.toByte),
    Array.fill(200000)(7.toByte), // long runs (overlapping matches)
    Array.fill(70000)(rnd.nextInt(256).toByte), // incompressible, > one stored block
    Array.tabulate(50000)(i => (i % 251).toByte), // periodic
    ("the quick brown fox jumps over the lazy dog " * 2000).getBytes("UTF-8"),
    Array.tabulate(33000)(i => ((i * i) % 17).toByte))

  test("zlib streams round-trip through InflateCodec AND Inflater") {
    val rnd = new scala.util.Random(0xDEF1A7E)
    for ((p, k) <- (payloads(rnd) ++ Seq.fill(20)(
        Array.fill(rnd.nextInt(40000))(rnd.nextInt(256).toByte))).zipWithIndex) {
      val z = DeflateCodec.zlib(p)
      val viaEngine = InflateCodec.zlib(z, p.length)
        .getOrElse(fail(s"case $k: engine inflate rejected"))
      assert(viaEngine.sameElements(p), s"case $k: engine mismatch")
      assert(viaInflater(z, p.length).sameElements(p), s"case $k: Inflater mismatch")
    }
  }

  test("output is deterministic") {
    val rnd = new scala.util.Random(0xD37)
    val p = Array.fill(50000)(rnd.nextInt(8).toByte)
    assert(DeflateCodec.zlib(p).sameElements(DeflateCodec.zlib(p)))
  }

  test("incompressible data falls back to stored blocks (bounded expansion)") {
    val rnd = new scala.util.Random(0x570)
    val p = Array.fill(150000)(rnd.nextInt(256).toByte)
    val z = DeflateCodec.zlib(p)
    // zlib header (2) + trailer (4) + 5 bytes per 65535-byte stored block
    assert(z.length <= p.length + 6 + 5 * 3, s"expanded to ${z.length}")
    assert(InflateCodec.zlib(z, p.length).get.sameElements(p))
  }

  test("compressible data actually compresses") {
    val p = ("abcabcabc" * 5000).getBytes("UTF-8")
    assert(DeflateCodec.zlib(p).length < p.length / 10)
  }

  test("stream mode: segments decode through InflateCodec.Stream with cross-segment matches") {
    val rnd = new scala.util.Random(0x57AE)
    val enc = new DeflateCodec.Stream
    val dec = new InflateCodec.Stream
    val base = Array.fill(3000)(rnd.nextInt(9).toByte)
    for (k <- 0 until 12) {
      // later segments repeat earlier content → only cross-segment
      // back-references can compress them
      val seg = if (k == 0) base
        else base.clone().map(b => if (rnd.nextInt(50) == 0) (b + 1).toByte else b)
      val z = enc.segment(seg)
      if (k > 0) assert(z.length < seg.length / 4,
        s"segment $k did not use cross-segment context (${z.length} bytes)")
      val got = dec.segment(z, 0).getOrElse(fail(s"segment $k rejected"))
      assert(got.sameElements(seg), s"segment $k mismatch")
    }
    dec.close()
  }

  test("stream mode: Inflater accepts the same segment stream") {
    val rnd = new scala.util.Random(0x57AF)
    val enc = new DeflateCodec.Stream
    val inf = new java.util.zip.Inflater()
    for (k <- 0 until 6) {
      val seg = Array.fill(2000 + rnd.nextInt(2000))(rnd.nextInt(30).toByte)
      val z = enc.segment(seg)
      inf.setInput(z)
      val out = new Array[Byte](seg.length)
      var got = 0
      while (got < seg.length) {
        val n = inf.inflate(out, got, seg.length - got)
        if (n == 0) fail(s"segment $k: Inflater stalled at $got")
        got += n
      }
      assert(out.sameElements(seg), s"segment $k: Inflater mismatch")
    }
    inf.end()
  }
}
