package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

/** Archive-tier contract: TAR/ZIP/GZIP/WARC walkers must round-trip
  * their builders, interoperate with the INDEPENDENT `java.util.zip`
  * implementations where the JVM ships one (gzip both directions, zip
  * both directions — including the data-descriptor shape
  * ZipOutputStream emits for DEFLATED entries), reject corruption at
  * every structural field, and stay total on garbage. TAR and WARC have
  * no JVM twin, so their layouts are asserted byte-by-byte against the
  * public field tables here, independently of the builders.
  */
class ArchiveCodecSpec extends AnyFunSuite {

  private def lcg(seed: Int, n: Int): Array[Byte] =
    Array.tabulate(n)(k => ((seed * 13 + k * 7) % 128).toByte)

  // ------------------------------------------------------------- tar

  test("tar: build/entries round-trip and hand-checked header layout") {
    val files = Seq(("a.txt", lcg(1, 700)), ("dir/b.bin", lcg(2, 512)),
      ("c", Array.emptyByteArray))
    val tar = TarCodec.build(files, mtime = 1234567L)
    // layout independent of the parser: size field is octal at 124,
    // magic "ustar\0" at 257, data starts at 512 and is block-padded
    assert(new String(tar, 257, 5, "ISO-8859-1") == "ustar")
    assert(java.lang.Long.parseLong(
      new String(tar, 124, 11, "ISO-8859-1"), 8) == 700)
    assert(tar.length == 512 + 1024 /*700 padded*/ + 512 + 512 + 512 + 1024)
    val es = TarCodec.entries(tar).getOrElse(fail("rejected own build"))
    assert(es.map(_.name) == Seq("a.txt", "dir/b.bin", "c"))
    assert(es.map(_.size) == Seq(700, 512, 0))
    assert(es.forall(_.mtime == 1234567L))
    files.zip(es).foreach { case ((_, data), e) =>
      assert(TarCodec.payload(tar, e).sameElements(data))
    }
  }

  test("tar: corruption and truncation reject, garbage never throws") {
    val tar = TarCodec.build(Seq(("x", lcg(3, 100))))
    def mut(i: Int, v: Int) = { val c = tar.clone(); c(i) = v.toByte; c }
    assert(TarCodec.entries(mut(0, 'y')).isEmpty, "checksum must break")
    assert(TarCodec.entries(mut(124, '9')).isEmpty, "non-octal size digit")
    assert(TarCodec.entries(mut(258, 'x')).isEmpty, "magic")
    assert(TarCodec.entries(tar.dropRight(512)).isEmpty, "missing terminator")
    assert(TarCodec.entries(tar ++ Array[Byte](1)).isEmpty, "trailing garbage")
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 200)
      TarCodec.entries(Array.fill(rnd.nextInt(2000))(rnd.nextInt(256).toByte))
  }

  test("tar: the ustar prefix field joins long paths (hand-assembled header)") {
    // the builder never emits a prefix; assemble one by hand so the
    // decode path is covered independently: prefix[155]@345 + name[100]@0
    val data = lcg(20, 10)
    val base = TarCodec.build(Seq(("leaf.txt", data)))
    val h = java.util.Arrays.copyOfRange(base, 0, 512)
    val prefix = "very/deep/dir".getBytes("ISO-8859-1")
    System.arraycopy(prefix, 0, h, 345, prefix.length)
    // recompute the checksum over the patched header
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    var sum = 0L; h.foreach(b => sum += (b & 0xFF))
    val cs = java.lang.Long.toOctalString(sum)
    val csb = ("0" * (6 - cs.length) + cs + "\u0000 ").getBytes("ISO-8859-1")
    System.arraycopy(csb, 0, h, 148, 8)
    val tar = h ++ base.drop(512)
    val es = TarCodec.entries(tar).getOrElse(fail("prefix header rejected"))
    assert(es.head.name == "very/deep/dir/leaf.txt")
    assert(TarCodec.payload(tar, es.head).sameElements(data))
  }

  // ------------------------------------------------------------ gzip

  test("gzip: members round-trips and java.util.zip reads our bytes") {
    val p1 = lcg(4, 900); val p2 = lcg(5, 33)
    val gz = GzipCodec.buildMember(p1, Some("one.dat"), mtime = 99L) ++
      GzipCodec.buildMember(p2)
    val ms = GzipCodec.members(gz, 1 << 20).getOrElse(fail("rejected own"))
    assert(ms.length == 2)
    assert(ms(0).name.contains("one.dat") && ms(0).mtime == 99L)
    assert(ms(0).payload.sameElements(p1) && ms(1).payload.sameElements(p2))
    assert(ms(0).offset == 0 && ms(1).offset == ms(0).compressedBytes)
    // independent decoder: GZIPInputStream concatenates members
    val jin = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(gz))
    val all = jin.readAllBytes()
    assert(all.sameElements(p1 ++ p2), "java.util.zip disagrees on payload")
  }

  test("gzip: our walker reads java.util.zip output") {
    val p = lcg(6, 1234)
    val bos = new java.io.ByteArrayOutputStream()
    val gout = new java.util.zip.GZIPOutputStream(bos)
    gout.write(p); gout.close()
    val ms = GzipCodec.members(bos.toByteArray, 1 << 20)
      .getOrElse(fail("rejected GZIPOutputStream bytes"))
    assert(ms.length == 1 && ms.head.payload.sameElements(p))
  }

  test("gzip: FEXTRA + FCOMMENT + FHCRC header fields (hand-assembled)") {
    // the builder never writes these optional fields; assemble a member
    // with all three so the skip/verify paths are covered: FLG = FHCRC|
    // FEXTRA|FCOMMENT = 2|4|16 = 22, then xlen+extra, NUL-terminated
    // comment, and the CRC-16 of everything so far
    val payload = lcg(21, 150)
    val deflated = DeflateCodec.deflate(payload)
    val head = new java.io.ByteArrayOutputStream()
    head.write(Array[Byte](0x1F, 0x8B.toByte, 8, 22, 0, 0, 0, 0, 0, 255.toByte))
    head.write(Array[Byte](3, 0)) // xlen = 3
    head.write(Array[Byte](9, 9, 9)) // extra payload, opaque
    head.write("a comment".getBytes("ISO-8859-1")); head.write(0)
    val hb = head.toByteArray
    def crc32(b: Array[Byte]): Long = {
      val c = new java.util.zip.CRC32; c.update(b); c.getValue
    }
    val crc16 = (crc32(hb) & 0xFFFF).toInt
    head.write(crc16 & 0xFF); head.write((crc16 >> 8) & 0xFF)
    head.write(deflated)
    val crc = crc32(payload)
    for (k <- 0 until 4) head.write(((crc >> (8 * k)) & 0xFF).toInt)
    for (k <- 0 until 4) head.write((payload.length >> (8 * k)) & 0xFF)
    val member = head.toByteArray
    val ms = GzipCodec.members(member, 1 << 20)
      .getOrElse(fail("FEXTRA/FCOMMENT/FHCRC member rejected"))
    assert(ms.length == 1 && ms.head.payload.sameElements(payload))
    // a wrong header CRC-16 must reject
    val bad = member.clone()
    bad(hb.length) = (bad(hb.length) ^ 1).toByte
    assert(GzipCodec.members(bad, 1 << 20).isEmpty, "FHCRC mismatch accepted")
    // java.util.zip agrees the well-formed member is readable
    val jin = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(member))
    assert(jin.readAllBytes().sameElements(payload))
  }

  test("gzip: trailer/flag corruption rejects, garbage never throws") {
    val gz = GzipCodec.buildMember(lcg(7, 300))
    def mut(i: Int, v: Int) = { val c = gz.clone(); c(i) = v.toByte; c }
    assert(GzipCodec.members(mut(0, 0x1E), 1 << 20).isEmpty, "magic")
    assert(GzipCodec.members(mut(3, 0x20), 1 << 20).isEmpty, "reserved flag")
    assert(GzipCodec.members(mut(gz.length - 1, gz(gz.length - 1) ^ 1), 1 << 20)
      .isEmpty, "ISIZE")
    assert(GzipCodec.members(mut(gz.length - 8, gz(gz.length - 8) ^ 1), 1 << 20)
      .isEmpty, "CRC32")
    assert(GzipCodec.members(gz.dropRight(3), 1 << 20).isEmpty, "truncated")
    assert(GzipCodec.members(gz, 100).isEmpty, "bomb guard: maxOut undershoot")
    val rnd = new scala.util.Random(8)
    for (_ <- 0 until 200)
      GzipCodec.members(Array.fill(rnd.nextInt(1000))(rnd.nextInt(256).toByte),
        1 << 16)
  }

  // ------------------------------------------------------------- zip

  test("zip: build/entries round-trip and java.util.zip reads our bytes") {
    val files = Seq(("s.txt", lcg(9, 400), false), ("d.bin", lcg(10, 800), true),
      ("empty", Array.emptyByteArray, false))
    val zip = ZipCodec.build(files)
    val es = ZipCodec.entries(zip).getOrElse(fail("rejected own build"))
    assert(es.map(_.name) == files.map(_._1))
    assert(es.map(_.method) == Seq(0, 8, 0))
    files.zip(es).foreach { case ((_, data, _), e) =>
      assert(e.payload.sameElements(data))
      assert(e.uncompressedSize == data.length)
    }
    // independent decoder
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(zip))
    files.foreach { case (name, data, _) =>
      val ze = zin.getNextEntry
      assert(ze.getName == name)
      assert(zin.readAllBytes().sameElements(data), s"payload of $name")
    }
    assert(zin.getNextEntry == null)
  }

  test("zip: our walker reads ZipOutputStream output (data-descriptor shape)") {
    val bos = new java.io.ByteArrayOutputStream()
    val zout = new java.util.zip.ZipOutputStream(bos)
    val a = lcg(11, 600); val b = lcg(12, 77)
    zout.putNextEntry(new java.util.zip.ZipEntry("a.dat")) // DEFLATED + descriptor
    zout.write(a); zout.closeEntry()
    val st = new java.util.zip.ZipEntry("b.dat") // STORED: preset sizes
    st.setMethod(java.util.zip.ZipEntry.STORED)
    st.setSize(b.length); st.setCompressedSize(b.length)
    val crc = new java.util.zip.CRC32(); crc.update(b); st.setCrc(crc.getValue)
    zout.putNextEntry(st); zout.write(b); zout.closeEntry()
    zout.close()
    val es = ZipCodec.entries(bos.toByteArray)
      .getOrElse(fail("rejected ZipOutputStream bytes"))
    assert(es.map(_.name) == Seq("a.dat", "b.dat"))
    assert(es(0).method == 8 && es(1).method == 0)
    assert(es(0).payload.sameElements(a) && es(1).payload.sameElements(b))
  }

  test("zip: EOCD comment tail is scanned back through (hand-patched)") {
    // the builder writes commentLen = 0; patch a comment on so the
    // backward EOCD signature scan is exercised with a non-empty tail
    val zip = ZipCodec.build(Seq(("c.txt", lcg(22, 300), true)))
    val comment = "trailing archive comment".getBytes("ISO-8859-1")
    val patched = zip.clone()
    patched(patched.length - 2) = (comment.length & 0xFF).toByte
    patched(patched.length - 1) = ((comment.length >> 8) & 0xFF).toByte
    val withComment = patched ++ comment
    val es = ZipCodec.entries(withComment)
      .getOrElse(fail("commented EOCD rejected"))
    assert(es.head.name == "c.txt" && es.head.payload.sameElements(lcg(22, 300)))
    // a comment SHORTER than declared must reject (EOCD no longer ends
    // the file at the declared offset)
    assert(ZipCodec.entries(withComment.dropRight(1)).isEmpty)
  }

  test("zip: corruption rejects, garbage never throws") {
    val zip = ZipCodec.build(Seq(("x", lcg(13, 256), true)))
    def mut(i: Int, v: Int) = { val c = zip.clone(); c(i) = v.toByte; c }
    assert(ZipCodec.entries(mut(0, 0)).isEmpty, "local sig")
    assert(ZipCodec.entries(mut(14, zip(14) ^ 1)).isEmpty, "local CRC field")
    assert(ZipCodec.entries(zip.dropRight(1)).isEmpty, "truncated EOCD")
    assert(ZipCodec.entries(zip ++ Array[Byte](0)).isEmpty,
      "EOCD no longer ends the file")
    val rnd = new scala.util.Random(14)
    for (_ <- 0 until 200)
      ZipCodec.entries(Array.fill(rnd.nextInt(1500))(rnd.nextInt(256).toByte))
  }

  // ------------------------------------------------------------ warc

  test("warc: build/records round-trip, multi-record and warc.gz composition") {
    val r1 = WarcCodec.buildRecord("warcinfo", "<urn:uuid:0>",
      "2026-01-01T00:00:00Z", None, lcg(15, 40))
    val r2 = WarcCodec.buildRecord("response", "<urn:uuid:1>",
      "2026-01-01T00:00:01Z", Some("http://example.com/a"), lcg(16, 321))
    val rs = WarcCodec.records(r1 ++ r2).getOrElse(fail("rejected own build"))
    assert(rs.map(_.warcType) == Seq("warcinfo", "response"))
    assert(rs(1).targetUri.contains("http://example.com/a"))
    assert(rs(1).contentLength == 321 && rs(1).payload.sameElements(lcg(16, 321)))
    assert(rs(1).offset == r1.length)
    // the Common Crawl carriage: one gzip member per record
    val wgz = GzipCodec.buildMember(r1) ++ GzipCodec.buildMember(r2)
    val ms = GzipCodec.members(wgz, 1 << 20).get
    assert(ms.length == 2)
    ms.zip(Seq(r1, r2)).foreach { case (m, r) =>
      val rec = WarcCodec.records(m.payload).get
      assert(rec.length == 1 && (m.payload.sameElements(r)))
    }
  }

  test("warc: revisit linkage headers round-trip and parse from raw text") {
    // build-side round trip: empty block, WARC-Refers-To + Payload-Digest
    val rv = WarcCodec.buildRecord("revisit", "<urn:uuid:3>",
      "2026-01-01T00:00:03Z", Some("http://example.com/b"),
      Array.emptyByteArray, refersTo = Some("<urn:uuid:1>"),
      payloadDigest = Some("md5:0123456789abcdef0123456789abcdef"))
    val r = WarcCodec.records(rv).getOrElse(fail("rejected own build")).head
    assert(r.warcType == "revisit" && r.contentLength == 0)
    assert(r.refersTo.contains("<urn:uuid:1>"))
    assert(r.payloadDigest.contains("md5:0123456789abcdef0123456789abcdef"))
    // records WITHOUT the headers keep None (the default path unchanged)
    val plain = WarcCodec.buildRecord("response", "<urn:uuid:4>",
      "2026-01-01T00:00:04Z", None, lcg(19, 8))
    val p = WarcCodec.records(plain).get.head
    assert(p.refersTo.isEmpty && p.payloadDigest.isEmpty)
    // hand-written raw record (case-shifted header names, no builder)
    val raw = ("WARC/1.0\r\nwarc-type: revisit\r\nWARC-RECORD-ID: <u:1>\r\n" +
      "Warc-Date: 2026-01-01T00:00:05Z\r\nWarc-Refers-To: <u:0>\r\n" +
      "WARC-Payload-Digest: sha1:ABC\r\nContent-Length: 0\r\n\r\n\r\n\r\n")
      .getBytes("ISO-8859-1")
    val h = WarcCodec.records(raw).getOrElse(fail("raw rejected")).head
    assert(h.refersTo.contains("<u:0>") && h.payloadDigest.contains("sha1:ABC"))
  }

  test("warc: structural violations reject, garbage never throws") {
    val ok = WarcCodec.buildRecord("response", "<urn:uuid:2>",
      "2026-01-01T00:00:02Z", None, lcg(17, 64))
    def mut(i: Int, v: Int) = { val c = ok.clone(); c(i) = v.toByte; c }
    assert(WarcCodec.records(mut(5, '2')).isEmpty, "version line")
    assert(WarcCodec.records(ok.dropRight(1)).isEmpty, "separator")
    assert(WarcCodec.records(ok.dropRight(5)).isEmpty, "short body")
    // strip the Content-Length header entirely: mandatory field missing
    val text = new String(ok, "ISO-8859-1")
    val noLen = text.replaceFirst("Content-Length: \\d+\r\n", "")
    assert(WarcCodec.records(noLen.getBytes("ISO-8859-1")).isEmpty)
    val rnd = new scala.util.Random(18)
    for (_ <- 0 until 200)
      WarcCodec.records(Array.fill(rnd.nextInt(800))(rnd.nextInt(256).toByte))
  }
}
