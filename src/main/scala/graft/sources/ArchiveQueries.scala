package graft.sources

import graft.GraftQuery
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SourceQueries.{Fixture, mediaScale}

/** Archive/crawl ingestion tier (rounds 10–11): the container formats a
  * 100 TB training-data ingest actually walks — POSIX tar, ZIP
  * (stored + DEFLATE members), and WARC-in-gzip-members, the exact
  * layout Common Crawl publishes (~100 TB of `.warc.gz` per snapshot,
  * one gzip member per record so readers can seek). All four walkers
  * are from-spec ([[graft.multimodal.TarCodec]] /
  * [[graft.multimodal.ZipCodec]] / [[graft.multimodal.GzipCodec]] /
  * [[graft.multimodal.WarcCodec]]), strict, and total; `java.util.zip`
  * serves as the independent differential where the JVM ships one
  * (ArchiveCodecSpec). Round 11 removed the tier's size ceiling — the
  * tar/zip/targz scans walk bounded-memory streams/preads (no
  * whole-archive array anywhere; ZIP64 supported), and composed the
  * tier into the corpus stack: crawl→corpus curation
  * ([[CrawlCorpus]]), crawl-graph ranking ([[CrawlPageRank]]),
  * RFC 9309 frontier filtering ([[RobotsFrontier]]), and
  * link-density main-content extraction ([[MainContent]]). Decode
  * happens where the scan reads the bytes — only small per-asset
  * aggregate rows move afterwards, the same 100 TB stance as every
  * other media scan.
  */
object ArchiveQueries {

  /** Open a sequential Hadoop stream for `path` (the `binaryFile`
    * source's own path strings — `file:` locally, HDFS/S3A on a
    * cluster). The round-11 scan re-plumb: queries project only
    * (path, length) from `binaryFile`, so no whole-archive
    * `Array[Byte]` ever exists — a 100 GiB tarball walks in O(64 KiB).
    */
  private[sources] def openStream(path: String): java.io.InputStream = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(new org.apache.hadoop.conf.Configuration()).open(p)
  }

  /** Positional reader for `path` — the seekable access ZIP needs
    * (directory-at-end). `FSDataInputStream.readFully(pos, …)` is the
    * pread shape every Hadoop filesystem implements; EOF surfaces as
    * IOException, which the walkers treat as malformation.
    */
  private[sources] def openReadAt(
      path: String): ((Long, Int) => Array[Byte], java.io.Closeable) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(new org.apache.hadoop.conf.Configuration()).open(p)
    val readAt = (off: Long, len: Int) => {
      val b = new Array[Byte](len)
      in.readFully(off, b, 0, len)
      b
    }
    (readAt, in)
  }

  /** Byte sum of a payload stream — the per-entry reduction the scan
    * queries hash-gate (reads in 8 KiB chunks; nothing materializes).
    */
  private[sources] def sumStream(in: java.io.InputStream): Long = {
    val buf = new Array[Byte](8192)
    var s = 0L
    var n = in.read(buf)
    while (n > 0) {
      var i = 0
      while (i < n) { s += buf(i) & 0xFF; i += 1 }
      n = in.read(buf)
    }
    s
  }

  private[sources] final class CountingStream(inner: java.io.InputStream)
      extends java.io.InputStream {
    var count = 0L
    override def read(): Int = {
      val b = inner.read()
      if (b >= 0) count += 1
      b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = inner.read(b, off, len)
      if (n > 0) count += n
      n
    }
  }

  /** Read a (single WARC record's) member stream fully, bounded: None
    * if it inflates past `max` — the per-RECORD cap that replaces the
    * round-10 per-FILE cap. Records are small by the format's design
    * (Common Crawl truncates bodies at 1 MiB); files are not.
    */
  private[sources] def readBounded(in: java.io.InputStream,
      max: Int): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(8192)
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) {
      if (out.size + n > max) return None
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    Some(out.toByteArray)
  }

  /** Fold every WARC record in a `.warc.gz` stream through `f`,
    * member-by-member via [[graft.multimodal.GzipCodec.walkMembers]] —
    * the round-12 re-plumb of the whole-file
    * `GzipCodec.members(content, …)` readers: memory is bounded by ONE
    * inflated member (≤ `maxMember`) at a time however large the file,
    * so the same plan reads a >2 GiB crawl snapshot past both the JVM
    * array and `binaryFile` content ceilings. `f` receives the running
    * accumulator, the 0-based gzip-member index, and that member's
    * parsed records. None on any gzip/WARC malformation or an
    * over-budget member — the strictness of the array path it replaces.
    */
  private[graft] def foldWarcStream[A](in: java.io.InputStream,
      maxMember: Int = 1 << 24)(z: A)(
      f: (A, Int, Seq[graft.multimodal.WarcCodec.Record]) => A): Option[A] = {
    var acc = z
    var bad = false
    var idx = 0
    val walked = graft.multimodal.GzipCodec.walkMembers(in) { (_, member) =>
      if (!bad) {
        readBounded(member, maxMember)
          .flatMap(b => graft.multimodal.WarcCodec.records(b)) match {
          case Some(recs) => acc = f(acc, idx, recs)
          case None => bad = true
        }
      }
      idx += 1
    }
    if (walked.isEmpty || bad) None else Some(acc)
  }

  /** [[foldWarcStream]] over the Hadoop stream for `path` (the
    * `binaryFile` source's own path strings — scans project only
    * (path, length); no whole-file array ever exists).
    */
  private[graft] def foldWarcRecords[A](path: String,
      maxMember: Int = 1 << 24)(z: A)(
      f: (A, Int, Seq[graft.multimodal.WarcCodec.Record]) => A): Option[A] = {
    val in = openStream(path)
    try foldWarcStream(in, maxMember)(z)(f) finally in.close()
  }

  /** Common flatMap shape: collect rows from every WARC record of the
    * file at `path`, streaming; a malformed file yields no rows (the
    * same skip semantics as the array path).
    */
  private[graft] def warcRows[A](path: String)(
      f: (Int, graft.multimodal.WarcCodec.Record) => Seq[A]): Seq[A] =
    foldWarcRecords(path)(Seq.newBuilder[A]) { (b, idx, recs) =>
      recs.foreach(r => b ++= f(idx, r)); b
    }.map(_.result()).getOrElse(Seq.empty)

  /** The fetched body a crawl consumer reads out of a WARC record,
    * carriage-independent: a `resource` record IS the body (status
    * 200 by construction — resource captures have no HTTP message),
    * while a `response` record stores the raw wire bytes (ISO 28500
    * §6.3) and parses through [[graft.text.HtmlOps.httpParse]] (status
    * line, chunked de-framing, content-coding removal). None for other
    * record types or an unparseable HTTP message. Real crawls (Common
    * Crawl's robotstxt subset included) carry robots.txt and sitemaps
    * as `response` records — a frontier that only reads `resource`
    * records parses an EMPTY rule table on real inputs and fails open.
    */
  private[sources] def fetchedBody(
      r: graft.multimodal.WarcCodec.Record): Option[(Int, Array[Byte])] =
    r.warcType match {
      case "resource" => Some((200, r.payload))
      case "response" =>
        graft.text.HtmlOps.httpParse(r.payload).map(m => (m.status, m.body))
      case _ => None
    }

  private[sources] val TarTree = Fixture("tar", "t", "tar", scales = true)

  /** Build (atomically, once per scale factor) the TAR fixture tree: 24
    * archives, asset i holding 2 + i%4 entries; entry j is 50 + 37i + 11j
    * bytes with byte k = (13i + 5j + 7k) mod 128 — every field a pure
    * function of (i, j, k), replayed closed-form by the oracle.
    */
  private[sources] def ensureTarTree(sfDir: String): String =
    TarTree.tree(sfDir) {
      import graft.multimodal.TarCodec
      (0 until 24 * mediaScale).iterator.map { i =>
        val files = (0 until 2 + i % 4).map { j =>
          (s"e$j.dat",
            Array.tabulate(50 + 37 * i + 11 * j)(k =>
              ((13 * i + 5 * j + 7 * k) % 128).toByte))
        }
        (s"${i % 2}/${TarTree.file(i)}", TarCodec.build(files))
      }
    }

  /** TAR enumeration under the hash gate: strict ustar walk (checksum
    * validated on every header, block tiling, two-zero-block
    * terminator) reduced to per-archive integer invariants. Round-11
    * re-plumb: the scan projects only (path, length) from `binaryFile`
    * and walks each archive through [[graft.multimodal.TarCodec.walk]]
    * over a Hadoop stream — no whole-archive array, so the same plan
    * reads a 100 GiB dataset tarball (the 2 GiB `binaryFile` content
    * ceiling is out of the path). The oracle replays entry counts,
    * sizes, and the full payload byte sum from the fixture formulas and
    * pins byte identity via `read_blob`.
    */
  object TarScan extends GraftQuery {
    val name = "q_tar_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      val root = ensureTarTree(sfDir)
      val idRe = TarTree.idPattern.r
      TarTree.scan(spark, root)
        .select(col("path"), col("length"))
        .as[(String, Long)]
        .flatMap { case (path, fileLen) =>
          idRe.findFirstMatchIn(path).toSeq.flatMap { m =>
            val in = new java.io.PushbackInputStream(openStream(path), 4)
            try {
              val head = new Array[Byte](4)
              var got = 0
              while (got < 4) {
                val n = in.read(head, got, 4 - got)
                if (n < 0) throw new java.io.EOFException(path)
                got += n
              }
              in.unread(head)
              graft.multimodal.TarCodec.walk(in) { (e, body) =>
                (e.size, sumStream(body))
              }.toSeq.map { rows =>
                (m.group(1).toLong, rows.length.toLong,
                  rows.map(_._1).sum, rows.map(_._1).max,
                  rows.map(_._2).sum, fileLen,
                  Sources.headHex(head))
              }
            } finally in.close()
          }
        }
        .toDF("asset_idx", "n_entries", "total_size", "max_entry",
          "sum_bytes", "n_bytes", "head_hex")
        .orderBy("asset_idx")
    }
    val oracle = Some(
      s"""WITH specs AS (
        |  SELECT i.i AS asset_idx, 2 + i.i % 4 AS ne
        |  FROM unnest(range(0, 24)) i(i)),
        |ent AS (
        |  SELECT s.asset_idx, j.j AS j,
        |         50 + 37 * s.asset_idx + 11 * j.j AS sz
        |  FROM specs s, LATERAL unnest(range(0, s.ne)) j(j)),
        |pb AS (
        |  SELECT e.asset_idx,
        |         CAST(sum((13 * e.asset_idx + 5 * e.j + 7 * k.k) % 128)
        |              AS BIGINT) AS sb
        |  FROM ent e, LATERAL unnest(range(0, e.sz)) k(k)
        |  GROUP BY 1),
        |agg AS (
        |  SELECT asset_idx, CAST(count(*) AS BIGINT) AS n_entries,
        |         CAST(sum(sz) AS BIGINT) AS total_size,
        |         CAST(max(sz) AS BIGINT) AS max_entry
        |  FROM ent GROUP BY 1),
        |b AS (${TarTree.blobRows(4)})
        |SELECT a.asset_idx, a.n_entries, a.total_size, a.max_entry,
        |       pb.sb AS sum_bytes, b.n_bytes, b.head_hex
        |FROM agg a JOIN pb USING (asset_idx) JOIN b USING (asset_idx)
        |ORDER BY a.asset_idx""".stripMargin)
  }

  private[sources] val ZipTree = Fixture("zip", "z", "zip", scales = true)

  /** Build (atomically, once per scale factor) the ZIP fixture tree: asset i
    * holds 2 + i%3 members, member j stored when (i+j) is odd and DEFLATEd
    * when even, 40 + 29i + 13j bytes with byte k = (11i+3j+5k) mod 128.
    */
  private[sources] def ensureZipTree(sfDir: String): String =
    ZipTree.tree(sfDir) {
      import graft.multimodal.ZipCodec
      (0 until 24 * mediaScale).iterator.map { i =>
        val files = (0 until 2 + i % 3).map { j =>
          (s"f$j",
            Array.tabulate(40 + 29 * i + 13 * j)(k =>
              ((11 * i + 3 * j + 5 * k) % 128).toByte),
            (i + j) % 2 == 0)
        }
        (s"${i % 2}/${ZipTree.file(i)}", ZipCodec.build(files))
      }
    }

  /** ZIP enumeration + extraction under the hash gate: central-directory
    * walk, local-header cross-validation, stored and from-spec-DEFLATE
    * member extraction with every CRC-32 recomputed and checked.
    * Round-11 re-plumb: reads via the positional
    * [[graft.multimodal.ZipCodec.walkAt]] (ZIP is directory-at-end, so
    * the scale-safe access is seek, not stream) over
    * `FSDataInputStream.readFully` preads, with ZIP64 resolved — the
    * plan that reads a 100 GiB dataset zip. The payload byte sum
    * hash-gates the DEFLATE round-trip inside the archive (an inflate
    * bug cannot reproduce the closed-form sum); the oracle replays
    * counts/sizes/sums from the fixture formulas.
    */
  object ZipScan extends GraftQuery {
    val name = "q_zip_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      val root = ensureZipTree(sfDir)
      val idRe = ZipTree.idPattern.r
      ZipTree.scan(spark, root)
        .select(col("path"), col("length"))
        .as[(String, Long)]
        .flatMap { case (path, fileLen) =>
          idRe.findFirstMatchIn(path).toSeq.flatMap { m =>
            val (readAt, closer) = openReadAt(path)
            try {
              val head = readAt(0L, math.min(4L, fileLen).toInt)
              graft.multimodal.ZipCodec.walkAt(readAt, fileLen) {
                (e, body) => (e.method, e.uncompressedSize, sumStream(body))
              }.toSeq.map { rows =>
                (m.group(1).toLong, rows.length.toLong,
                  rows.count(_._1 == 8).toLong,
                  rows.map(_._2).sum, rows.map(_._3).sum, fileLen,
                  Sources.headHex(head))
              }
            } finally closer.close()
          }
        }
        .toDF("asset_idx", "n_members", "n_deflated", "total_uncompressed",
          "sum_bytes", "n_bytes", "head_hex")
        .orderBy("asset_idx")
    }
    val oracle = Some(
      s"""WITH specs AS (
        |  SELECT i.i AS asset_idx, 2 + i.i % 3 AS nm
        |  FROM unnest(range(0, 24)) i(i)),
        |mem AS (
        |  SELECT s.asset_idx, j.j AS j,
        |         40 + 29 * s.asset_idx + 13 * j.j AS sz,
        |         CASE WHEN (s.asset_idx + j.j) % 2 = 0 THEN 1 ELSE 0 END AS defl
        |  FROM specs s, LATERAL unnest(range(0, s.nm)) j(j)),
        |pb AS (
        |  SELECT m.asset_idx,
        |         CAST(sum((11 * m.asset_idx + 3 * m.j + 5 * k.k) % 128)
        |              AS BIGINT) AS sb
        |  FROM mem m, LATERAL unnest(range(0, m.sz)) k(k)
        |  GROUP BY 1),
        |agg AS (
        |  SELECT asset_idx, CAST(count(*) AS BIGINT) AS n_members,
        |         CAST(sum(defl) AS BIGINT) AS n_deflated,
        |         CAST(sum(sz) AS BIGINT) AS total_uncompressed
        |  FROM mem GROUP BY 1),
        |b AS (${ZipTree.blobRows(4)})
        |SELECT a.asset_idx, a.n_members, a.n_deflated, a.total_uncompressed,
        |       pb.sb AS sum_bytes, b.n_bytes, b.head_hex
        |FROM agg a JOIN pb USING (asset_idx) JOIN b USING (asset_idx)
        |ORDER BY a.asset_idx""".stripMargin)
  }

  private[sources] val WarcTree = Fixture("warc", "w", "warc.gz", scales = true)

  /** Build (atomically, once per scale factor) the `.warc.gz` fixture tree in
    * the Common Crawl carriage — asset i = 2 + i%3 records, EACH its own
    * gzip member; record 0 is the warcinfo, the rest alternate
    * response/request with per-record target URIs; payload j is
    * 30 + 17i + 9j bytes with byte k = (7i + 3j + 5k) mod 128.
    */
  private[graft] def ensureWarcTree(sfDir: String): String =
    WarcTree.tree(sfDir) {
      import graft.multimodal.{GzipCodec, WarcCodec}
      (0 until 24 * mediaScale).iterator.map { i =>
        val members = (0 until 2 + i % 3).map { j =>
          val payload = Array.tabulate(30 + 17 * i + 9 * j)(k =>
            ((7 * i + 3 * j + 5 * k) % 128).toByte)
          val (tpe, uri) =
            if (j == 0) ("warcinfo", None)
            else if ((i + j) % 2 == 0)
              ("response", Some(s"http://corpus.example/d$i/p$j"))
            else ("request", Some(s"http://corpus.example/d$i/p$j"))
          GzipCodec.buildMember(WarcCodec.buildRecord(
            tpe, s"<urn:uuid:$i-$j>", "2026-01-01T00:00:00Z", uri, payload))
        }
        (s"${i % 2}/${WarcTree.file(i)}",
          members.reduce(_ ++ _))
      }
    }

  /** WARC-in-gzip ingestion under the hash gate — the Common Crawl
    * read path end-to-end: strict multi-member gzip walk (CRC-32 +
    * ISIZE verified per member) → one WARC/1.0 record per member →
    * per-file catalog row. Round-12 re-plumb: the scan projects only
    * (path, length) and folds the file through [[foldWarcStream]] —
    * one inflated record in memory at a time, so the same plan reads
    * a >2 GiB snapshot file (the `binaryFile` content ceiling is out
    * of the path; StreamingArchiveSpec proves the walk on a virtual
    * 2.3 GiB `.warc.gz`). The oracle replays record counts by type,
    * content lengths, and the payload byte sums from the fixture
    * formulas; `read_blob` pins the compressed bytes.
    */
  object WarcScan extends GraftQuery {
    val name = "q_warc_scan"
    // (members, records, response, request, uris, contentLen, byteSum)
    private final case class Acc(m: Long = 0, r: Long = 0, resp: Long = 0,
        req: Long = 0, uris: Long = 0, clen: Long = 0, bsum: Long = 0)
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      val root = ensureWarcTree(sfDir)
      val idRe = WarcTree.idPattern.r
      WarcTree.scan(spark, root)
        .select(col("path"), col("length"))
        .as[(String, Long)]
        .flatMap { case (path, fileLen) =>
          for {
            m <- idRe.findFirstMatchIn(path).toSeq
            in = new java.io.PushbackInputStream(openStream(path), 4)
            acc <- try {
              val head = new Array[Byte](4)
              var got = 0
              while (got < 4) {
                val n = in.read(head, got, 4 - got)
                if (n < 0) throw new java.io.EOFException(path)
                got += n
              }
              in.unread(head)
              foldWarcStream(in)(Acc()) { (a, _, recs) =>
                Acc(a.m + 1, a.r + recs.length,
                  a.resp + recs.count(_.warcType == "response"),
                  a.req + recs.count(_.warcType == "request"),
                  a.uris + recs.count(_.targetUri.isDefined),
                  a.clen + recs.map(_.contentLength.toLong).sum,
                  a.bsum + recs.map(
                    _.payload.map(_ & 0xFF).map(_.toLong).sum).sum)
              }.map(a => (a, Sources.headHex(head))).toSeq
            } finally in.close()
            // the .warc.gz contract: exactly one record per member
            if acc._1.r == acc._1.m
          } yield (m.group(1).toLong, acc._1.r, acc._1.resp, acc._1.req,
            acc._1.uris, acc._1.clen, acc._1.bsum, fileLen, acc._2)
        }
        .toDF("asset_idx", "n_records", "n_response", "n_request", "n_uris",
          "total_content_length", "sum_bytes", "n_bytes", "head_hex")
        .orderBy("asset_idx")
    }
    val oracle = Some(
      s"""WITH specs AS (
        |  SELECT i.i AS asset_idx, 2 + i.i % 3 AS nr
        |  FROM unnest(range(0, 24)) i(i)),
        |rec AS (
        |  SELECT s.asset_idx, j.j AS j,
        |         30 + 17 * s.asset_idx + 9 * j.j AS sz,
        |         CASE WHEN j.j = 0 THEN 'warcinfo'
        |              WHEN (s.asset_idx + j.j) % 2 = 0 THEN 'response'
        |              ELSE 'request' END AS tpe
        |  FROM specs s, LATERAL unnest(range(0, s.nr)) j(j)),
        |pb AS (
        |  SELECT r.asset_idx,
        |         CAST(sum((7 * r.asset_idx + 3 * r.j + 5 * k.k) % 128)
        |              AS BIGINT) AS sb
        |  FROM rec r, LATERAL unnest(range(0, r.sz)) k(k)
        |  GROUP BY 1),
        |agg AS (
        |  SELECT asset_idx, CAST(count(*) AS BIGINT) AS n_records,
        |         CAST(sum(CASE WHEN tpe = 'response' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_response,
        |         CAST(sum(CASE WHEN tpe = 'request' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_request,
        |         CAST(sum(CASE WHEN tpe <> 'warcinfo' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_uris,
        |         CAST(sum(sz) AS BIGINT) AS total_content_length
        |  FROM rec GROUP BY 1),
        |b AS (${WarcTree.blobRows(4)})
        |SELECT a.asset_idx, a.n_records, a.n_response, a.n_request, a.n_uris,
        |       a.total_content_length, pb.sb AS sum_bytes, b.n_bytes,
        |       b.head_hex
        |FROM agg a JOIN pb USING (asset_idx) JOIN b USING (asset_idx)
        |ORDER BY a.asset_idx""".stripMargin)
  }

  /** Apply RFC 9112 §7.1 chunked framing to a fixture body — what a
    * WARC capture of a `Transfer-Encoding: chunked` response stores
    * (raw wire bytes, chunk-size lines included): 57-byte chunks (odd
    * on purpose — boundary bugs can't hide behind round sizes), a
    * chunk extension on the first, the terminating 0-chunk.
    */
  private[sources] def chunkFrame(body: Array[Byte]): Array[Byte] = {
    val iso = java.nio.charset.StandardCharsets.ISO_8859_1
    val out = new java.io.ByteArrayOutputStream(body.length + 64)
    var off = 0
    var first = true
    while (off < body.length) {
      val n = math.min(57, body.length - off)
      val ext = if (first) ";x=y" else ""
      out.write(s"${n.toHexString}$ext\r\n".getBytes(iso))
      first = false
      out.write(body, off, n)
      out.write("\r\n".getBytes(iso))
      off += n
    }
    out.write("0\r\n\r\n".getBytes(iso))
    out.toByteArray
  }

  private[sources] val WarcHtmlTree = Fixture("warch5", "h", "warc.gz",
    scales = true)

  /** Build (atomically, once per scale factor) the HTML-payload `.warc.gz`
    * tree — round-11 shape: response records carry the RAW HTTP MESSAGE
    * (status line + headers + body), the way real WARC `response` records do
    * (ISO 28500 §6.3), so the reader must split the message and sniff
    * the charset before any text extraction. Record 0 is the warcinfo;
    * records j ≥ 1 are responses whose bodies are deterministic HTML:
    * title `t i`, heading `h i é` (the é encodes differently per
    * charset — a wrong sniff cannot reproduce the counts), and
    * 5 + (i+j)%7 paragraphs each holding word `w((3i+5j+k)%20)` twice
    * around an `&amp;`, a decimal charref (`&#65+(3i+5j+k)%26;` — an
    * uppercase letter), a hex charref (`&#x61..7a;` — a lowercase
    * letter), and an `a&nbsp;b` pair, plus a style block, a script
    * block (containing a `<p>` inside a string — the naive-stripper
    * trap), and a comment. The charset alternates UTF-8/ISO-8859-1 by
    * (i+j)%2 and is declared in the Content-Type header when j is even,
    * only in a `<meta charset>` when j is odd. Round-12 adversarial
    * framing: responses with (i+j)%3 == 0 are stored with
    * `Transfer-Encoding: chunked` wire framing (chunk-size lines
    * INSIDE the stored body — ISO 28500 §6.3 raw capture), responses
    * with (i+j)%4 == 2 under `Content-Encoding: gzip` (the body is a
    * gzip member — ~30 % of real crawl captures), some pages BOTH
    * (content coding innermost, transfer framing outermost, the RFC
    * 9110/9112 wire order), and every file carries a 404 error page
    * and a 301 redirect stub whose bodies would shift every count if
    * ingested. Round-13 codings (tag warch4 → warch5): responses with
    * (i+j)%4 == 1 are `Content-Encoding: deflate` (zlib per the RFC
    * letter, written by the engine's own [[graft.multimodal
    * .DeflateCodec.zlib]] — some ALSO chunked, the compound order),
    * and every file carries a record CLAIMING `Content-Encoding: br`
    * whose body is token-bearing plain HTML — a reader that ignores
    * the coding header strips it as text and every count shifts; the
    * engine must SKIP the record (unknown coding). Every extracted
    * token is a pure function of (i, j, k), so the oracle replays the
    * CONSTRUCTION, never parses HTML — a stripper that leaks script
    * text, keeps tags, mis-sniffs the charset, decodes any reference
    * wrong, skips de-chunking or gzip/deflate decoding (or runs them
    * in the wrong order), ingests a non-200, or lets a br-coded
    * record through cannot reproduce the counts.
    */
  private[sources] def ensureWarcHtmlTree(sfDir: String): String =
    WarcHtmlTree.tree(sfDir) {
      import graft.multimodal.{GzipCodec, WarcCodec}
      val iso = java.nio.charset.StandardCharsets.ISO_8859_1
      (0 until 24 * mediaScale).iterator.map { i =>
        val members = (0 until 2 + i % 3).map { j =>
          val (tpe, uri, payload) =
            if (j == 0)
              ("warcinfo", None,
                s"software: graft $i".getBytes(
                  java.nio.charset.StandardCharsets.UTF_8))
            else {
              val csName = if ((i + j) % 2 == 0) "utf-8" else "iso-8859-1"
              val cs = java.nio.charset.Charset.forName(csName)
              val inHeader = j % 2 == 0
              val paras = (0 until 5 + (i + j) % 7).map { k =>
                val w = s"w${(3 * i + 5 * j + k) % 20}"
                val dec = 65 + (3 * i + 5 * j + k) % 26
                val hex = (97 + (i + j + k) % 26).toHexString
                s"""<p class="x">$w &amp; $w &#$dec; &#x$hex; a&nbsp;b</p>"""
              }.mkString
              val html = s"<html><head><title>t$i</title>" +
                (if (inHeader) "" else s"""<meta charset="$csName">""") +
                "<style scoped>p { color: #fff; }</style></head>" +
                s"<body><h1>h$i \u00E9</h1>" + paras +
                """<script>if (1 < 2) { x = "<p>"; }</script>""" +
                "<!-- no --></body></html>"
              val chunked = (i + j) % 3 == 0
              val gzipped = (i + j) % 4 == 2 || chunked && (i + j) % 4 == 0
              val deflated = (i + j) % 4 == 1
              val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html" +
                (if (inHeader) s"; charset=$csName" else "") +
                "\r\nX-Crawl: graft" +
                (if (gzipped) "\r\nContent-Encoding: gzip" else "") +
                (if (deflated) "\r\nContent-Encoding: deflate" else "") +
                (if (chunked) "\r\nTransfer-Encoding: chunked" else "") +
                "\r\n\r\n"
              // wire order per RFC 9110/9112: content coding innermost,
              // transfer framing outermost — some pages carry BOTH
              val coded0 = html.getBytes(cs)
              val coded1 =
                if (gzipped) graft.multimodal.GzipCodec.buildMember(coded0)
                else if (deflated)
                  graft.multimodal.DeflateCodec.zlib(coded0)
                else coded0
              val body = if (chunked) chunkFrame(coded1) else coded1
              ("response", Some(s"http://corpus.example/h$i/$j"),
                http.getBytes(iso) ++ body)
            }
          GzipCodec.buildMember(WarcCodec.buildRecord(
            tpe, s"<urn:uuid:h$i-$j>", "2026-01-01T00:00:00Z", uri, payload))
        }
        // non-200 responses a status-blind reader would ingest: their
        // bodies carry token/é/amp-bearing HTML, so any leak shifts counts
        val notFound = GzipCodec.buildMember(WarcCodec.buildRecord(
          "response", s"<urn:uuid:h$i-e4>", "2026-01-01T00:00:00Z",
          Some(s"http://corpus.example/h$i/missing"),
          ("HTTP/1.1 404 Not Found\r\nContent-Type: text/html; " +
            "charset=utf-8\r\n\r\n").getBytes(iso) ++
            (s"<html><body><h1>h$i é</h1><p>w0 &amp; w0 &#65; " +
              "&#x61; a&nbsp;b</p></body></html>").getBytes(
              java.nio.charset.StandardCharsets.UTF_8)))
        val redirect = GzipCodec.buildMember(WarcCodec.buildRecord(
          "response", s"<urn:uuid:h$i-e3>", "2026-01-01T00:00:00Z",
          Some(s"http://corpus.example/h$i/old"),
          ("HTTP/1.1 301 Moved Permanently\r\nLocation: " +
            s"http://corpus.example/h$i/new\r\nContent-Type: text/html" +
            "\r\n\r\n<html><body><p>moved moved moved moved</p></body>" +
            "</html>").getBytes(iso)))
        // a record CLAIMING an unknown coding whose body is plain
        // token-bearing HTML: a coding-ignorant reader strips it as
        // text and shifts every count; the engine must skip it
        val brClaim = GzipCodec.buildMember(WarcCodec.buildRecord(
          "response", s"<urn:uuid:h$i-e5>", "2026-01-01T00:00:00Z",
          Some(s"http://corpus.example/h$i/br"),
          ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8" +
            "\r\nContent-Encoding: br\r\n\r\n").getBytes(iso) ++
            (s"<html><body><h1>h$i é</h1><p>w1 &amp; w1 &#66; &#x62; " +
              "a&nbsp;b</p></body></html>").getBytes(
              java.nio.charset.StandardCharsets.UTF_8)))
        (s"${i % 2}/${WarcHtmlTree.file(i)}",
          (members :+ notFound :+ redirect :+ brClaim).reduce(_ ++ _))
      }
    }

  /** Crawl text extraction under the hash gate: `.warc.gz` members →
    * WARC responses → HTTP parse ([[graft.text.HtmlOps.httpParse]]:
    * status code, header split, chunked de-framing) → 200-only gate →
    * [[graft.text.HtmlOps.sniffCharset]] (header param, else meta
    * prescan, else UTF-8) → charset decode →
    * [[graft.text.HtmlOps.stripHtml]] (codegen regex chain + the
    * single-pass native entity decoder, no UDF) → per-file token
    * statistics. This is the exact read path a web-scale corpus build
    * runs before any curation gate, end-to-end: gzip CRCs, WARC
    * grammar, HTTP status + transfer framing, charset sniffing, HTML
    * stripping, and numeric/named reference decoding all have to be
    * right at once for the closed-form token/char/é sums to come out
    * (the planted é encodes differently per charset; `total_eacute`
    * dies on any mis-sniff, `total_chars` on any undecoded
    * `&#NN;`/`&nbsp;` or leaked chunk-size line, every column on an
    * ingested 404/301 body).
    */
  object WarcHtmlExtract extends GraftQuery {
    val name = "q_warc_html_extract"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      val root = ensureWarcHtmlTree(sfDir)
      val idRe = WarcHtmlTree.idPattern.r
      val docs = WarcHtmlTree.scan(spark, root)
        .select(col("path"))
        .as[String]
        .flatMap { path =>
          idRe.findFirstMatchIn(path).toSeq.flatMap { m =>
            warcRows(path) { (_, r) =>
              if (r.warcType != "response") Seq.empty
              // the corpus gate: only 200 OK bodies are documents —
              // redirect stubs and error pages never enter the text
              else graft.text.HtmlOps.httpParse(r.payload).toSeq
                .filter(_.status == 200)
                .map(msg => (m.group(1).toLong, new String(msg.body,
                  graft.text.HtmlOps.sniffCharset(msg.headers, msg.body))))
            }
          }
        }
        .toDF("asset_idx", "html")
      val toks = split(graft.text.HtmlOps.stripHtml(col("html")), " ")
      docs.select(col("asset_idx"), toks.as("t"))
        .groupBy("asset_idx")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("t"))).as("total_tokens"),
          sum(size(expr("filter(t, x -> x = '&')"))).as("total_amps"),
          sum(size(expr("filter(t, x -> x = chr(233))"))).as("total_eacute"),
          sum(length(concat_ws("", col("t")))).as("total_chars"))
        .orderBy("asset_idx")
    }
    val oracle = Some(
      """WITH specs AS (
        |  SELECT i.i AS asset_idx, 2 + i.i % 3 AS nr
        |  FROM unnest(range(0, 24)) i(i)),
        |docs AS (
        |  SELECT s.asset_idx, j.j AS j, 5 + (s.asset_idx + j.j) % 7 AS nw
        |  FROM specs s, LATERAL unnest(range(1, s.nr)) j(j)),
        |wl AS (
        |  SELECT d.asset_idx, d.j,
        |         (3 * d.asset_idx + 5 * d.j + k.k) % 20 AS v
        |  FROM docs d, LATERAL unnest(range(0, d.nw)) k(k)),
        |-- paragraph tokens: w & w <dec-letter> <hex-letter> a<nbsp>b
        |-- = 6 tokens, chars 2*len(w) + 1 + 1 + 1 + 3
        |wchars AS (
        |  SELECT asset_idx, j,
        |         CAST(sum(2 * (1 + CASE WHEN v < 10 THEN 1 ELSE 2 END) + 6)
        |              AS BIGINT) AS wc
        |  FROM wl GROUP BY 1, 2),
        |-- per doc: title(1 tok) + h1(2 toks: 'h<i>' and the é) + 6nw
        |per AS (
        |  SELECT d.asset_idx, 3 + 6 * d.nw AS toks, d.nw AS amps,
        |         3 + 2 * (CASE WHEN d.asset_idx < 10 THEN 1 ELSE 2 END) + w.wc
        |           AS chars
        |  FROM docs d JOIN wchars w USING (asset_idx, j))
        |SELECT asset_idx, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(toks) AS BIGINT) AS total_tokens,
        |       CAST(sum(amps) AS BIGINT) AS total_amps,
        |       CAST(count(*) AS BIGINT) AS total_eacute,
        |       CAST(sum(chars) AS BIGINT) AS total_chars
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  private[sources] val TgzTree = Fixture("tgz", "g", "tar.gz", scales = true)

  /** Build (atomically, once per scale factor) the `.tar.gz` fixture tree —
    * the dataset-tarball shape (one gzip member wrapping one tar): asset i
    * holds 2 + i%3 entries, entry j is 60 + 23i + 9j bytes with byte
    * k = (17i + 7j + 3k) mod 128.
    */
  private[sources] def ensureTgzTree(sfDir: String): String =
    TgzTree.tree(sfDir) {
      import graft.multimodal.{GzipCodec, TarCodec}
      (0 until 24 * mediaScale).iterator.map { i =>
        val files = (0 until 2 + i % 3).map { j =>
          (s"d/e$j.txt",
            Array.tabulate(60 + 23 * i + 9 * j)(k =>
              ((17 * i + 7 * j + 3 * k) % 128).toByte))
        }
        (s"${i % 2}/${TgzTree.file(i)}",
          GzipCodec.buildMember(TarCodec.build(files),
            Some(TgzTree.file(i, "tar"))))
      }
    }

  /** Compressed-tarball enumeration under the hash gate — the two
    * walkers COMPOSED (gzip member → tar entries), which is how every
    * dataset tarball on disk actually reads; the gzip CRC/ISIZE, the
    * tar checksums, and the closed-form payload sums must all agree at
    * once for the row to hash green. Round-11 re-plumb: the composition
    * is now stream-in-stream —
    * [[graft.multimodal.GzipCodec.walkMembers]] inflates through a
    * 64 KiB ring and [[graft.multimodal.TarCodec.walk]] consumes the
    * inflating member directly, so neither the compressed file nor the
    * decompressed tar is ever materialized (the exact shape a 10–100
    * GiB dataset tarball needs).
    */
  object TgzScan extends GraftQuery {
    val name = "q_targz_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      val root = ensureTgzTree(sfDir)
      val idRe = TgzTree.idPattern.r
      TgzTree.scan(spark, root)
        .select(col("path"), col("length"))
        .as[(String, Long)]
        .flatMap { case (path, fileLen) =>
          idRe.findFirstMatchIn(path).toSeq.flatMap { m =>
            val in = openStream(path)
            try {
              val walked = graft.multimodal.GzipCodec.walkMembers(in) {
                (_, member) =>
                  val counted = new CountingStream(member)
                  val entries = graft.multimodal.TarCodec.walk(counted) {
                    (e, body) => (e.size, sumStream(body))
                  }
                  (entries, counted.count)
              }
              walked.toSeq.collect {
                case Seq((Some(rows), tarBytes)) =>
                  (m.group(1).toLong, rows.length.toLong,
                    rows.map(_._1).sum, rows.map(_._2).sum,
                    tarBytes, fileLen)
              }
            } finally in.close()
          }
        }
        .toDF("asset_idx", "n_entries", "total_size", "sum_bytes",
          "tar_bytes", "n_bytes")
        .orderBy("asset_idx")
    }
    val oracle = Some(
      s"""WITH specs AS (
        |  SELECT i.i AS asset_idx, 2 + i.i % 3 AS ne
        |  FROM unnest(range(0, 24)) i(i)),
        |ent AS (
        |  SELECT s.asset_idx, j.j AS j,
        |         60 + 23 * s.asset_idx + 9 * j.j AS sz
        |  FROM specs s, LATERAL unnest(range(0, s.ne)) j(j)),
        |pb AS (
        |  SELECT e.asset_idx,
        |         CAST(sum((17 * e.asset_idx + 7 * e.j + 3 * k.k) % 128)
        |              AS BIGINT) AS sb
        |  FROM ent e, LATERAL unnest(range(0, e.sz)) k(k)
        |  GROUP BY 1),
        |agg AS (
        |  SELECT asset_idx, CAST(count(*) AS BIGINT) AS n_entries,
        |         CAST(sum(sz) AS BIGINT) AS total_size,
        |         -- uncompressed tar size is closed-form: per entry a
        |         -- 512-byte header + data rounded to 512, plus the
        |         -- 1024-byte end-of-archive marker
        |         CAST(sum(512 + 512 * ((sz + 511) // 512)) + 1024 AS BIGINT)
        |           AS tar_bytes
        |  FROM ent GROUP BY 1),
        |b AS (${TgzTree.blobRows()})
        |SELECT a.asset_idx, a.n_entries, a.total_size, pb.sb AS sum_bytes,
        |       a.tar_bytes, b.n_bytes
        |FROM agg a JOIN pb USING (asset_idx) JOIN b USING (asset_idx)
        |ORDER BY a.asset_idx""".stripMargin)
  }

  private[sources] val WarcLinkTree = Fixture("whlink2", "l", "warc.gz",
    scales = true)

  /** Build (atomically, once per scale factor) the link-graph `.warc.gz`
    * tree: response page (i, j) carries 1 + (i+j)%3 anchors, anchor l
    * pointing at `http://s((i+l)%8).example/p((j+l)%5)` — a planted
    * cross-page web graph whose in-link distribution is a pure function
    * of (i, j, l). Round-12 shape: pages are stored as RAW HTTP
    * messages (ISO 28500 §6.3) — pages with (i+j)%4 == 1 under chunked
    * wire framing — and every file carries a 404 error page whose
    * anchors would skew the in-link counts of s0/p0 if a status-blind
    * reader ingested it.
    */
  private[sources] def ensureWarcLinkTree(sfDir: String): String =
    WarcLinkTree.tree(sfDir) {
      import graft.multimodal.{GzipCodec, WarcCodec}
      val iso = java.nio.charset.StandardCharsets.ISO_8859_1
      (0 until 24 * mediaScale).iterator.map { i =>
        val members = (0 until 1 + (2 + i % 3)).map { j =>
          val (tpe, uri, payload) =
            if (j == 0)
              ("warcinfo", None, s"software: graft $i".getBytes(
                java.nio.charset.StandardCharsets.UTF_8))
            else {
              val anchors = (0 until 1 + (i + j) % 3).map { l =>
                s"""<a href="http://s${(i + l) % 8}.example/p${(j + l) % 5}">x</a>"""
              }.mkString
              val html =
                s"<html><body><h1>d$i/$j</h1>$anchors</body></html>"
              val chunked = (i + j) % 4 == 1
              val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html" +
                (if (chunked) "\r\nTransfer-Encoding: chunked" else "") +
                "\r\n\r\n"
              val body = html.getBytes(
                java.nio.charset.StandardCharsets.UTF_8)
              ("response", Some(s"http://src.example/d$i/$j"),
                http.getBytes(iso) ++
                  (if (chunked) chunkFrame(body) else body))
            }
          GzipCodec.buildMember(WarcCodec.buildRecord(
            tpe, s"<urn:uuid:l$i-$j>", "2026-01-01T00:00:00Z", uri, payload))
        }
        val notFound = GzipCodec.buildMember(WarcCodec.buildRecord(
          "response", s"<urn:uuid:l$i-e4>", "2026-01-01T00:00:00Z",
          Some(s"http://src.example/d$i/missing"),
          ("HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\n" +
            """<html><body><a href="http://s0.example/p0">x</a>""" +
            """<a href="http://s0.example/p0">x</a></body></html>""")
            .getBytes(iso)))
        (s"${i % 2}/${WarcLinkTree.file(i)}",
          (members :+ notFound).reduce(_ ++ _))
      }
    }

  /** Shared scan for the link-tree consumers ([[HtmlLinkGraph]],
    * [[CrawlPageRank]], [[RobotsFrontier]]'s page side): streamed WARC
    * walk → HTTP parse → 200-only gate → (page uri, html) rows. Only
    * the gated pages' text leaves the scan.
    */
  private def linkPages(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    WarcLinkTree.scan(spark, root)
      .select(col("path"))
      .as[String]
      .flatMap { path =>
        warcRows(path) { (_, r) =>
          for {
            uri <- r.targetUri.toSeq
            if r.warcType == "response"
            msg <- graft.text.HtmlOps.httpParse(r.payload).toSeq
            if msg.status == 200
          } yield (uri, new String(msg.body,
            java.nio.charset.StandardCharsets.UTF_8))
        }
      }
      .toDF("page", "html")
  }

  /** Crawl → web graph: the link-extraction step every pretraining
    * pipeline runs (the host-level in-link graph is the backbone of
    * page-quality signals and of PageRank-style weighting — the batch
    * `q_pagerank` operator consumes exactly this edge shape). WARC
    * responses → `regexp_extract_all` over the anchor grammar (shared
    * Java/RE2 syntax, codegen scan-side — the page bytes never shuffle,
    * only (host, page) link rows) → per-target-host in-link counts,
    * distinct linking pages, distinct target paths. Oracle replays the
    * planted-graph formulas closed-form.
    */
  object HtmlLinkGraph extends GraftQuery {
    val name = "q_html_link_graph"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      val pages = linkPages(spark, ensureWarcLinkTree(sfDir))
      pages
        .select(col("page"), explode(expr(
          """regexp_extract_all(html, '<a href="([^"]+)"', 1)""")).as("href"))
        .select(col("page"),
          regexp_extract(col("href"), "http://([^/]+)/(.*)", 1).as("host"),
          regexp_extract(col("href"), "http://([^/]+)/(.*)", 2).as("pth"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_inlinks"),
          countDistinct(col("page")).as("n_linking_pages"),
          countDistinct(col("pth")).as("n_target_paths"))
        .orderBy("host")
    }
    val oracle = Some(
      """WITH specs AS (
        |  SELECT i.i AS asset_idx, 2 + i.i % 3 AS np
        |  FROM unnest(range(0, 24)) i(i)),
        |links AS (
        |  SELECT s.asset_idx, j.j AS j, l.l AS l,
        |         's' || ((s.asset_idx + l.l) % 8) || '.example' AS host,
        |         'p' || ((j.j + l.l) % 5) AS pth
        |  FROM specs s,
        |       LATERAL unnest(range(1, s.np + 1)) j(j),
        |       LATERAL unnest(range(0, 1 + (s.asset_idx + j.j) % 3)) l(l))
        |SELECT host, count(*) AS n_inlinks,
        |       count(DISTINCT asset_idx || '/' || j) AS n_linking_pages,
        |       CAST(count(DISTINCT pth) AS BIGINT) AS n_target_paths
        |FROM links GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  private[sources] val CrawlTree = Fixture("crawl2", "c", "warc.gz",
    scales = true)

  /** Build (atomically, once per scale factor) the crawl-corpus `.warc.gz`
    * tree — the capstone fixture: 24 hosts, each with 3 + i%2 HTTP-framed
    * HTML responses PLANTED to exercise every curation stage:
    *   j=1  boilerplate ("menu login signup", 3 tokens) — the token
    *        gate kills it;
    *   j=2  an exact duplicate shared verbatim by the 6 hosts of group
    *        i%4 — exact dedup keeps the lowest doc id;
    *   j=3  a near duplicate: 10 group-i%3 words inside a stopword
    *        frame, unique only in the trailing "x<i>" token — MinHash
    *        est-Jaccard flags the cross-host pairs;
    *   j=4  (odd hosts) a long but stopword-free listicle — the
    *        stopword-ratio gate kills it.
    * Round-12 adversarial records: every file also carries a 404 whose
    * body would PASS every curation gate and a 301 redirect stub (the
    * status gate must drop both), and even hosts' near-dup page is
    * stored under chunked wire framing (the de-chunker must run or its
    * MinHash pair never forms). Every document's STRIPPED TEXT is a
    * closed-form string of (i, j), so the oracle reconstructs the
    * exact corpus and replays every stage including the md5
    * fingerprints and the full MinHash math.
    */
  private[sources] def ensureCrawlTree(sfDir: String): String =
    CrawlTree.tree(sfDir) {
      import graft.multimodal.{GzipCodec, WarcCodec}
      val iso = java.nio.charset.StandardCharsets.ISO_8859_1
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      (0 until 24 * mediaScale).iterator.map { i =>
        val members = (0 to 3 + i % 2).map { j =>
          val (tpe, uri, payload) =
            if (j == 0)
              ("warcinfo", None, s"software: graft $i".getBytes(utf8))
            else {
              val text = j match {
                case 1 => "menu login signup"
                case 2 => s"the quick brown fox jumps over the lazy dog g${i % 4}"
                case 3 =>
                  val ws = (0 until 10).map(k => s"w${(i % 3) * 10 + k}")
                    .mkString(" ")
                  s"the crawl of host and the corpus of data $ws x$i"
                case _ => s"alpha beta gamma delta epsilon zeta eta theta q$i"
              }
              val html = "<html><head><style scoped>p { x: y; }</style>" +
                s"</head><body><p>$text</p>" +
                """<script>var x = "<p>";</script><!-- c --></body></html>"""
              // the near-dup page of even hosts is captured under
              // chunked wire framing: its MinHash pair must still form
              val chunked = j == 3 && i % 2 == 0
              val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
                "charset=utf-8" +
                (if (chunked) "\r\nTransfer-Encoding: chunked" else "") +
                "\r\n\r\n"
              val body = html.getBytes(utf8)
              ("response", Some(s"http://h$i.example/p$j"),
                http.getBytes(iso) ++
                  (if (chunked) chunkFrame(body) else body))
            }
          GzipCodec.buildMember(WarcCodec.buildRecord(
            tpe, s"<urn:uuid:c$i-$j>", "2026-01-01T00:00:00Z", uri, payload))
        }
        // a 404 whose body WOULD pass every curation gate (≥5 tokens,
        // high stopword ratio, unique) and a 301 stub — a status-blind
        // funnel inflates n_responses and every downstream count
        val notFound = GzipCodec.buildMember(WarcCodec.buildRecord(
          "response", s"<urn:uuid:c$i-e4>", "2026-01-01T00:00:00Z",
          Some(s"http://h$i.example/gone"),
          ("HTTP/1.1 404 Not Found\r\nContent-Type: text/html; " +
            "charset=utf-8\r\n\r\n<html><body><p>the page of the " +
            s"site and the error of host e$i</p></body></html>")
            .getBytes(iso)))
        val redirect = GzipCodec.buildMember(WarcCodec.buildRecord(
          "response", s"<urn:uuid:c$i-e3>", "2026-01-01T00:00:00Z",
          Some(s"http://h$i.example/moved"),
          ("HTTP/1.1 301 Moved Permanently\r\nLocation: " +
            s"http://h$i.example/p1\r\nContent-Type: text/html\r\n\r\n" +
            "<html><body><p>the document has moved to a new home " +
            "for the data</p></body></html>").getBytes(iso)))
        (s"${i % 2}/${CrawlTree.file(i)}",
          (members :+ notFound :+ redirect).reduce(_ ++ _))
      }
    }

  /** The crawl→corpus capstone (rounds 11–12): the END-TO-END path a
    * web-scale pretraining ingest runs, composed entirely from this
    * engine's own operators and replayed stage-for-stage by the oracle —
    *
    *   `.warc.gz` (streamed member walk, one record in memory) → WARC
    *   grammar → [[graft.text.HtmlOps.httpParse]] (status code,
    *   chunked de-framing) → 200-only gate → charset sniff →
    *   [[graft.text.HtmlOps.stripHtml]] →
    *   quality gate ([[graft.text.TextPipeline.qualityFilter]]: ≥5
    *   tokens AND stopword ratio ≥ 0.05) →
    *   [[graft.text.TextPipeline.exactDedup]] (md5 keep-min) →
    *   [[graft.text.TextPipeline.nearDedup]] (MinHash est-J ≥ 0.7)
    *
    * with a per-stage survivor-count schema, so the hash match certifies
    * the whole funnel: a leak at ANY stage (an ingested 404 body,
    * script text surviving, a chunk-size line in the text, a gate off
    * by one doc, a wrong fingerprint, one missed near-dup pair) shifts
    * a count. Scale shape: decode and gate run scan-side
    * per file; only (doc_id, host, text) rows enter the dedup shuffles,
    * and the near-dup join is banded — the same funnel at 100 TB is the
    * documented Common Crawl→corpus architecture (CCNet/RefinedWeb).
    */
  object CrawlCorpus extends GraftQuery {
    val name = "q_crawl_corpus"
    private val MinTokens = 5
    private val MinStopRatio = 0.05
    private val MinEstJaccard = 0.7
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      import graft.text.{HtmlOps, TextOps, TextPipeline}
      val root = ensureCrawlTree(sfDir)
      val idRe = CrawlTree.idPattern.r
      val pages = CrawlTree.scan(spark, root)
        .select(col("path"))
        .as[String]
        .flatMap { path =>
          idRe.findFirstMatchIn(path).toSeq.flatMap { m =>
            warcRows(path) { (j, r) =>
              if (r.warcType != "response") Seq.empty
              else HtmlOps.httpParse(r.payload).toSeq
                .filter(_.status == 200) // error/redirect bodies are
                .map { msg =>            // not corpus documents
                  (100L * m.group(1).toLong + j,
                    s"h${m.group(1).toLong}.example",
                    new String(msg.body,
                      HtmlOps.sniffCharset(msg.headers, msg.body)))
                }
            }
          }
        }
        .toDF("doc_id", "host", "html")
      val docs = pages
        .select(col("doc_id"), col("host"),
          HtmlOps.stripHtml(col("html")).as("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val gated = TextPipeline.qualityFilter(docs, MinTokens, MinStopRatio)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exact = TextPipeline.exactDedup(gated)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val fin = TextPipeline.nearDedup(exact, MinEstJaccard)
      val nRaw = docs.agg(count(lit(1)).as("n_responses"))
      val nGated = gated.agg(count(lit(1)).as("n_gated"))
      val nExact = exact.agg(count(lit(1)).as("n_exact"))
      val finAgg = fin.agg(count(lit(1)).as("n_final"),
        countDistinct(col("host")).as("n_hosts"),
        sum(size(TextOps.tokens(col("text")))).as("total_tokens"),
        min(col("doc_id")).as("min_doc"))
      nRaw.crossJoin(broadcast(nGated)).crossJoin(broadcast(nExact))
        .crossJoin(broadcast(finAgg))
    }
    private val minMatches =
      (0 to graft.dedup.Dedup.NumHashes)
        .find(m => m.toDouble / graft.dedup.Dedup.NumHashes >= MinEstJaccard)
        .get
    val oracle = Some(
      s"""WITH hosts AS (SELECT i.i AS i FROM unnest(range(0, 24)) i(i)),
         |gw AS (
         |  SELECT g.g AS g,
         |         string_agg('w' || (g.g * 10 + k.k), ' ' ORDER BY k.k) AS ws
         |  FROM unnest(range(0, 3)) g(g), LATERAL unnest(range(0, 10)) k(k)
         |  GROUP BY 1),
         |raw AS (
         |  SELECT 100 * i + 1 AS doc_id, 'h' || i || '.example' AS host,
         |         'menu login signup' AS text FROM hosts
         |  UNION ALL
         |  SELECT 100 * i + 2, 'h' || i || '.example',
         |         'the quick brown fox jumps over the lazy dog g' || (i % 4)
         |  FROM hosts
         |  UNION ALL
         |  SELECT 100 * i + 3, 'h' || i || '.example',
         |         'the crawl of host and the corpus of data ' || gw.ws
         |           || ' x' || i
         |  FROM hosts JOIN gw ON gw.g = i % 3
         |  UNION ALL
         |  SELECT 100 * i + 4, 'h' || i || '.example',
         |         'alpha beta gamma delta epsilon zeta eta theta q' || i
         |  FROM hosts WHERE i % 2 = 1),
         |gated AS (
         |  SELECT * FROM raw
         |  WHERE len(string_split_regex(trim(text), '\\s+')) >= $MinTokens
         |    AND CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |          x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
         |        / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
         |        >= $MinStopRatio),
         |keep AS (
         |  SELECT min(doc_id) AS doc_id
         |  FROM (SELECT doc_id, md5(lower(trim(text))) AS fp FROM gated)
         |  GROUP BY fp),
         |d AS (SELECT g.* FROM gated g JOIN keep USING (doc_id)),
         |${graft.dedup.Dedup.minhashOracleCtes("d")},
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM bk a JOIN bk b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |est AS (
         |  SELECT c.da, c.db, count(*) FILTER (WHERE sa.s = sb.s) AS m
         |  FROM cand c JOIN sig sa ON sa.doc_id = c.da
         |              JOIN sig sb ON sb.doc_id = c.db AND sb.i = sa.i
         |  GROUP BY 1, 2),
         |dropd AS (SELECT DISTINCT db AS doc_id FROM est WHERE m >= $minMatches),
         |final AS (
         |  SELECT * FROM d
         |  WHERE NOT EXISTS (SELECT 1 FROM dropd WHERE dropd.doc_id = d.doc_id))
         |SELECT CAST((SELECT count(*) FROM raw) AS BIGINT) AS n_responses,
         |       CAST((SELECT count(*) FROM gated) AS BIGINT) AS n_gated,
         |       CAST((SELECT count(*) FROM d) AS BIGINT) AS n_exact,
         |       CAST(count(*) AS BIGINT) AS n_final,
         |       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
         |       CAST(sum(len(string_split_regex(trim(text), '\\s+')))
         |            AS BIGINT) AS total_tokens,
         |       CAST(min(doc_id) AS BIGINT) AS min_doc
         |FROM final""".stripMargin)
  }

  /** Crawl graph → PageRank, composed (round 11): the link edges
    * [[HtmlLinkGraph]] extracts are exactly the shape the
    * [[graft.operators.GraphOps.PageRank.pagerankRanks]] iterative-join
    * operator consumes — this query wires them together, ranking every
    * crawled page and link target by the planted web graph's structure
    * (the in-link weighting step of a crawl frontier / page-quality
    * prior). Page bytes never shuffle: the WARC decode and anchor regex
    * run scan-side, DISTINCT (page, href) edges enter the rank loop,
    * and each of the 5 rounds is one edge-keyed join + aggregate in
    * fixed-point BIGINT arithmetic — bit-identical on any engine, so
    * the oracle unrolls the same recurrence closed-form over the
    * planted-graph formulas (q_pagerank's integer stance, new graph).
    */
  object CrawlPageRank extends GraftQuery {
    val name = "q_crawl_pagerank"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      val pages = linkPages(spark, ensureWarcLinkTree(sfDir))
      val edges = pages
        .select(col("page").as("w1"), explode(expr(
          """regexp_extract_all(html, '<a href="([^"]+)"', 1)""")).as("w2"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nodes = edges.select(col("w1").as("t"))
        .union(edges.select(col("w2").as("t")))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.operators.GraphOps.PageRank.pagerankRanks(edges, nodes)
        .select(col("t").as("url"), col("rank").as("rank_units"),
          (col("rank").cast("double") / lit(1.0e12)).as("pagerank"))
        .orderBy(col("rank_units").desc, col("url").asc)
    }
    val oracle = {
      val Scale = graft.operators.GraphOps.PageRank.Scale
      val rounds = (1 to graft.operators.GraphOps.PageRank.Iters).map { k =>
        s"""r$k AS (
           |  SELECT nodes.t,
           |         (${15L * Scale} // (100 * n)) + coalesce(f.inflow, 0) AS rank
           |  FROM nodes CROSS JOIN n
           |  LEFT JOIN (
           |    SELECT e.w2 AS t,
           |           CAST(sum((85 * r.rank) // (100 * d.deg)) AS BIGINT) AS inflow
           |    FROM r${k - 1} r
           |    JOIN edges e ON r.t = e.w1
           |    JOIN deg d ON e.w1 = d.w1
           |    GROUP BY 1) f ON nodes.t = f.t)""".stripMargin
      }.mkString(",\n")
      Some(
        s"""WITH specs AS (
           |  SELECT i.i AS i, 2 + i.i % 3 AS np
           |  FROM unnest(range(0, 24)) i(i)),
           |pages AS (
           |  SELECT s.i, j.j AS j,
           |         'http://src.example/d' || s.i || '/' || j.j AS page
           |  FROM specs s, LATERAL unnest(range(1, s.np + 1)) j(j)),
           |edges AS (
           |  SELECT DISTINCT p.page AS w1,
           |         'http://s' || ((p.i + l.l) % 8) || '.example/p'
           |           || ((p.j + l.l) % 5) AS w2
           |  FROM pages p,
           |       LATERAL unnest(range(0, 1 + (p.i + p.j) % 3)) l(l)),
           |deg AS (SELECT w1, count(*) AS deg FROM edges GROUP BY 1),
           |nodes AS (
           |  SELECT DISTINCT u AS t
           |  FROM (SELECT w1 AS u FROM edges UNION SELECT w2 FROM edges)),
           |n AS (SELECT count(*) AS n FROM nodes),
           |r0 AS (SELECT t, $Scale // n AS rank FROM nodes CROSS JOIN n),
           |$rounds
           |SELECT t AS url, rank AS rank_units,
           |       CAST(rank AS DOUBLE) / 1e12 AS pagerank
           |FROM r${graft.operators.GraphOps.PageRank.Iters}
           |ORDER BY rank_units DESC, url ASC""".stripMargin)
    }
  }

  private[sources] val RobotsTree = Fixture("robots4", "r", "warc.gz",
    scales = true)

  /** Build (atomically, once per scale factor) the robots-frontier `.warc.gz`
    * tree: the planted web-graph page/anchor formulas (now with DEEP targets:
    * anchor l points at `/p<(j+l)%5>` when l is even and at
    * `/p<(j+l)%5>/x<(i+j)%3>` when l is odd — wildcard rules need path
    * structure to discriminate) PLUS, for i < 8, one WARC `resource`
    * record carrying host s<i>.example's robots.txt. Rules are a pure
    * function of the host index h and exercise every RFC 9309
    * selection/precedence branch INCLUDING the §2.2.3 wildcard grammar
    * and §2.2.2 percent normalization:
    *  - a decoy `spiderx` full-disallow group everywhere;
    *  - odd h: a specific `graftbot` group — `Disallow: /p`,
    *    `Allow: /%70<h%5>$` (percent-encoded `p`, end-anchored: exactly
    *    one shallow page re-allowed), `Allow: /p*&#47;x1` (wildcard
    *    re-allow of the x1 subtree);
    *  - h%4=0: `*` group `Disallow: &#47;*x2$` (anchored wildcard —
    *    blocks every deep x2 page, no shallow page);
    *  - h%4=2: `*` group `Disallow: /p<(h+1)%5>` +
    *    `Allow: /p<(h+1)%5>/x*` (trailing-star re-allow beats the
    *    shorter prefix disallow on the whole subtree).
    * Pages are stored as raw HTTP messages; every file carries a 404
    * page whose anchors a status-blind reader would count.
    *
    * Round 13 — robots CARRIAGE is now the real-crawl mix (tag robots2
    * → robots3): h0 keeps the legacy `resource` record; h5 is an HTTP
    * `response` record (200, identity); h2 a 200 under CHUNKED wire
    * framing; h3/h7 200 with `Content-Encoding: gzip`; h4 a 404
    * (RFC 9309 §2.3.1.3 "unavailable" — crawler MAY proceed
    * unrestricted, so h4's `*` rules are GONE and everything is
    * allowed); h6 a 500 (§2.3.1.4 "unreachable" — MUST assume complete
    * disallow, so h6's rules are replaced by a synthesized
    * disallow-all). A reader that only parses `resource` records sees
    * an empty rule table for 7 of 8 hosts and every count shifts.
    *
    * Round 13 third wave (robots3 → robots4) — robots REDIRECTS per
    * RFC 9309 §2.3.1.2 ("follow at least five consecutive redirects"):
    * h1's well-known robots is now a 301 whose `Location` is spelled
    * `HTTPS://WWW.s1.example/rt/robots.txt` (scheme/www noise + a
    * NON-well-known target path — the canonicalizer and RFC 3986
    * resolution must both run or the chain key misses) with the rules
    * body captured 200 at the resolved target, so h1's rules are
    * UNCHANGED for a following reader and GONE (allow-all) for a
    * non-following one; h5's well-known robots 302-loops through
    * `/r/robots.txt` back to itself — five consecutive redirects never
    * reach a body, so per §2.3.1.2 h5 is "unavailable" → allow-all
    * (its old rules are gone and every h5 count shifts).
    */
  private[sources] def ensureRobotsTree(sfDir: String): String =
    RobotsTree.tree(sfDir) {
      import graft.multimodal.{GzipCodec, WarcCodec}
      val iso = java.nio.charset.StandardCharsets.ISO_8859_1
      (0 until 24 * mediaScale).iterator.map { i =>
        val pageMembers = (0 until 1 + (2 + i % 3)).map { j =>
          val (tpe, uri, payload) =
            if (j == 0)
              ("warcinfo", None, s"software: graft $i".getBytes(
                java.nio.charset.StandardCharsets.UTF_8))
            else {
              val anchors = (0 until 1 + (i + j) % 3).map { l =>
                val base = s"/p${(j + l) % 5}"
                val path = if (l % 2 == 0) base else s"$base/x${(i + j) % 3}"
                s"""<a href="http://s${(i + l) % 8}.example$path">x</a>"""
              }.mkString
              val html = s"<html><body><h1>d$i/$j</h1>$anchors</body></html>"
              ("response", Some(s"http://src.example/d$i/$j"),
                "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                  .getBytes(iso) ++
                  html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
          GzipCodec.buildMember(WarcCodec.buildRecord(
            tpe, s"<urn:uuid:r$i-$j>", "2026-01-01T00:00:00Z", uri, payload))
        }
        val notFound = GzipCodec.buildMember(WarcCodec.buildRecord(
          "response", s"<urn:uuid:r$i-e4>", "2026-01-01T00:00:00Z",
          Some(s"http://src.example/d$i/missing"),
          ("HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\n" +
            """<html><body><a href="http://s0.example/p0">x</a>""" +
            """</body></html>""").getBytes(iso)))
        val robotsMember =
          if (i < 8) {
            val h = i
            val utf8 = java.nio.charset.StandardCharsets.UTF_8
            val specific =
              if (h % 2 == 1)
                s"User-agent: graftbot\nDisallow: /p\n" +
                  s"Allow: /%70${h % 5}$$\nAllow: /p*/x1\n\n"
              else ""
            val star =
              if (h % 4 == 0) "User-agent: *\nDisallow: /*x2$\n"
              else s"User-agent: *\nDisallow: /p${(h + 1) % 5}\n" +
                s"Allow: /p${(h + 1) % 5}/x*\n"
            val txt = s"# host s$h fixture\nUser-agent: spiderx\n" +
              s"Disallow: /\n\n$specific$star"
            def http(status: String, body: Array[Byte],
                chunked: Boolean = false, gzip: Boolean = false,
                extra: String = "") = {
              val coded = if (gzip) GzipCodec.buildMember(body) else body
              val framed = if (chunked) chunkFrame(coded) else coded
              (s"HTTP/1.1 $status\r\nContent-Type: text/plain$extra" +
                (if (gzip) "\r\nContent-Encoding: gzip" else "") +
                (if (chunked) "\r\nTransfer-Encoding: chunked" else "") +
                "\r\n\r\n").getBytes(iso) ++ framed
            }
            def robRec(tpe: String, sid: String, uri: String,
                payload: Array[Byte]) =
              GzipCodec.buildMember(WarcCodec.buildRecord(
                tpe, s"<urn:uuid:$sid>", "2026-01-01T00:00:00Z",
                Some(uri), payload))
            val bytes = txt.getBytes(utf8)
            val robotsUri = s"http://s$h.example/robots.txt"
            h match {
              case 0 => Seq(robRec("resource", s"rob$i", robotsUri, bytes))
              case 1 => Seq( // §2.3.1.2: redirect followed to the rules
                robRec("response", s"rob$i", robotsUri,
                  http("301 Moved Permanently", "moved".getBytes(utf8),
                    extra =
                      "\r\nLocation: HTTPS://WWW.s1.example/rt/robots.txt")),
                robRec("response", s"robt$i",
                  "https://s1.example/rt/robots.txt",
                  http("200 OK", bytes)))
              case 2 => Seq(robRec("response", s"rob$i", robotsUri,
                http("200 OK", bytes, chunked = true)))
              case 3 | 7 => Seq(robRec("response", s"rob$i", robotsUri,
                http("200 OK", bytes, gzip = true)))
              case 4 => Seq(robRec("response", s"rob$i", robotsUri,
                http("404 Not Found", "gone".getBytes(utf8))))
              case 5 => Seq( // §2.3.1.2: a 2-cycle never reaches a body
                robRec("response", s"rob$i", robotsUri,
                  http("302 Found", "moved".getBytes(utf8),
                    extra = "\r\nLocation: /r/robots.txt")),
                robRec("response", s"robl$i",
                  s"http://s$h.example/r/robots.txt",
                  http("302 Found", "loop".getBytes(utf8),
                    extra = "\r\nLocation: /robots.txt")))
              case 6 => Seq(robRec("response", s"rob$i", robotsUri,
                http("500 Internal Server Error", "err".getBytes(utf8))))
            }
          } else Seq.empty
        (s"${i % 2}/${RobotsTree.file(i)}",
          (pageMembers ++ Seq(notFound) ++ robotsMember).reduce(_ ++ _))
      }
    }

  /** Crawl-frontier robots filtering (RFC 9309), composed: the link
    * edges the crawl extracts (200-gated, streamed WARC walk), gated by
    * each target host's PARSED robots.txt under the real
    * group-selection + §2.2.3 wildcard + most-octets-precedence
    * semantics ([[graft.text.RobotsOps]], matched plan-side by the
    * native [[graft.plans.RobotsMatchExpression]]) — the mandatory step
    * between link extraction and the fetch frontier. Round 13: robots
    * parse is carriage-independent ([[fetchedBody]] — `resource` OR
    * HTTP `response` records, chunked/gzip wire layers removed) and
    * carries the §2.3.1 availability semantics: a 3xx robots fetch is
    * FOLLOWED through up to five consecutive redirects (§2.3.1.2 —
    * `Location` resolved per RFC 3986 §5.2, targets canonicalized,
    * four bounded uri equi self-joins; the final body's rules apply to
    * the ORIGIN host, a still-redirecting or dangling chain →
    * unavailable, a 5xx final → disallow-all), a 4xx fetch →
    * unrestricted (no rules), a 5xx/unparseable fetch → synthesized
    * complete disallow (fail closed, not open). Scale shape: the
    * allow/deny DECISION is computed once per distinct (host, path) via
    * the host-keyed rule join's struct-argmax (most pattern octets,
    * allow on ties); no broadcast hint — AQE broadcasts the tiny
    * fixture rule table but the same plan degrades to a shuffled hash
    * join when the global rule table grows with host count. Link
    * volume never meets the rule join. The oracle replays the planted
    * graph AND the full rule semantics closed-form per (h, path), so a
    * wrong group pick, a missed merge, a wildcard/anchor bug, or a
    * precedence bug cannot reproduce the counts.
    */
  object RobotsFrontier extends GraftQuery {
    val name = "q_robots_frontier"
    private val Agent = "graftbot"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      val root = ensureRobotsTree(sfDir)
      // one decoded pass over the tree: link rows (kind 0) + parsed
      // rule rows (kind 1), persisted — two consumers below
      val recs = RobotsTree.scan(spark, root)
        .select(col("path"))
        .as[String]
        .flatMap { path =>
          warcRows(path) { (_, r) =>
            val out = Seq.newBuilder[(Int, String, String, Boolean)]
            r.targetUri.foreach { uri =>
              val isFetch =
                r.warcType == "resource" || r.warcType == "response"
              val robotsPathed = uri.takeWhile(c => c != '?' && c != '#')
                .endsWith("/robots.txt")
              if (robotsPathed && isFetch) {
                // carriage-independent parse + RFC 9309 §2.3.1
                // availability semantics: 2xx → parse the rules; 3xx →
                // a redirect ORIGIN/EDGE to follow (§2.3.1.2, resolved
                // per RFC 3986 §5.2 and canonicalized); 4xx →
                // "unavailable", crawler MAY proceed (no rules); 5xx or
                // an unparseable response → "unreachable", MUST assume
                // complete disallow (fail CLOSED, not open). Rows:
                // kind 1 = a rule for the host's own WELL-KNOWN robots
                // (§2.3: path exactly /robots.txt); kind 7 = a
                // well-known redirect origin (host → target key);
                // kind 8 = a redirect edge in the robots-pathed catalog
                // (uri key → target key); kind 9 = parsed rules of ANY
                // robots-pathed 2xx body, keyed by uri — the candidate
                // redirect targets; kind 12 = a 5xx robots-pathed uri
                val at = uri.indexOf("://")
                val host = (if (at < 0) uri else uri.substring(at + 3))
                  .takeWhile(_ != '/')
                val key = graft.text.UrlOps.frontierCanonicalStr(uri)
                val wellKnown = graft.text.RobotsOps.isWellKnownUri(uri)
                fetchedBody(r) match {
                  case Some((status, body)) if status / 100 == 2 =>
                    val txt = new String(body,
                      java.nio.charset.StandardCharsets.UTF_8)
                    graft.text.RobotsOps.rules(txt, Agent).foreach { rule =>
                      if (wellKnown) out += ((1, host, rule.path, rule.allow))
                      out += ((9, key, rule.path, rule.allow))
                    }
                  case Some((status, _)) if status / 100 == 3 =>
                    graft.text.HtmlOps.httpParse(r.payload)
                      .flatMap(m => graft.text.HtmlOps.location(m.headers))
                      .foreach { loc =>
                        val t = graft.text.UrlOps.frontierCanonicalStr(
                          graft.text.UrlOps.resolve(uri, loc))
                        if (wellKnown) out += ((7, host, t, false))
                        out += ((8, key, t, false))
                      } // 3xx without Location: unavailable, no rows
                  case Some((status, _)) if status / 100 == 4 =>
                    () // unavailable: unrestricted (§2.3.1.3)
                  case _ =>
                    // unreachable (§2.3.1.4), directly or as a target
                    if (wellKnown) out += ((1, host, "/", false))
                    out += ((12, key, "", false))
                }
              } else if (r.warcType == "response") {
                graft.text.HtmlOps.httpParse(r.payload)
                  .filter(_.status == 200).foreach { msg =>
                    val html = new String(msg.body,
                      java.nio.charset.StandardCharsets.UTF_8)
                    val a = """<a href="http://([^/"]+)(/[^"]*)"""".r
                    a.findAllMatchIn(html).foreach { m =>
                      out += ((0, m.group(1), m.group(2), false))
                    }
                  }
              }
            }
            out.result()
          }
        }
        .toDF("kind", "host", "path", "allow")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val links = recs.filter(col("kind") === 0)
        .groupBy("host", "path").agg(count(lit(1)).as("n"))
      val direct = recs.filter(col("kind") === 1)
        .select(col("host"), col("path").as("rpath"), col("allow"))
      // RFC 9309 §2.3.1.2 — follow well-known robots redirects via the
      // shared [[RobotsResolve.chains]] resolution: a final uri that
      // still redirects (a sixth hop pending) is "unavailable" → no
      // rules; a final 5xx is "unreachable" → synthesized disallow-all;
      // a final 2xx robots-pathed body contributes its rules to the
      // ORIGIN host.
      val finals = RobotsResolve.chains(recs)
      val bodies = recs.filter(col("kind") === 9)
        .select(col("host").as("b_uri"), col("path").as("rpath"),
          col("allow"))
      val viaRedirect = finals
        .filter(col("more").isNull && col("dead").isNull)
        .join(bodies, col("cur") === col("b_uri"))
        .select(col("host"), col("rpath"), col("allow"))
      val deadAll = finals.filter(col("dead").isNotNull)
        .select(col("host"), lit("/").as("rpath"),
          lit(false).as("allow"))
      // persisted: the decision join AND ruleCounts both consume it —
      // unpersisted, the redirect-resolution joins would execute twice
      val rules = direct.unionByName(viaRedirect).unionByName(deadAll)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // decision per distinct (host, path): RFC 9309 §2.2.2/§2.2.3 —
      // the full wildcard grammar as the join residual (native
      // expression), most-pattern-octets wins, allow wins ties, no
      // match → allowed. No broadcast hint: rules are per-host tiny
      // but the GLOBAL rule table grows with host count, so the join
      // keeps its host equi-key and AQE picks the strategy (broadcast
      // at fixture scale, shuffled hash at 10⁷ hosts).
      // both sides descend from `recs`: aliased, so the host key is
      // not one attribute compared with itself
      val decided = links.as("lk")
        .join(rules.as("r"),
          col("lk.host") === col("r.host") &&
            graft.plans.RobotsMatchExpression.robotsMatch(
              col("rpath"), col("lk.path")), "left")
        .groupBy(col("lk.host"), col("lk.path"), col("n"))
        .agg(max(struct(length(col("rpath")).as("l"),
          col("allow").cast("int").as("a"))).as("best"))
        .select(col("host"), col("n"),
          coalesce(col("best.a") === 1, lit(true)).as("ok"))
      val ruleCounts = rules.groupBy("host")
        .agg(count(lit(1)).as("n_rules"))
      decided.groupBy("host")
        .agg(sum(col("n")).as("n_links"),
          sum(when(col("ok"), col("n")).otherwise(0L)).as("n_allowed"),
          sum(when(col("ok"), 0L).otherwise(col("n"))).as("n_blocked"))
        .join(ruleCounts, Seq("host"), "left") // O(hosts) rows: unhinted
        .select(col("host"), coalesce(col("n_rules"), lit(0L)).as("n_rules"),
          col("n_links"), col("n_allowed"), col("n_blocked"))
        .orderBy("host")
    }
    val oracle = Some(
      """WITH specs AS (
        |  SELECT i.i AS i, 2 + i.i % 3 AS np
        |  FROM unnest(range(0, 24)) i(i)),
        |links AS (
        |  SELECT (s.i + l.l) % 8 AS h, (j.j + l.l) % 5 AS p,
        |         l.l % 2 AS deep, (s.i + j.j) % 3 AS q
        |  FROM specs s,
        |       LATERAL unnest(range(1, s.np + 1)) j(j),
        |       LATERAL unnest(range(0, 1 + (s.i + j.j) % 3)) l(l)),
        |-- graftbot's merged rules per host, replayed CLOSED-FORM from
        |-- the planted generator under the full RFC 9309 grammar:
        |-- h=4    -> robots fetch is a 404 response (§2.3.1.3
        |--            unavailable): NO rules, everything allowed;
        |-- h=5    -> robots fetch 302-loops through /r/robots.txt
        |--            (§2.3.1.2: five consecutive redirects never
        |--            reach a body -> unavailable): NO rules;
        |-- h=6    -> robots fetch is a 500 response (§2.3.1.4
        |--            unreachable): synthesized disallow-all, nothing
        |--            allowed;
        |-- h=1    -> robots fetch 301s to a captured 200 body
        |--            (§2.3.1.2 followed): the odd-h rules apply;
        |-- odd h  -> {Disallow /p, Allow /p<h%5>$ (via %70), Allow
        |--            /p*/x1}: shallow ok iff p = h%5 (the $ anchor
        |--            never matches deep), deep ok iff q = 1;
        |-- h%4=0  -> {Disallow /*x2$}: shallow ok, deep ok iff q <> 2;
        |-- h%4=2  -> {Disallow /p<(h+1)%5>, Allow /p<(h+1)%5>/x*}:
        |--            shallow ok iff p <> (h+1)%5, deep always ok (the
        |--            longer trailing-star allow re-opens the subtree)
        |dec AS (
        |  SELECT h, p, deep, q, count(*) AS n,
        |         CASE WHEN h = 4 THEN TRUE
        |              WHEN h = 5 THEN TRUE
        |              WHEN h = 6 THEN FALSE
        |              WHEN deep = 0 THEN
        |              CASE WHEN h % 2 = 1 THEN (p = h % 5)
        |                   WHEN h % 4 = 0 THEN TRUE
        |                   ELSE (p <> (h + 1) % 5) END
        |         ELSE CASE WHEN h % 2 = 1 THEN (q = 1)
        |                   WHEN h % 4 = 0 THEN (q <> 2)
        |                   ELSE TRUE END END AS ok,
        |         CASE WHEN h = 4 THEN 0
        |              WHEN h = 5 THEN 0
        |              WHEN h = 6 THEN 1
        |              WHEN h % 2 = 1 THEN 3
        |              WHEN h % 4 = 0 THEN 1
        |              ELSE 2 END AS n_rules
        |  FROM links GROUP BY 1, 2, 3, 4)
        |SELECT 's' || h || '.example' AS host,
        |       CAST(max(n_rules) AS BIGINT) AS n_rules,
        |       CAST(sum(n) AS BIGINT) AS n_links,
        |       CAST(sum(CASE WHEN ok THEN n ELSE 0 END) AS BIGINT)
        |         AS n_allowed,
        |       CAST(sum(CASE WHEN ok THEN 0 ELSE n END) AS BIGINT)
        |         AS n_blocked
        |FROM dec GROUP BY h ORDER BY host""".stripMargin)
  }

  private[sources] val MainContentTree = Fixture("mainc2", "m", "html",
    scales = true)

  /** Build (atomically, once per scale factor) the main-content HTML tree:
    * plain `.html` files (the post-WARC landing shape), page i carrying a nav
    * block (pure links), 5 + i%7 content paragraphs of 8 deterministic
    * words — every other word a stopword, the density real prose has
    * and boilerplate lacks (even paragraphs embed one 1-token inline
    * link), a script block whose STRING contains a fake high-quality
    * `<p>` (the block segmenter must drop invisible content first or
    * its counts shift), a LINK-FREE cookie-consent banner (zero
    * stopwords — the block the anchor-density test alone cannot catch),
    * and a footer mixing two links with two plain tokens.
    */
  private[sources] def ensureMainContentTree(sfDir: String): String =
    MainContentTree.tree(sfDir) {
      val stop = graft.text.TextOps.stopwords
      (0 until 24 * mediaScale).iterator.map { i =>
        val nw = 5 + i % 7
        val paras = (0 until nw).map { k =>
          val words = (0 until 8).map { m =>
            if (m % 2 == 0) stop((i + k + m) % 6)
            else s"w${(3 * i + k + m) % 20}"
          }.mkString(" ")
          val link = if (k % 2 == 0) """ <a href="/u">lk</a>""" else ""
          s"<p>$words$link</p>"
        }.mkString
        val html = "<html><head><title>t</title><style>p{c:d}</style>" +
          "</head><body>" +
          """<nav><a href="/h">m0</a><a href="/a">m1</a></nav>""" +
          paras +
          """<p class="cookie">accept cookies continue settings</p>""" +
          """<script>var x = "<p>trap trap trap trap trap</p>";</script>""" +
          """<footer><a href="/ab">about</a> <a href="/c">contact</a>""" +
          " copy site</footer></body></html>"
        (s"${i % 2}/${MainContentTree.file(i)}",
          html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }

  /** Main-content extraction (rounds 11–12) — the boilerplate-BLOCK
    * removal step between markup stripping and the curation gates (the
    * Boilerpipe/jusText family, done with the TWO deterministic axes
    * those systems build on): drop invisible content
    * ([[graft.text.HtmlOps.dropInvisible]] — a `<p>` inside a script
    * string must never become a block), segment into block elements
    * (`p`/`nav`/`footer`), and classify each block as content iff
    *   anchor tokens ≤ ¼ of the block's tokens (link density — catches
    *   navigation chrome), AND the block carries ≥ 3 tokens, AND
    *   stopword density ≥ 1/5 (jusText's second axis — catches the
    *   link-FREE boilerplate the anchor test misses: cookie banners,
    *   legal footers; real prose is a quarter function words, keyword
    *   lists are not).
    * Everything is a codegen column chain over the scan (regexp block
    * extraction, per-block anchor-token fold, stripHtml token count,
    * stopword filter in exact integer arithmetic); only per-page
    * aggregate rows shuffle. The oracle replays the fixture's
    * construction arithmetic, so a segmentation leak, a trap block
    * surviving, a mis-classified footer, or a surviving cookie banner
    * shifts a count.
    */
  object MainContent extends GraftQuery {
    val name = "q_main_content"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      val pages = MainContentTree.assets(spark, ensureMainContentTree(sfDir))
        .map { case (idx, content) =>
          (idx, new String(content, java.nio.charset.StandardCharsets.UTF_8))
        }
        .toDF("asset_idx", "html")
      val segmented = pages
        .select(col("asset_idx"),
          graft.text.HtmlOps.dropInvisible(col("html")).as("visible"))
        .select(col("asset_idx"), explode(expr(
          """regexp_extract_all(visible, '(?is)<(p|nav|footer)\\b[^>]*>(.*?)</\\1>', 2)"""))
          .as("b"))
      val blockToks = split(graft.text.HtmlOps.stripHtml(col("b")), " ")
      val toks = size(blockToks)
      val atoks = expr(
        """aggregate(regexp_extract_all(b, '(?is)<a\\b[^>]*>(.*?)</a>', 1),
          |0, (acc, x) -> acc + size(split(trim(x), '\\s+')))""".stripMargin)
      val stoks = size(filter(blockToks,
        t => t.isin(graft.text.TextOps.stopwords.map(lit): _*)))
      segmented
        .select(col("asset_idx"), toks.as("t"), atoks.as("a"),
          stoks.as("s"))
        // content iff link density ≤ 1/4 AND ≥ 3 tokens AND stopword
        // density ≥ 1/5 — exact integer forms of both ratio tests
        .withColumn("content", lit(4) * col("a") <= col("t") &&
          col("t") >= 3 && lit(5) * col("s") >= col("t"))
        .groupBy("asset_idx")
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("content"), 1L).otherwise(0L)).as("n_content"),
          sum(when(col("content"), 0L).otherwise(1L)).as("n_boiler"),
          sum(when(col("content"), col("t")).otherwise(0L))
            .as("content_tokens"),
          sum(when(col("content"), 0L).otherwise(col("t")))
            .as("boiler_tokens"))
        .orderBy("asset_idx")
    }
    val oracle = Some(
      """WITH specs AS (
        |  SELECT i.i AS asset_idx, 5 + i.i % 7 AS nw
        |  FROM unnest(range(0, 24)) i(i))
        |-- blocks: nav (2 anchor toks) + nw paragraphs (8 toks, half
        |-- stopwords, +1 link tok on even k) + cookie banner (4 toks,
        |-- 0 stopwords, 0 links) + footer (4 toks, 2 anchor) — only
        |-- the paragraphs pass all three content tests
        |SELECT asset_idx,
        |       CAST(nw + 3 AS BIGINT) AS n_blocks,
        |       CAST(nw AS BIGINT) AS n_content,
        |       CAST(3 AS BIGINT) AS n_boiler,
        |       CAST(8 * nw + (nw + 1) // 2 AS BIGINT) AS content_tokens,
        |       CAST(10 AS BIGINT) AS boiler_tokens
        |FROM specs ORDER BY asset_idx""".stripMargin)
  }

  private[sources] val MimeTree = Fixture("mime1", "m", "warc.gz",
    scales = true)

  /** Build (atomically, once per scale factor) the MIME-routing tree: 24
    * `.warc.gz` files, file i holding 4 + i%4 response records at
    * `/m{i}/{j}` whose (declared Content-Type, actual bytes) pairs
    * exercise the sniff matrix:
    *  - j=0: `text/html` (spelled `TEXT/HTML; Charset=UTF-8` on odd i —
    *    parameter strip + case normalization) over real HTML;
    *  - j=1: `image/png` over a real PNG signature;
    *  - j=2: `image/jpeg` DECLARED over PNG bytes — the lying-header
    *    class the sniff exists for;
    *  - j=3: NO Content-Type header over GIF89a bytes;
    *  - j=4 (i%4 ≥ 1): `application/pdf` over `%PDF-1.4`;
    *  - j=5 (i%4 ≥ 2): `text/plain` DECLARED over NUL-bearing bytes
    *    (WHATWG binary-data byte → octet-stream);
    *  - j=6 (i%4 = 3): `application/octet-stream` over ZIP magic (the
    *    sniff REFINES an honest-but-vague declaration).
    */
  private[graft] def ensureMimeTree(sfDir: String): String =
    MimeTree.tree(sfDir) {
      import graft.multimodal.{GzipCodec, WarcCodec}
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val iso = java.nio.charset.StandardCharsets.ISO_8859_1
      val pngSig = Array[Int](0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
        .map(_.toByte)
      (0 until 24 * mediaScale).iterator.map { i =>
        def rec(j: Int, ct: Option[String], body: Array[Byte]) =
          GzipCodec.buildMember(WarcCodec.buildRecord(
            "response", s"<urn:uuid:mm$i-$j>", "2026-01-01T00:00:00Z",
            Some(s"http://m${i % 8}.example/m$i/$j"),
            (s"HTTP/1.1 200 OK" +
              ct.map(c => s"\r\nContent-Type: $c").getOrElse("") +
              "\r\n\r\n").getBytes(iso) ++ body))
        val info = GzipCodec.buildMember(WarcCodec.buildRecord(
          "warcinfo", s"<urn:uuid:mi$i>", "2026-01-01T00:00:00Z", None,
          s"software: graft $i".getBytes(utf8)))
        val htmlCt =
          if (i % 2 == 1) "TEXT/HTML; Charset=UTF-8" else "text/html"
        val recs = (0 until 4 + i % 4).map {
          case 0 => rec(0, Some(htmlCt),
            s"<html><body><p>d$i</p></body></html>".getBytes(utf8))
          case 1 => rec(1, Some("image/png"),
            pngSig ++ Array.tabulate(8 + i % 5)(k => (k * 7 + i).toByte))
          case 2 => rec(2, Some("image/jpeg"),
            pngSig ++ Array.tabulate(6)(k => (k + i).toByte))
          case 3 => rec(3, None,
            "GIF89a".getBytes(iso) ++ Array.tabulate(5)(k => (k ^ i).toByte))
          case 4 => rec(4, Some("application/pdf"),
            s"%PDF-1.4\n$i obj\n".getBytes(iso))
          case 5 => rec(5, Some("text/plain"),
            Array[Byte]('a', 'b', 0x00, 'c', (i % 7).toByte))
          case j => rec(j, Some("application/octet-stream"),
            Array[Byte]('P', 'K', 0x03, 0x04) ++
              Array.tabulate(4)(k => (k + i).toByte))
        }
        (s"${i % 2}/${MimeTree.file(i)}",
          (info +: recs).reduce(_ ++ _))
      }
    }

  /** MIME routing matrix (round-13 third wave) — the first decision a
    * multimodal corpus pipeline makes per fetched payload: which
    * modality lane does this record enter? Declared `Content-Type`
    * essence ([[graft.text.HtmlOps.contentType]] — parameters stripped,
    * case-normalized, absent → `(none)`) CROSS the magic-byte sniff
    * ([[graft.multimodal.MagicBytes.sniffMime]], the WHATWG-core
    * signature table) over the decoded bodies of 200 responses. The
    * off-diagonal cells are the lying-header classes the sniff exists
    * for (images declared as other image types, binaries under
    * text/plain) and the refinement class (`application/octet-stream`
    * declared, real type sniffed). Scale shape: pure scan-side parse +
    * one map-side-combined groupBy on a ≤(types²) key space — no
    * joins, no O(records) shuffle.
    */
  object MimeRoute extends GraftQuery {
    val name = "q_mime_route"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      val root = ensureMimeTree(sfDir)
      MimeTree.scan(spark, root)
        .select(col("path"))
        .as[String]
        .flatMap { file =>
          warcRows(file) { (_, r) =>
            if (r.warcType == "response")
              graft.text.HtmlOps.httpParse(r.payload)
                .filter(_.status == 200).map { msg =>
                  (graft.text.HtmlOps.contentType(msg.headers)
                    .getOrElse("(none)"),
                    graft.multimodal.MagicBytes.sniffMime(msg.body))
                }.toSeq
            else Seq.empty
          }
        }
        .toDF("declared", "sniffed")
        .groupBy("declared", "sniffed")
        .agg(count(lit(1)).as("n"))
        .orderBy("declared", "sniffed")
    }
    // 24 files; record j exists when 4 + i%4 > j, and i%4 is uniform
    // over 24 files (6 each): j<=3 -> 24, j=4 -> 18, j=5 -> 12, j=6 -> 6
    val oracle = Some(
      """SELECT * FROM (VALUES
        |  ('(none)', 'image/gif', CAST(24 AS BIGINT)),
        |  ('application/octet-stream', 'application/zip', 6),
        |  ('application/pdf', 'application/pdf', 18),
        |  ('image/jpeg', 'image/png', 24),
        |  ('image/png', 'image/png', 24),
        |  ('text/html', 'text/html', 24),
        |  ('text/plain', 'application/octet-stream', 12))
        |  t(declared, sniffed, n)
        |ORDER BY declared, sniffed""".stripMargin)
  }

  val all: Seq[GraftQuery] =
    Seq(TarScan, ZipScan, WarcScan, WarcHtmlExtract, TgzScan, HtmlLinkGraph,
      CrawlCorpus, CrawlPageRank, RobotsFrontier, MainContent, MimeRoute)
}
