package graft.sources

import graft.{GraftQuery, SchemaMemo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SourceQueries.{Fixture, workDir, mediaScale, scaledTag}
import ArchiveQueries.warcRows

/** Crawl-frontier scheduling tier (rounds 11–12): the discovery side of
  * a recrawl — robots.txt declares the sitemaps, sitemap indexes fan
  * out to urlsets, urlsets carry freshness/priority, RFC 9309 rules
  * (full §2.2.3 wildcard grammar) gate what may be fetched, the
  * URL-seen sketch prefilters what was already crawled, and Crawl-delay
  * politeness lays the survivors onto a timeline. Same scale stance as
  * the rest of the archive tier: all parsing happens where the scan
  * reads the bytes (streamed WARC walk — no whole-file arrays); every
  * URL string is canonicalized AT THE SCAN ([[graft.text.UrlOps]]) so
  * the (host, path) key space never fragments across spelling variants;
  * only per-(host, path) candidate rows and tiny per-host rule sets
  * move afterwards. Rule joins keep their host equi-key and carry NO
  * broadcast hint — the global rule table grows with host count, so
  * AQE picks broadcast at fixture scale and a shuffled hash join at
  * 10⁷ hosts.
  */
object FrontierQueries {

  /** The sitemap crawl tree. Its tag also names (suffixed `_resolved`)
    * the [[servedFrontier]] checkpoint — bumping the tree generation
    * invalidates the checkpoint with it.
    */
  private[sources] val SitemapTree = Fixture("sitemap5", "s", "warc.gz",
    scales = true)

  /** Build (atomically, once per scale factor) the sitemap crawl tree: 24
    * `.warc.gz` files over 8 hosts (3 per host). File i carries a
    * warcinfo, host s(i%8)'s sitemap documents — a plain urlset, or
    * for hosts h%4==3 a `<sitemapindex>` plus its two child urlsets
    * (even/odd entry split; host 3's indexes also DECLARE a third
    * child that is never written — the missing-child case a fan-out
    * join must surface; child b is a GZIPPED `.xml.gz` sitemap, the
    * sitemaps.org large-file shape) — and, in the first file per host
    * (i < 8), the host's robots.txt (global `Sitemap:` declaration,
    * graftbot group, `Crawl-delay`) plus a `seen.txt` resource listing
    * the 3 URLs the previous crawl already fetched. Entry j of file i:
    * path `/p{(i+2j)%9}` — DEEP (`/p{…}/s{(i+j)%2}`) when j%3==2 so
    * wildcard rules have structure to match; lastmod
    * `2026-0{1+(i+j)%3}-01`, except (i+j)%5==4 plants the year-only
    * `2026` (valid W3C datetime a parser must not throw on → month 0);
    * priority `0.{3+(i+j)%7}`, except (i+j)%7==6 plants the junk
    * `high` (→ default 5). The `<loc>` SPELLING varies by j%4 — as-is,
    * `?utm_campaign=x` tracking query, trailing slash, `HTTP://WWW.` +
    * `#frag` — all collapsing to ONE frontier key; a reader that skips
    * canonicalization fragments the key space and every count shifts.
    * Robots rules by h%3: 0 → the empty-Disallow no-op; 1 →
    * `Disallow: /p{(h+1)%9}` (prefix, blocks the subtree too); 2 →
    * the §2.2.3 wildcard `Disallow: /p*&#47;s1` (blocks every deep s1
    * page, no shallow page). Every column of the frontier row is
    * closed-form replayable from (i, j).
    *
    * Round 13 (tag sitemap3 → sitemap4) — the real-crawl shapes:
    *  - CARRIAGE: robots by host — h0/h4 legacy `resource`, h1 a 301
    *    redirect to a cross-host captured 200 body (§2.3.1.2 followed —
    *    rules/delay/declaration apply unchanged), h2 a CHUNKED
    *    response, h3/h7 gzip-CODED
    *    responses, h5 a 404 (RFC 9309 §2.3.1.3 unavailable → NO rules,
    *    no delay, no declaration), h6 a 500 (§2.3.1.4 unreachable →
    *    synthesized disallow-all, no delay, no declaration); sitemap
    *    docs ride `resource` on even i and `response` 200 on odd i,
    *    except file i%24==18 (host 2) whose urlset is a 404 response —
    *    its entries (INCLUDING host 2's extras, below) must vanish.
    *  - FRONTIER-KEY extras: the one file per host with i%3==0 plants
    *    `/q?id=0` (spelled with a `utm_source` tracking param that must
    *    strip), `/q?id=1` (a DISTINCT routing query — a canonicalizer
    *    that drops the whole query collapses both into `/q` and the
    *    counts shift), and `/P{(h+1)%9}` (path case preserved — for
    *    h%3==1 hosts the `Disallow: /p{(h+1)%9}` rule must NOT match
    *    it), each fresh (lastmod 2026-02-01) at priorities 0.5/0.5/0.6.
    */
  private[sources] def ensureSitemapTree(sfDir: String): String =
    // sitemap4 -> sitemap5 (third wave): h1's robots.txt is now a 301
    // whose Location is the PROTOCOL-RELATIVE `//cdn.example/r/s1/
    // robots.txt` with the rules body captured 200 at that (cross-host,
    // non-well-known) target — per RFC 9309 §2.3.1.2 the chain is
    // followed and h1's rules/delay/Sitemap-declaration are UNCHANGED
    // for a following reader, while a non-following reader loses all
    // three and every h1 count shifts
    SitemapTree.tree(sfDir) {
      import graft.multimodal.{GzipCodec, WarcCodec}
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val iso = java.nio.charset.StandardCharsets.ISO_8859_1
      (0 until 24 * mediaScale).iterator.map { i =>
        val h = i % 8
        def recBytes(tpe: String, id: String, uri: String,
            body: Array[Byte]) =
          GzipCodec.buildMember(WarcCodec.buildRecord(
            tpe, s"<urn:uuid:$id>", "2026-01-01T00:00:00Z", Some(uri),
            body))
        def rec(tpe: String, id: String, uri: String, body: String) =
          recBytes(tpe, id, uri, body.getBytes(utf8))
        def http(status: String, body: Array[Byte],
            chunked: Boolean = false, gzipCoded: Boolean = false,
            extra: String = "") = {
          val coded = if (gzipCoded) GzipCodec.buildMember(body) else body
          val framed =
            if (chunked) ArchiveQueries.chunkFrame(coded) else coded
          (s"HTTP/1.1 $status\r\nContent-Type: text/xml$extra" +
            (if (gzipCoded) "\r\nContent-Encoding: gzip" else "") +
            (if (chunked) "\r\nTransfer-Encoding: chunked" else "") +
            "\r\n\r\n").getBytes(iso) ++ framed
        }
        val info = GzipCodec.buildMember(WarcCodec.buildRecord(
          "warcinfo", s"<urn:uuid:sm$i>", "2026-01-01T00:00:00Z", None,
          s"software: graft $i".getBytes(utf8)))
        val robots =
          if (i < 8) {
            val dis = h % 3 match {
              case 0 => "Disallow:\n"
              case 1 => s"Disallow: /p${(h + 1) % 9}\n"
              case _ => "Disallow: /p*/s1\n"
            }
            val seen = (0 until 3)
              .map(k => s"http://s$h.example/p${(3 * h + k) % 9}")
              .mkString("", "\n", "\n")
            val txt = s"# host s$h\nUser-agent: graftbot\n$dis" +
              s"Crawl-delay: ${1 + h % 4}\n" +
              s"Sitemap: http://s$h.example/sitemap.xml\n"
            val robotsUri = s"http://s$h.example/robots.txt"
            val robotsRecs = h match {
              case 0 | 4 => Seq(rec("resource", s"rob$i", robotsUri, txt))
              case 1 => Seq( // §2.3.1.2: protocol-relative redirect to a
                // cross-host, non-well-known target carrying the rules
                recBytes("response", s"rob$i", robotsUri,
                  http("301 Moved Permanently", "moved".getBytes(utf8),
                    extra = "\r\nLocation: //cdn.example/r/s1/robots.txt")),
                recBytes("response", s"robt$i",
                  "http://cdn.example/r/s1/robots.txt",
                  http("200 OK", txt.getBytes(utf8))))
              case 2 => Seq(recBytes("response", s"rob$i", robotsUri,
                http("200 OK", txt.getBytes(utf8), chunked = true)))
              case 3 | 7 => Seq(recBytes("response", s"rob$i", robotsUri,
                http("200 OK", txt.getBytes(utf8), gzipCoded = true)))
              case 5 => Seq(recBytes("response", s"rob$i", robotsUri,
                http("404 Not Found", "gone".getBytes(utf8))))
              case _ => Seq(recBytes("response", s"rob$i", robotsUri,
                http("500 Internal Server Error", "err".getBytes(utf8)))) // h6
            }
            robotsRecs :+
              rec("resource", s"seen$i",
                s"http://s$h.example/seen.txt", seen)
          } else Seq.empty
        val gridEntries = (0 until 3 + i % 4).map { j =>
          val deep = j % 3 == 2
          val path = s"/p${(i + 2 * j) % 9}" +
            (if (deep) s"/s${(i + j) % 2}" else "")
          val lastmod =
            if ((i + j) % 5 == 4) "2026"
            else f"2026-0${1 + (i + j) % 3}-01"
          val pri =
            if ((i + j) % 7 == 6) "high" else s"0.${3 + (i + j) % 7}"
          val loc = (j % 4) match {
            case 0 => s"http://s$h.example$path"
            case 1 => s"http://s$h.example$path?utm_campaign=x"
            case 2 => s"http://s$h.example$path/"
            case _ => s"HTTP://WWW.s$h.example$path#frag"
          }
          (j, s"<url><loc>$loc</loc>" +
            s"<lastmod>$lastmod</lastmod><priority>$pri</priority></url>")
        }
        val ne = 3 + i % 4
        val extras =
          if (i % 3 == 0) Seq(
            (ne, s"<url><loc>http://s$h.example/q?id=0&amp;utm_source=x" +
              "</loc><lastmod>2026-02-01</lastmod>" +
              "<priority>0.5</priority></url>"),
            (ne + 1, s"<url><loc>http://s$h.example/q?id=1</loc>" +
              "<lastmod>2026-02-01</lastmod><priority>0.5</priority></url>"),
            (ne + 2, s"<url><loc>http://s$h.example/P${(h + 1) % 9}</loc>" +
              "<lastmod>2026-02-01</lastmod><priority>0.6</priority></url>"))
          else Seq.empty
        val entries = gridEntries ++ extras
        def urlset(es: Seq[String]) =
          "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
            "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
            es.mkString + "</urlset>"
        // sitemap-doc carriage: resource on even i, response 200 on odd
        // i; the i%24==18 urlset is a 404 whose (parseable) body must
        // be DROPPED whole
        def smRec(id: String, uri: String, xml: String) =
          if (i % 24 == 18)
            recBytes("response", id, uri,
              http("404 Not Found", xml.getBytes(utf8)))
          else if (i % 2 == 1)
            recBytes("response", id, uri, http("200 OK", xml.getBytes(utf8)))
          else rec("resource", id, uri, xml)
        val maps =
          if (h % 4 == 3) {
            val (even, odd) = entries.partition(_._1 % 2 == 0)
            val missing =
              if (h == 3)
                s"<sitemap><loc>http://s$h.example/sm${i}c.xml</loc></sitemap>"
              else ""
            val idx =
              "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
                "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
                s"<sitemap><loc>http://s$h.example/sm${i}a.xml</loc></sitemap>" +
                s"<sitemap><loc>http://s$h.example/sm${i}b.xml.gz</loc></sitemap>" +
                missing + "</sitemapindex>"
            // child b ships as a gzipped `.xml.gz` sitemap file (the
            // payload IS the gzip file — no Content-Encoding involved)
            val bGz = GzipCodec.buildMember(
              urlset(odd.map(_._2)).getBytes(utf8))
            val bRec =
              if (i % 2 == 1)
                recBytes("response", s"ch${i}b",
                  s"http://s$h.example/sm${i}b.xml.gz", http("200 OK", bGz))
              else recBytes("resource", s"ch${i}b",
                s"http://s$h.example/sm${i}b.xml.gz", bGz)
            Seq(smRec(s"idx$i", s"http://s$h.example/sitemap.xml", idx),
              smRec(s"ch${i}a", s"http://s$h.example/sm${i}a.xml",
                urlset(even.map(_._2))),
              bRec)
          } else
            Seq(smRec(s"map$i", s"http://s$h.example/sitemap.xml",
              urlset(entries.map(_._2))))
        (s"${i % 2}/${SitemapTree.file(i)}",
          (Seq(info) ++ robots ++ maps).reduce(_ ++ _))
      }
    }

  private val Agent = "graftbot"

  /** One decoded, streamed pass over the sitemap tree, shared by
    * [[SitemapFrontier]], [[FetchSchedule]] and [[RecrawlPlan]]:
    * url-entry rows (kind 0, canonical frontier key + guarded
    * lastmod/priority parses — malformed fields fall to the
    * missing-field defaults, a crawl must keep walking), parsed rule
    * rows (kind 1), urlset-doc rows (kind 2, canonical doc URL in
    * `path`), robots `Sitemap:` declarations (kind 3), group-scoped
    * `Crawl-delay` values (kind 4, seconds in `mo`), sitemapindex
    * child declarations (kind 5, canonical child URL), and
    * previously-crawled URLs (kind 6, canonical). Callers persist.
    *
    * Round 13: carriage-independent — robots.txt and sitemaps parse
    * from `resource` records AND from HTTP `response` records (the
    * real-crawl shape, via [[ArchiveQueries.fetchedBody]] — status
    * line, chunked de-framing, content-coding removal), with RFC 9309
    * §2.3.1 availability semantics on the robots fetch (2xx → parse;
    * 3xx/4xx unavailable → no rules; 5xx/unparseable unreachable →
    * synthesized complete disallow). `.xml.gz` sitemap files (the
    * sitemaps.org large-sitemap shape) gunzip through the engine's
    * own [[graft.multimodal.GzipCodec]]; urlsets cap at the protocol's
    * 50k entries ([[graft.text.SitemapOps.MaxEntries]]). URL keys are
    * the FRONTIER canonicalization ([[graft.text.UrlOps
    * .frontierCanonicalStr]]): scheme+host-only lowercase,
    * tracking-param-only query strip — `/q?id=0` and `/q?id=1` are
    * distinct pages and `/Page` never collapses into `/page`.
    */
  private def sitemapRows(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    import graft.text.UrlOps.frontierCanonicalStr
    SitemapTree.scan(spark, root)
      .select(col("path"))
      .as[String]
      .flatMap { file =>
        warcRows(file) { (_, r) =>
          val utf8 = java.nio.charset.StandardCharsets.UTF_8
          val out = Seq.newBuilder[(Int, String, String, Int, Int, Boolean)]
          val isFetch = r.warcType == "resource" || r.warcType == "response"
          for (uri <- r.targetUri if isFetch) {
            val at = uri.indexOf("://")
            val host = (if (at < 0) uri else uri.substring(at + 3))
              .takeWhile(_ != '/')
            val robotsPathed = uri.takeWhile(c => c != '?' && c != '#')
              .endsWith("/robots.txt")
            if (robotsPathed) {
              // kinds 7/8/9/10/11/12 feed [[withResolvedRobots]] — the
              // §2.3.1.2 redirect follow (same row semantics as the
              // RobotsFrontier scan: 7 = well-known redirect origin,
              // 8 = robots-pathed redirect edge, 9/10/11 = target-keyed
              // rule/declaration/delay rows, 12 = a 5xx target)
              val key = frontierCanonicalStr(uri)
              val wellKnown = graft.text.RobotsOps.isWellKnownUri(uri)
              ArchiveQueries.fetchedBody(r) match {
                case Some((st, body)) if st / 100 == 2 =>
                  val txt = new String(body, utf8)
                  graft.text.RobotsOps.rules(txt, Agent).foreach { rule =>
                    if (wellKnown)
                      out += ((1, host, rule.path, 0, 0, rule.allow))
                    out += ((9, key, rule.path, 0, 0, rule.allow))
                  }
                  graft.text.SitemapOps.declaredInRobots(txt).foreach { sm =>
                    val c = frontierCanonicalStr(sm)
                    if (wellKnown) out += ((3, host, c, 0, 0, false))
                    out += ((10, key, c, 0, 0, false))
                  }
                  graft.text.RobotsOps.crawlDelay(txt, Agent).foreach { d =>
                    if (wellKnown) out += ((4, host, "", d.toInt, 0, false))
                    out += ((11, key, "", d.toInt, 0, false))
                  }
                case Some((st, _)) if st / 100 == 3 =>
                  // §2.3.1.2: a robots redirect is followed, not
                  // treated as unavailable — Location resolved per
                  // RFC 3986 §5.2, target canonicalized
                  graft.text.HtmlOps.httpParse(r.payload)
                    .flatMap(m => graft.text.HtmlOps.location(m.headers))
                    .foreach { loc =>
                      val t = frontierCanonicalStr(
                        graft.text.UrlOps.resolve(uri, loc))
                      if (wellKnown) out += ((7, host, t, 0, 0, false))
                      out += ((8, key, t, 0, 0, false))
                    } // 3xx without Location: unavailable, no rows
                case Some((st, _)) if st / 100 == 4 =>
                  () // §2.3.1.3 unavailable: crawl unrestricted
                case _ =>
                  // §2.3.1.4 unreachable: complete disallow, fail closed
                  if (wellKnown) out += ((1, host, "/", 0, 0, false))
                  out += ((12, key, "", 0, 0, false))
              }
            } else {
              // non-robots documents: only successful fetches count
              val body200 = ArchiveQueries.fetchedBody(r)
                .filter(_._1 / 100 == 2).map(_._2)
              for (raw <- body200) {
                if (uri.endsWith("/seen.txt")) {
                  new String(raw, utf8).split("\n").iterator.map(_.trim)
                    .filter(_.nonEmpty).foreach { u =>
                      out += ((6, host, frontierCanonicalStr(u), 0, 0, false))
                    }
                } else if (uri.endsWith(".xml") || uri.endsWith(".xml.gz")) {
                  // a `.xml.gz` sitemap is a gzip FILE (not a content
                  // coding): one member, engine-owned walk
                  val xmlBytes =
                    if (uri.endsWith(".xml.gz"))
                      graft.multimodal.GzipCodec.members(raw, 1 << 24)
                        .filter(_.nonEmpty).map(_.head.payload)
                    else Some(raw)
                  for (b <- xmlBytes) {
                    val txt = new String(b, utf8)
                    if (graft.text.SitemapOps.isUrlset(txt)) {
                      out += ((2, host, frontierCanonicalStr(uri), 0, 0,
                        false))
                      graft.text.SitemapOps.urlEntries(txt).foreach { e =>
                        val path = frontierCanonicalStr(e.loc)
                          .stripPrefix(s"http://$host")
                        // guarded parses: a year-only lastmod ("2026" is
                        // valid W3C datetime) or a junk priority falls
                        // back to the missing-field defaults instead of
                        // failing the task
                        val mo = e.lastmod.filter(_.length >= 7)
                          .flatMap(_.substring(5, 7).toIntOption)
                          .getOrElse(0)
                        val pri = e.priority.flatMap(_.toDoubleOption)
                          .map(d => math.round(d * 10).toInt).getOrElse(5)
                        out += ((0, host, path, mo, pri, false))
                      }
                    } else if (graft.text.SitemapOps.isIndex(txt)) {
                      graft.text.SitemapOps.indexChildren(txt).foreach { c =>
                        out += ((5, host, frontierCanonicalStr(c), 0, 0,
                          false))
                      }
                    }
                  }
                }
              }
            }
          }
          out.result()
        }
      }
      .toDF("kind", "host", "path", "mo", "pri", "allow")
  }

  /** RFC 9309 §2.3.1.2 robots redirect resolution over the raw
    * [[sitemapRows]] stream: the origin 3xx at the well-known path is
    * redirect 1; redirects 2..5 follow through the robots-pathed
    * redirect catalog (four bounded unhinted uri equi-joins — O(hosts)
    * frames on both sides, a cycle costs exactly the cap, never a
    * fixpoint hang). A chain that lands on a captured 2xx robots body
    * re-keys that body's rules (kind 9 → 1), `Sitemap:` declarations
    * (10 → 3) and `Crawl-delay` (11 → 4) to the ORIGIN host; a chain
    * still redirecting after five hops or landing nowhere is
    * "unavailable" (no rules); a chain landing on a 5xx is
    * "unreachable" → synthesized complete disallow. Returns the
    * effective kind 0–6 rows the three sitemap-tree queries consume.
    * Callers pass the PERSISTED raw rows (the resolution references
    * them several times).
    */
  private def withResolvedRobots(raw: DataFrame): DataFrame = {
    val base = raw.filter(col("kind") <= 6)
    val finals = RobotsResolve.chains(raw)
    val landed = finals.filter(col("more").isNull && col("dead").isNull)
    def rekey(bodyKind: Int, outKind: Int) = landed
      .join(raw.filter(col("kind") === bodyKind)
          .select(col("host").as("b_uri"), col("path").as("b_path"),
            col("mo").as("b_mo"), col("allow").as("b_allow")),
        col("cur") === col("b_uri"))
      .select(lit(outKind).as("kind"), col("host"),
        col("b_path").as("path"), col("b_mo").as("mo"),
        lit(0).as("pri"), col("b_allow").as("allow"))
    val deadAll = finals.filter(col("dead").isNotNull)
      .select(lit(1).as("kind"), col("host"), lit("/").as("path"),
        lit(0).as("mo"), lit(0).as("pri"), lit(false).as("allow"))
    base
      .unionByName(rekey(9, 1))
      .unionByName(rekey(10, 3))
      .unionByName(rekey(11, 4))
      .unionByName(deadAll)
  }

  /** Cold resolution path — the full decode + §2.3.1.2 redirect
    * resolution from the raw tree, exactly what [[servedFrontier]]
    * materializes. Kept callable for the cold ≡ served differential
    * (FrontierQueriesSpec) and for one-off trees.
    */
  private[sources] def coldResolvedFrontier(spark: SparkSession,
      root: String): DataFrame = {
    val raw = sitemapRows(spark, root)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    withResolvedRobots(raw)
  }

  /** Resolved-frontier checkpoint shared by the three sitemap-tree
    * queries (round 14, the round-13 verdict's finding 3): the
    * effective kind 0–6 rows after the streamed WARC decode and the
    * ~8-join robots-redirect resolution are a pure function of the
    * immutable fixture tree, yet each of `q_sitemap_frontier` /
    * `q_fetch_schedule` / `q_recrawl_plan` used to re-run the whole
    * sub-DAG (measured +2–3 s of stage-count fixed cost per query at
    * sf0.1, flat in data size). Production resolves robots ONCE per
    * crawl cycle and serves every planner from the result — the
    * [[Sources.checkpoint]] / ClassifierOps scored-corpus idiom:
    * whichever query runs first pays the one compute+write; every
    * later run is a columnar scan of an O(hosts + paths) table. The
    * checkpoint keys on the tree's scaled tag, so the ×10 audit trees
    * get their own, and cold ≡ served is asserted by differential
    * (FrontierQueriesSpec) with every downstream hash unchanged.
    */
  private[sources] def servedFrontier(spark: SparkSession,
      sfDir: String): DataFrame = {
    val root = ensureSitemapTree(sfDir)
    val dir = java.nio.file.Paths.get(
      workDir(scaledTag(SitemapTree.tag) + "_resolved", sfDir))
    if (!java.nio.file.Files.exists(dir.resolve("_SUCCESS")))
      coldResolvedFrontier(spark, root)
        .write.mode("overwrite").parquet(dir.toString)
    SchemaMemo.read(spark, "parquet", dir.toString)
  }

  /** Per distinct (host, path): newest-lastmod freshness, max priority,
    * and the RFC 9309 decision under the full §2.2.3 grammar (most
    * pattern octets win, allow on ties, no match → allowed) via the
    * host-keyed rule join's struct-argmax — residual matched by the
    * native [[graft.plans.RobotsMatchExpression]], no broadcast hint
    * (AQE broadcasts the tiny fixture table; the same plan shuffles
    * when the global rule table grows with host count).
    */
  private def decidePaths(recs: DataFrame): DataFrame = {
    val paths = recs.filter(col("kind") === 0)
      .groupBy("host", "path")
      .agg(max(col("mo")).as("mo"), max(col("pri")).as("pri"))
      .withColumn("fresh", col("mo") >= 2)
    val rules = recs.filter(col("kind") === 1)
      .select(col("host"), col("path").as("rpath"), col("allow"))
    // both sides descend from `recs`: aliased, so the host key is not
    // one attribute compared with itself
    paths.as("p")
      .join(rules.as("r"),
        col("p.host") === col("r.host") &&
          graft.plans.RobotsMatchExpression.robotsMatch(
            col("rpath"), col("p.path")), "left")
      .groupBy(col("p.host"), col("p.path"), col("fresh"), col("pri"))
      .agg(max(struct(length(col("rpath")).as("l"),
        col("allow").cast("int").as("a"))).as("best"))
      .select(col("host"), col("path"), col("fresh"), col("pri"),
        coalesce(col("best.a") === 1, lit(true)).as("ok"))
  }

  /** Closed-form oracle CTEs shared by the three sitemap-tree queries:
    * the planted entries with guarded-parse effective values (file
    * i=18's urlset is 404-carried — its entries INCLUDING host 2's
    * extras vanish whole), the frontier-key extras (distinct routing
    * queries, a case-preserved path), the per canonical (host, path)
    * reduction, and the rule decision replayed per the generator's
    * h%3 branch UNDER the §2.3.1 availability overrides (h5's robots
    * is a 404 → allow-all; h6's is a 500 → disallow-all).
    */
  private val PathsCtes =
    """specs AS (
      |  SELECT i.i AS i, i.i % 8 AS h, 3 + i.i % 4 AS ne
      |  FROM unnest(range(0, 24)) i(i)),
      |hosts8 AS (SELECT DISTINCT h FROM specs),
      |gridentries AS (
      |  SELECT h, (i + 2 * j.j) % 9 AS p,
      |         CASE WHEN j.j % 3 = 2 THEN (i + j.j) % 2 ELSE -1 END AS s,
      |         CASE WHEN (i + j.j) % 5 = 4 THEN 0
      |              ELSE 1 + (i + j.j) % 3 END AS mo,
      |         CASE WHEN (i + j.j) % 7 = 6 THEN 5
      |              ELSE 3 + (i + j.j) % 7 END AS pri
      |  FROM specs, LATERAL unnest(range(0, ne)) j(j)
      |  WHERE i <> 18),
      |allentries AS (
      |  SELECT h, '/p' || p ||
      |         CASE WHEN s >= 0 THEN '/s' || s ELSE '' END AS path,
      |         p, s, mo, pri
      |  FROM gridentries
      |  UNION ALL
      |  SELECT h, '/q?id=0', -1, -1, 2, 5 FROM hosts8 WHERE h <> 2
      |  UNION ALL
      |  SELECT h, '/q?id=1', -1, -1, 2, 5 FROM hosts8 WHERE h <> 2
      |  UNION ALL
      |  SELECT h, '/P' || ((h + 1) % 9), -1, -1, 2, 6 FROM hosts8
      |  WHERE h <> 2),
      |paths AS (
      |  SELECT h, path, max(mo) >= 2 AS fresh, max(pri) AS pri,
      |         CASE WHEN h = 5 THEN TRUE
      |              WHEN h = 6 THEN FALSE
      |              WHEN max(p) < 0 THEN TRUE
      |              WHEN h % 3 = 0 THEN TRUE
      |              WHEN h % 3 = 1 THEN max(p) <> (h + 1) % 9
      |              ELSE NOT (max(s) = 1) END AS ok
      |  FROM allentries GROUP BY h, path)""".stripMargin

  /** Sitemap-driven recrawl frontier (sitemaps.org protocol + RFC 9309),
    * composed: robots.txt `Sitemap:` declarations, `<sitemapindex>`
    * fan-out JOINED against the discovered urlset docs (declared
    * children counted, declared-but-missing children surfaced — host
    * 3's indexes declare a child that was never written), urlset
    * freshness (a path is fresh iff its NEWEST lastmod across all
    * mentions passes the 2026-01-15 recrawl cutoff; unparseable
    * lastmods fall to month 0), max-priority per path (junk priorities
    * fall to the 0.5 default), and the robots allow/deny gate under
    * the full wildcard grammar — one frontier summary row per host,
    * all URL spellings collapsed by the canonicalizer first. The
    * oracle replays the planted generator AND the gate arithmetic
    * closed-form, so a missed child sitemap, an uncounted missing
    * child, a stale-max freshness bug, a fragment/query/WWW variant
    * splitting a path, a thrown parse, or a wrong robots pick shifts
    * a count.
    */
  object SitemapFrontier extends GraftQuery {
    val name = "q_sitemap_frontier"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val recs = servedFrontier(spark, sfDir)
      val decided = decidePaths(recs)
      val declared = recs.filter(col("kind") === 3)
        .groupBy("host").agg(count(lit(1)).as("n_declared"))
      val smDocs = recs.filter(col("kind") === 2)
        .groupBy("host").agg(count(lit(1)).as("n_sitemaps"))
      // index fan-out audit: children the indexes DECLARE vs urlset
      // docs the scan DISCOVERED (per-host tiny on both sides)
      val present = recs.filter(col("kind") === 2)
        .select(col("host"), col("path")).distinct()
        .withColumn("present", lit(1))
      val children = recs.filter(col("kind") === 5)
        .select(col("host"), col("path"))
        .join(present, Seq("host", "path"), "left")
        .groupBy("host")
        .agg(count(lit(1)).as("n_children"),
          sum(when(col("present").isNull, 1L).otherwise(0L))
            .as("n_missing"))
      decided.groupBy("host")
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("fresh"), 1L).otherwise(0L)).as("n_fresh"),
          sum(when(col("fresh") && col("ok"), 1L).otherwise(0L))
            .as("n_frontier"),
          sum(when(col("fresh") && col("ok"), col("pri").cast("long"))
            .otherwise(0L)).as("pri_sum"))
        // no broadcast hints: each side is one row per host — O(hosts)
        // frames, the same growth law as the rule table, so the joins
        // keep their host equi-key and AQE picks the strategy
        // (broadcast at fixture scale, shuffled hash at 10⁷ hosts)
        .join(declared, Seq("host"), "left")
        .join(smDocs, Seq("host"), "left")
        .join(children, Seq("host"), "left")
        .select(col("host"),
          coalesce(col("n_declared"), lit(0L)).as("n_declared"),
          coalesce(col("n_sitemaps"), lit(0L)).as("n_sitemaps"),
          coalesce(col("n_children"), lit(0L)).as("n_children"),
          coalesce(col("n_missing"), lit(0L)).as("n_missing"),
          col("n_urls"), col("n_fresh"), col("n_frontier"), col("pri_sum"))
        .orderBy("host")
    }
    val oracle = Some(
      s"""WITH $PathsCtes,
        |sm AS (
        |  SELECT h, sum(CASE WHEN i = 18 THEN 0
        |                     WHEN h % 4 = 3 THEN 2 ELSE 1 END) AS n_sitemaps,
        |         -- host 3's 3 indexes each declare 3 children (1 never
        |         -- written); host 7's declare 2; others have no index;
        |         -- file 18's 404-carried urlset is never discovered
        |         sum(CASE WHEN h = 3 THEN 3
        |                  WHEN h % 4 = 3 THEN 2 ELSE 0 END) AS n_children,
        |         sum(CASE WHEN h = 3 THEN 1 ELSE 0 END) AS n_missing
        |  FROM specs GROUP BY h)
        |SELECT 's' || paths.h || '.example' AS host,
        |       -- h5/h6: the robots fetch is 404/500 — no parsed body,
        |       -- no Sitemap: declaration
        |       CAST(CASE WHEN paths.h IN (5, 6) THEN 0 ELSE 1 END
        |         AS BIGINT) AS n_declared,
        |       CAST(sm.n_sitemaps AS BIGINT) AS n_sitemaps,
        |       CAST(sm.n_children AS BIGINT) AS n_children,
        |       CAST(sm.n_missing AS BIGINT) AS n_missing,
        |       CAST(count(*) AS BIGINT) AS n_urls,
        |       CAST(sum(CASE WHEN fresh THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_fresh,
        |       CAST(sum(CASE WHEN fresh AND ok THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_frontier,
        |       CAST(sum(CASE WHEN fresh AND ok THEN pri ELSE 0 END)
        |         AS BIGINT) AS pri_sum
        |FROM paths JOIN sm ON sm.h = paths.h
        |GROUP BY paths.h, sm.n_sitemaps, sm.n_children, sm.n_missing
        |ORDER BY host""".stripMargin)
  }

  private[sources] val DeltaTree = Fixture("crdelta", "c", "warc.gz",
    scales = true)

  /** Build (atomically, once per scale factor) the two-snapshot recrawl tree:
    * `old/` and `new/` subtrees of 24 `.warc.gz` files each (host
    * h = i%8). Old file i carries pages j ∈ [0, 4+i%3) at body version
    * v1; new file i carries j ∈ [1, 4+i%3] with even-j bodies bumped
    * to v2 — so per file exactly one page is removed (j=0), one added
    * (j = 4+i%3), even common pages changed, odd common pages
    * unchanged, all closed-form replayable from (i, j).
    */
  private[sources] def ensureDeltaTree(sfDir: String): String =
    DeltaTree.tree(sfDir) {
      import graft.multimodal.{GzipCodec, WarcCodec}
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      for {
        snap <- Seq("old", "new").iterator
        i <- (0 until 24 * mediaScale).iterator
      } yield {
        val h = i % 8
        val np = 4 + i % 3
        val js = if (snap == "old") 0 until np else 1 to np
        val info = GzipCodec.buildMember(WarcCodec.buildRecord(
          "warcinfo", s"<urn:uuid:cd-$snap-$i>", "2026-01-01T00:00:00Z",
          None, s"software: graft $i".getBytes(utf8)))
        val pages = js.map { j =>
          val ver = if (snap == "new" && j % 2 == 0) "v2" else "v1"
          GzipCodec.buildMember(WarcCodec.buildRecord(
            "response", s"<urn:uuid:cd-$snap-$i-$j>",
            "2026-01-01T00:00:00Z", Some(s"http://s$h.example/d$i/$j"),
            s"<html><body>c $i $j $ver</body></html>".getBytes(utf8)))
        }
        (s"$snap/${i % 2}/${DeltaTree.file(i)}",
          (info +: pages).reduce(_ ++ _))
      }
    }

  /** Snapshot-to-snapshot recrawl delta — what changed between two
    * crawls of the same hosts: per host, pages added, removed, changed
    * (content digest differs), and unchanged. This is the incremental-
    * ingest primitive (only `added + changed` flow into downstream
    * curation; `removed` tombstones). Scale shape: page bodies reduce
    * to RAW-BYTE md5 digests WHERE THE SCAN READS THEM (bytes, not a
    * String round-trip — invalid-UTF-8 payloads must never collide at
    * U+FFFD), so the full-outer join that classifies the delta shuffles
    * only (host, uri, digest) rows keyed by uri; at 100 TB both
    * snapshots would be bucketed by uri and the join goes shuffle-free
    * — the plan is the bucketed plan minus the layout. The oracle
    * rebuilds both planted page sets and replays the same outer-join
    * classification closed-form.
    */
  object CrawlDelta extends GraftQuery {
    val name = "q_crawl_delta"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      val root = ensureDeltaTree(sfDir)
      def snapshot(snap: String): DataFrame =
        DeltaTree.scan(spark, s"$root/$snap")
        .select(col("path"))
        .as[String]
        .flatMap { file =>
          warcRows(file) { (_, r) =>
            for {
              uri <- r.targetUri.toSeq
              if r.warcType == "response"
            } yield {
              val host = uri.stripPrefix("http://").takeWhile(_ != '/')
              (host, uri, graft.functions.PortableHash.md5Hex(r.payload))
            }
          }
        }
        .toDF("host", "uri", "digest")
      val o = snapshot("old").withColumnRenamed("digest", "odig")
      val n = snapshot("new").withColumnRenamed("digest", "ndig")
        .withColumnRenamed("host", "nhost").withColumnRenamed("uri", "nuri")
      val both = col("odig").isNotNull && col("ndig").isNotNull
      o.join(n, o("uri") === n("nuri"), "full_outer")
        .select(coalesce(col("host"), col("nhost")).as("host"),
          col("odig"), col("ndig"))
        .groupBy("host")
        .agg(sum(when(col("odig").isNotNull, 1L).otherwise(0L)).as("n_old"),
          sum(when(col("ndig").isNotNull, 1L).otherwise(0L)).as("n_new"),
          sum(when(col("odig").isNull && col("ndig").isNotNull, 1L)
            .otherwise(0L)).as("n_added"),
          sum(when(col("ndig").isNull && col("odig").isNotNull, 1L)
            .otherwise(0L)).as("n_removed"),
          sum(when(both && col("odig") =!= col("ndig"), 1L).otherwise(0L))
            .as("n_changed"),
          sum(when(both && col("odig") === col("ndig"), 1L).otherwise(0L))
            .as("n_same"))
        .orderBy("host")
    }
    val oracle = Some(
      """WITH specs AS (
        |  SELECT i.i AS i, i.i % 8 AS h, 4 + i.i % 3 AS np
        |  FROM unnest(range(0, 24)) i(i)),
        |old_ AS (
        |  SELECT h, i, j.j AS j FROM specs, LATERAL unnest(range(0, np)) j(j)),
        |new_ AS (
        |  SELECT h, i, j.j AS j
        |  FROM specs, LATERAL unnest(range(1, np + 1)) j(j)),
        |d AS (
        |  SELECT coalesce(o.h, n.h) AS h,
        |         o.j IS NOT NULL AS in_old, n.j IS NOT NULL AS in_new,
        |         -- common pages changed iff j even (v1 -> v2 bump)
        |         (o.j IS NOT NULL AND n.j IS NOT NULL AND o.j % 2 = 0)
        |           AS chg
        |  FROM old_ o FULL OUTER JOIN new_ n ON o.i = n.i AND o.j = n.j)
        |SELECT 's' || h || '.example' AS host,
        |       CAST(sum(CASE WHEN in_old THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_old,
        |       CAST(sum(CASE WHEN in_new THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_new,
        |       CAST(sum(CASE WHEN in_new AND NOT in_old THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_added,
        |       CAST(sum(CASE WHEN in_old AND NOT in_new THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_removed,
        |       CAST(sum(CASE WHEN chg THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_changed,
        |       CAST(sum(CASE WHEN in_old AND in_new AND NOT chg
        |         THEN 1 ELSE 0 END) AS BIGINT) AS n_same
        |FROM d GROUP BY h ORDER BY host""".stripMargin)
  }

  /** Politeness-scheduled fetch plan — the last step of the frontier
    * pipeline: the robots-gated fresh sitemap paths (the exact
    * `n_frontier` set [[SitemapFrontier]] counts) ordered per host by
    * priority (desc, path asc tiebreak) and laid onto a fetch timeline
    * honoring the host's `Crawl-delay` (de-facto extension, parsed
    * group-scoped by [[graft.text.RobotsOps.crawlDelay]]; absent → 1 s):
    * fetch k of a host starts at (k−1)·delay, so the per-host makespan
    * is (n−1)·delay — the number a crawl planner capacity-checks. Scale
    * shape: everything after the shared decode is per-(host, path)
    * rows; the ranking is one window over host-partitioned frontier
    * rows (no global sort), and delays broadcast. The oracle replays
    * the frontier set, the rank order, and the delay arithmetic
    * closed-form, so a wrong gate, a wrong tiebreak, or a misparsed
    * delay shifts a row.
    */
  object FetchSchedule extends GraftQuery {
    val name = "q_fetch_schedule"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val recs = servedFrontier(spark, sfDir)
      val frontier = decidePaths(recs)
        .filter(col("fresh") && col("ok"))
        .select(col("host"), col("path"), col("pri"))
      val delays = recs.filter(col("kind") === 4)
        .groupBy("host").agg(max(col("mo")).cast("long").as("delay_s"))
      val w = Window.partitionBy("host")
        .orderBy(col("pri").desc, col("path").asc)
      frontier
        .withColumn("rk", row_number().over(w))
        // unhinted: delays are one row per host (O(hosts) growth)
        .join(delays, Seq("host"), "left")
        .withColumn("delay_s", coalesce(col("delay_s"), lit(1L)))
        .withColumn("fetch_at", (col("rk") - 1).cast("long") * col("delay_s"))
        .groupBy("host", "delay_s")
        .agg(count(lit(1)).as("n_fetches"),
          max(col("fetch_at")).as("makespan_s"),
          sum(col("fetch_at")).as("total_wait_s"),
          min(when(col("rk") === 1, col("path"))).as("first_path"))
        .select(col("host"), col("delay_s"), col("n_fetches"),
          col("makespan_s"), col("total_wait_s"), col("first_path"))
        .orderBy("host")
    }
    val oracle = Some(
      s"""WITH $PathsCtes,
        |fr AS (
        |  SELECT h, path, pri,
        |         -- h5's robots is a 404: no Crawl-delay parsed, the
        |         -- 1 s default applies (h6 never reaches the plan)
        |         CASE WHEN h IN (5, 6) THEN 1 ELSE 1 + h % 4 END AS dl,
        |         row_number() OVER (PARTITION BY h
        |                            ORDER BY pri DESC, path ASC) AS rk
        |  FROM paths WHERE fresh AND ok)
        |SELECT 's' || h || '.example' AS host,
        |       CAST(dl AS BIGINT) AS delay_s,
        |       CAST(count(*) AS BIGINT) AS n_fetches,
        |       CAST((count(*) - 1) * dl AS BIGINT) AS makespan_s,
        |       CAST((count(*) - 1) * count(*) // 2 * dl AS BIGINT)
        |         AS total_wait_s,
        |       min(CASE WHEN rk = 1 THEN path END) AS first_path
        |FROM fr GROUP BY h, dl ORDER BY host""".stripMargin)
  }

  /** The recrawl-plan capstone (round 12) — the frontier pieces
    * COMPOSED the way [[ArchiveQueries.CrawlCorpus]] composed the text
    * stack, per host with per-stage survivor counts:
    *
    *   sitemap candidates (canonical, per distinct (host, path)) →
    *   freshness cutoff → RFC 9309 wildcard robots gate →
    *   URL-seen Bloom prefilter (the standing K=3/M=2¹⁵ sketch of
    *   `q_bloom_urlseen`, built from the previous crawl's `seen.txt`
    *   lists: bloom-NEGATIVE candidates are definitely new and skip
    *   the exact check entirely) → exact seen anti-join (resolves the
    *   bloom-positives) → Crawl-delay makespan over the fetch list.
    *
    * Scale shape: one streamed decode pass; every stage after it is
    * per distinct (host, path); the Bloom bit relation is ≤ M rows
    * regardless of seen-set size and broadcasts onto the candidates;
    * the exact join only ever sees bloom-positive rows at production
    * scale (here both counts are reported). Hashes are md5-slice
    * ([[graft.functions.PortableHash]]) so the oracle replays the
    * EXACT bit addressing along with every other stage — a missed
    * variant collapse, a wrong wildcard decision, a false bloom
    * negative, or a mis-scheduled makespan shifts a count.
    */
  object RecrawlPlan extends GraftQuery {
    val name = "q_recrawl_plan"
    private[sources] val M = 1 << 15
    private[sources] val K = 3
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import graft.functions.PortableHash.pHash28
      val recs = servedFrontier(spark, sfDir)
      val decided = decidePaths(recs)
        .withColumn("url", concat(lit("http://"), col("host"), col("path")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val seen = recs.filter(col("kind") === 6)
        .select(col("host"), col("path").as("url")).distinct()
      val ks = array((0 until K).map(lit): _*)
      val pos = (pHash28(concat(col("k").cast("string"), lit(":"),
        col("url"))) % M).as("pos")
      // the standing URL-seen sketch: DISTINCT occupied bit positions
      // (≤ M rows however large the seen set), broadcast onto probes
      val bits = seen.select(col("url"), explode(ks).as("k"))
        .select(pos).distinct()
      val frontier = decided.filter(col("fresh") && col("ok"))
      val probed = frontier
        .select(col("host"), col("path"), col("url"), explode(ks).as("k"))
        .select(col("host"), col("path"), col("url"), pos)
        .join(broadcast(bits.withColumn("hit", lit(1))), Seq("pos"), "left")
        .groupBy("host", "path", "url")
        .agg(countDistinct(col("pos")).as("n_pos"),
          countDistinct(when(col("hit").isNotNull, col("pos"))).as("n_hit"))
        .withColumn("maybe_seen", col("n_hit") === col("n_pos"))
      // exact resolution (at scale: only the bloom-positives need it)
      val resolved = probed
        .join(seen.withColumn("was_seen", lit(1)),
          Seq("host", "url"), "left")
      val delays = recs.filter(col("kind") === 4)
        .groupBy("host").agg(max(col("mo")).cast("long").as("delay_s"))
      val staged = decided.groupBy("host")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("fresh"), 1L).otherwise(0L)).as("n_fresh"),
          sum(when(col("fresh") && col("ok"), 1L).otherwise(0L))
            .as("n_frontier"))
      val newPages = resolved.groupBy("host")
        .agg(sum(when(!col("maybe_seen"), 1L).otherwise(0L))
          .as("n_bloom_new"),
          sum(when(col("was_seen").isNull, 1L).otherwise(0L)).as("n_new"))
      staged
        // unhinted host equi-joins: every side is O(hosts) rows
        .join(newPages, Seq("host"), "left")
        .join(delays, Seq("host"), "left")
        .withColumn("delay_s", coalesce(col("delay_s"), lit(1L)))
        .select(col("host"), col("delay_s"), col("n_candidates"),
          col("n_fresh"), col("n_frontier"),
          coalesce(col("n_bloom_new"), lit(0L)).as("n_bloom_new"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          (greatest(coalesce(col("n_new"), lit(0L)) - 1, lit(0L)) *
            col("delay_s")).as("makespan_s"))
        .orderBy("host")
    }
    val oracle = Some(
      s"""WITH $PathsCtes,
        |hosts AS (SELECT DISTINCT h FROM specs),
        |seen AS (
        |  SELECT h, 'http://s' || h || '.example/p' || ((3 * h + k.k) % 9)
        |           AS url
        |  FROM hosts, LATERAL unnest(range(0, 3)) k(k)),
        |ks AS (SELECT unnest([0, 1, 2]) AS k),
        |bits AS (
        |  SELECT DISTINCT
        |         ('0x' || substr(md5(k || ':' || url), 1, 7))::BIGINT % $M
        |           AS pos
        |  FROM seen CROSS JOIN ks),
        |fr AS (
        |  SELECT h, path, 'http://s' || h || '.example' || path AS url
        |  FROM paths WHERE fresh AND ok),
        |pr AS (
        |  SELECT h, url,
        |         ('0x' || substr(md5(k || ':' || url), 1, 7))::BIGINT % $M
        |           AS pos
        |  FROM fr CROSS JOIN ks),
        |probed AS (
        |  SELECT h, pr.url,
        |         count(DISTINCT pr.pos) AS n_pos,
        |         count(DISTINCT b.pos) AS n_hit
        |  FROM pr LEFT JOIN bits b ON b.pos = pr.pos
        |  GROUP BY 1, 2),
        |resolved AS (
        |  SELECT p.h, p.n_hit = p.n_pos AS maybe_seen,
        |         s.url IS NOT NULL AS was_seen
        |  FROM probed p LEFT JOIN seen s ON s.h = p.h AND s.url = p.url),
        |staged AS (
        |  SELECT h, count(*) AS n_candidates,
        |         sum(CASE WHEN fresh THEN 1 ELSE 0 END) AS n_fresh,
        |         sum(CASE WHEN fresh AND ok THEN 1 ELSE 0 END) AS n_frontier
        |  FROM paths GROUP BY h),
        |np AS (
        |  SELECT h, sum(CASE WHEN maybe_seen THEN 0 ELSE 1 END)
        |           AS n_bloom_new,
        |         sum(CASE WHEN was_seen THEN 0 ELSE 1 END) AS n_new
        |  FROM resolved GROUP BY h)
        |SELECT 's' || staged.h || '.example' AS host,
        |       -- h5/h6 robots are 404/500: no Crawl-delay, 1 s default
        |       CAST(CASE WHEN staged.h IN (5, 6) THEN 1
        |                 ELSE 1 + staged.h % 4 END AS BIGINT) AS delay_s,
        |       CAST(n_candidates AS BIGINT) AS n_candidates,
        |       CAST(n_fresh AS BIGINT) AS n_fresh,
        |       CAST(n_frontier AS BIGINT) AS n_frontier,
        |       CAST(coalesce(n_bloom_new, 0) AS BIGINT) AS n_bloom_new,
        |       CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
        |       CAST(greatest(coalesce(n_new, 0) - 1, 0) *
        |         (CASE WHEN staged.h IN (5, 6) THEN 1
        |               ELSE 1 + staged.h % 4 END)
        |         AS BIGINT) AS makespan_s
        |FROM staged LEFT JOIN np ON np.h = staged.h
        |ORDER BY host""".stripMargin)
  }

  private[sources] val RevisitTree = Fixture("revisit", "v", "warc.gz",
    scales = true)

  /** Build (atomically, once per scale factor) the revisit tree: 24
    * `.warc.gz` files (host h = i%8), file i carrying pages j ∈ [0, 3+i%3) of
    * uri `/r{i}/{j}` with body `"x" * (5 + (i+j)%4)` — only FOUR distinct
    * bodies globally, so captures repeat constantly, exactly the shape
    * revisit records exist for. Even j → a full `response`; odd j → a
    * `revisit` record (ISO 28500 §6.7): EMPTY block, `WARC-Refers-To`
    * a synthetic original id, `WARC-Payload-Digest` = md5 of the body
    * it did not re-store.
    */
  private[sources] def ensureRevisitTree(sfDir: String): String =
    RevisitTree.tree(sfDir) {
      import graft.multimodal.{GzipCodec, WarcCodec}
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      (0 until 24 * mediaScale).iterator.map { i =>
        val h = i % 8
        val info = GzipCodec.buildMember(WarcCodec.buildRecord(
          "warcinfo", s"<urn:uuid:rv$i>", "2026-01-01T00:00:00Z", None,
          s"software: graft $i".getBytes(utf8)))
        val pages = (0 until 3 + i % 3).map { j =>
          val body = "x" * (5 + (i + j) % 4)
          val uri = Some(s"http://s$h.example/r$i/$j")
          val rec =
            if (j % 2 == 0)
              WarcCodec.buildRecord("response", s"<urn:uuid:rv$i-$j>",
                "2026-01-01T00:00:00Z", uri, body.getBytes(utf8))
            else
              WarcCodec.buildRecord("revisit", s"<urn:uuid:rv$i-$j>",
                "2026-01-01T00:00:00Z", uri, Array.emptyByteArray,
                refersTo = Some(s"<urn:uuid:orig-${(i + j) % 4}>"),
                payloadDigest = Some("md5:" +
                  graft.functions.PortableHash.md5Hex(body)))
          GzipCodec.buildMember(rec)
        }
        (s"${i % 2}/${RevisitTree.file(i)}",
          (info +: pages).reduce(_ ++ _))
      }
    }

  /** Revisit-record dedup accounting (ISO 28500 §6.7 — Common Crawl's
    * identical-payload-digest convention): revisit records store NO
    * body, only the digest of the payload an earlier capture already
    * stored; the accounting join resolves each revisit's digest against
    * the stored-response digest catalog to price what deduplication
    * saved. Scale shape: responses reduce scan-side to
    * (host, digest, len) rows — RAW-BYTE digests, the same stance as
    * [[CrawlDelta]] — the digest dimension collapses to ONE row per
    * distinct payload (tiny — that is the premise of payload dedup)
    * and broadcasts onto the revisit rows, so revisit volume never
    * shuffles wide. The oracle replays the planted body-length
    * arithmetic and the even/odd response/revisit split closed-form; a
    * missed digest header, a wrong join, or a revisit counted as
    * stored shifts a byte column.
    */
  object WarcRevisit extends GraftQuery {
    val name = "q_warc_revisit"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      val root = ensureRevisitTree(sfDir)
      // kind 0 = stored response (digest computed from the payload),
      // kind 1 = revisit (digest read from WARC-Payload-Digest)
      val recs = RevisitTree.scan(spark, root)
        .select(col("path"))
        .as[String]
        .flatMap { file =>
          warcRows(file) { (_, r) =>
            val out = Seq.newBuilder[(Int, String, String, Long)]
            r.targetUri.foreach { uri =>
              val host = uri.stripPrefix("http://").takeWhile(_ != '/')
              if (r.warcType == "response") {
                val d = "md5:" +
                  graft.functions.PortableHash.md5Hex(r.payload)
                out += ((0, host, d, r.contentLength.toLong))
              } else if (r.warcType == "revisit")
                r.payloadDigest.foreach(d => out += ((1, host, d, 0L)))
            }
            out.result()
          }
        }
        .toDF("kind", "host", "digest", "len")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val responses = recs.filter(col("kind") === 0)
      // one row per distinct payload — same digest ⇒ same body ⇒ same len
      val catalog = responses.groupBy("digest")
        .agg(max(col("len")).as("orig_len"))
      val revisits = recs.filter(col("kind") === 1)
        .join(broadcast(catalog), Seq("digest"), "left")
      val stored = responses.groupBy("host")
        .agg(count(lit(1)).as("n_responses"),
          sum(col("len")).as("stored_bytes"))
      val saved = revisits.groupBy("host")
        .agg(count(lit(1)).as("n_revisits"),
          sum(coalesce(col("orig_len"), lit(0L))).as("saved_bytes"),
          sum(when(col("orig_len").isNull, 1L).otherwise(0L))
            .as("n_unresolved"))
      stored.join(saved, Seq("host"), "full_outer")
        .select(col("host"),
          coalesce(col("n_responses"), lit(0L)).as("n_responses"),
          coalesce(col("n_revisits"), lit(0L)).as("n_revisits"),
          coalesce(col("stored_bytes"), lit(0L)).as("stored_bytes"),
          coalesce(col("saved_bytes"), lit(0L)).as("saved_bytes"),
          coalesce(col("n_unresolved"), lit(0L)).as("n_unresolved"))
        .orderBy("host")
    }
    val oracle = Some(
      """WITH specs AS (
        |  SELECT i.i AS i, i.i % 8 AS h, 3 + i.i % 3 AS np
        |  FROM unnest(range(0, 24)) i(i)),
        |pages AS (
        |  SELECT h, j.j AS j, 5 + (i + j.j) % 4 AS len
        |  FROM specs, LATERAL unnest(range(0, np)) j(j))
        |SELECT 's' || h || '.example' AS host,
        |       CAST(sum(CASE WHEN j % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_responses,
        |       CAST(sum(CASE WHEN j % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_revisits,
        |       CAST(sum(CASE WHEN j % 2 = 0 THEN len ELSE 0 END) AS BIGINT)
        |         AS stored_bytes,
        |       CAST(sum(CASE WHEN j % 2 = 1 THEN len ELSE 0 END) AS BIGINT)
        |         AS saved_bytes,
        |       CAST(0 AS BIGINT) AS n_unresolved
        |FROM pages GROUP BY h ORDER BY host""".stripMargin)
  }

  private[sources] val RedirectTree = Fixture("redir3", "d", "warc.gz",
    scales = true)

  /** Build (atomically, once per scale factor) the redirect tree: 24
    * `.warc.gz` files (host h = i%8), each carrying the three redirect shapes
    * a real recrawl meets:
    *  - a CHAIN of L = 1+i%3 edges: `/c{i}/{j}` → `/c{i}/{j+1}` (301 on
    *    even j, 302 on odd), terminating at a real 200 page
    *    `/c{i}/{L}`; edge 0's `Location` is spelled
    *    `HTTP://WWW.…?utm_source=z#f` — only a canonicalized target
    *    joins back onto the next hop;
    *  - one CROSS-HOST 301 `/x{i}` → host (h+1)%8's `/y{i}` (the target
    *    page does not exist — a dangling alias);
    *  - for i%4==0, a 2-cycle LOOP `/loop{i}/a` ⇄ `/loop{i}/b` (302s) —
    *    the follow must CAP, not spin.
    */
  private[sources] def ensureRedirectTree(sfDir: String): String =
    // redir -> redir2: edge j=1's Location went relative after the
    // first generation (an existing root is served as is, so a content
    // change needs a new tag).
    // redir2 -> redir3 (third wave): edge j=1's Location is now a
    // RELATIVE-PATH reference with dot segments and edge j=2 is
    // protocol-relative — the two RFC 3986 shapes a "/"-prefix-only
    // resolver mis-handles (it would pass them through as absolute
    // URLs, the chain join keys would never match, and every landed
    // count shifts)
    RedirectTree.tree(sfDir) {
      import graft.multimodal.{GzipCodec, WarcCodec}
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val iso = java.nio.charset.StandardCharsets.ISO_8859_1
      (0 until 24 * mediaScale).iterator.map { i =>
        val h = i % 8
        def resp(id: String, uri: String, status: String,
            extra: String, body: String) =
          GzipCodec.buildMember(WarcCodec.buildRecord(
            "response", s"<urn:uuid:$id>", "2026-01-01T00:00:00Z",
            Some(uri),
            (s"HTTP/1.1 $status\r\nContent-Type: text/html$extra\r\n\r\n")
              .getBytes(iso) ++ body.getBytes(utf8)))
        def redirect(id: String, uri: String, code: Int, loc: String) =
          resp(id, uri, if (code == 301) "301 Moved Permanently"
            else "302 Found", s"\r\nLocation: $loc",
            "<html><body>moved</body></html>")
        val info = GzipCodec.buildMember(WarcCodec.buildRecord(
          "warcinfo", s"<urn:uuid:rd$i>", "2026-01-01T00:00:00Z", None,
          s"software: graft $i".getBytes(utf8)))
        val L = 1 + i % 3
        val chain = (0 until L).map { j =>
          val loc =
            if (j == 0) s"HTTP://WWW.s$h.example/c$i/1?utm_source=z#f"
            else if (j == 1) s"../c$i/./2" // RELATIVE-PATH reference
            // with dot segments (RFC 9110 §10.2.2 allows any
            // URI-reference): resolves against the SOURCE uri
            // /c<i>/1 via §5.2.3 merge + §5.2.4 dot removal → /c<i>/2
            else s"//s$h.example/c$i/${j + 1}" // protocol-relative:
            // a network-path reference takes only the base's scheme
          redirect(s"rd$i-$j", s"http://s$h.example/c$i/$j",
            if (j % 2 == 0) 301 else 302, loc)
        }
        val terminal = resp(s"rd$i-t", s"http://s$h.example/c$i/$L",
          "200 OK", "", s"<html><body><p>landed $i</p></body></html>")
        val cross = redirect(s"rd$i-x", s"http://s$h.example/x$i", 301,
          s"http://s${(h + 1) % 8}.example/y$i")
        val loop =
          if (i % 4 == 0) Seq(
            redirect(s"rd$i-la", s"http://s$h.example/loop$i/a", 302,
              s"http://s$h.example/loop$i/b"),
            redirect(s"rd$i-lb", s"http://s$h.example/loop$i/b", 302,
              s"http://s$h.example/loop$i/a"))
          else Seq.empty
        (s"${i % 2}/${RedirectTree.file(i)}",
          ((Seq(info) ++ chain :+ terminal :+ cross) ++ loop).reduce(_ ++ _))
      }
    }

  /** Redirect targets as frontier edges (round 13) — the stage a real
    * recrawl runs on the 20–30 % of responses that are 3xx: extract
    * (source, `Location`) alias edges (301/302/303/307/308; the
    * `Location` is a URI-reference resolved per RFC 3986 §5.2 against
    * the source uri — [[graft.text.UrlOps.resolve]], so relative-path/
    * dot-segment/protocol-relative spellings all land — then through
    * the FRONTIER canonicalizer: spelling noise on a `Location` must
    * not break the chain), FOLLOW chains to their
    * final target under a 5-hop cap (RFC 9309 §2.3.1.2's redirect
    * bound, the industry-standard follow limit), classify the final
    * target against the crawl's 200 catalog, and report per source
    * host: edge counts by code, cross-host aliases, chains landing on
    * a real page, dangling/looping remainders, and the deepest chain.
    *
    * Scale shape: edges and 200-page nodes reduce scan-side to
    * canonical-URL rows; the follow is FIVE bounded self-joins on the
    * url equi-key (no iteration-to-fixpoint — the cap is the loop
    * bound, so a redirect cycle costs exactly the cap, never a hang);
    * every join is unhinted (the edge table grows with crawl size —
    * AQE broadcasts at fixture scale, shuffles at web scale). The
    * oracle replays chain lengths, hop counts, canonicalized
    * spellings, the loop cap, and the dangling cross-host targets
    * closed-form from (i, j).
    */
  object RedirectMap extends GraftQuery {
    val name = "q_redirect_map"
    private val Codes = Set(301, 302, 303, 307, 308)
    private val MaxHops = 5
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      import graft.text.UrlOps.frontierCanonicalStr
      val root = ensureRedirectTree(sfDir)
      // kind 0 = a landed 200 page (node), kind 1 = a redirect edge
      val recs = RedirectTree.scan(spark, root)
        .select(col("path"))
        .as[String]
        .flatMap { file =>
          warcRows(file) { (_, r) =>
            val out = Seq.newBuilder[(Int, String, String, String, Int)]
            for (uri <- r.targetUri if r.warcType == "response")
              graft.text.HtmlOps.httpParse(r.payload).foreach { msg =>
                val host = uri.stripPrefix("http://").takeWhile(_ != '/')
                if (msg.status == 200)
                  out += ((0, host, frontierCanonicalStr(uri), "", 0))
                else if (Codes(msg.status))
                  graft.text.HtmlOps.location(msg.headers).foreach { loc =>
                    // RFC 9110 §10.2.2: Location is a URI-reference —
                    // full RFC 3986 §5.2 resolution against the source
                    // uri (absolute-path, relative-path with dot
                    // segments, protocol-relative, query-only)
                    val abs = graft.text.UrlOps.resolve(uri, loc)
                    out += ((1, host, frontierCanonicalStr(uri),
                      frontierCanonicalStr(abs), msg.status))
                  }
              }
            out.result()
          }
        }
        .toDF("kind", "host", "src", "dst", "code")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pages = recs.filter(col("kind") === 0)
        .select(col("src").as("page")).distinct()
      val edges = recs.filter(col("kind") === 1)
        .select(col("host"), col("src"), col("dst"), col("code"))
      val hop = edges.select(col("src").as("h_src"), col("dst").as("h_dst"))
      // follow chains: MaxHops-1 bounded self-joins on the url equi-key
      // (hop 1 is the edge itself); a cycle advances until the cap and
      // lands on a non-200 url — bounded cost, no fixpoint iteration
      var cur = edges.select(col("host"), col("src"), col("code"),
        (regexp_extract(col("dst"), "^https?://([^/?]+)", 1) =!= col("host"))
          .as("crossed"),
        col("dst").as("cur"), lit(1).as("hops"))
      for (_ <- 1 until MaxHops) {
        cur = cur.join(hop, cur("cur") === hop("h_src"), "left")
          .select(col("host"), col("src"), col("code"), col("crossed"),
            coalesce(col("h_dst"), col("cur")).as("cur"),
            (col("hops") +
              when(col("h_dst").isNotNull, 1).otherwise(0)).as("hops"))
      }
      val resolved = cur
        .join(pages.withColumn("landed", lit(1)),
          cur("cur") === pages("page"), "left")
      resolved.groupBy("host")
        .agg(count(lit(1)).as("n_redirects"),
          sum(when(col("code") === 301, 1L).otherwise(0L)).as("n_301"),
          sum(when(col("code") === 302, 1L).otherwise(0L)).as("n_302"),
          sum(when(col("crossed"), 1L).otherwise(0L)).as("n_cross_host"),
          sum(when(col("landed").isNotNull, 1L).otherwise(0L))
            .as("n_final_200"),
          sum(when(col("landed").isNull, 1L).otherwise(0L))
            .as("n_unresolved"),
          sum(when(col("hops") >= MaxHops, 1L).otherwise(0L))
            .as("n_capped"),
          max(col("hops")).cast("long").as("max_hops"))
        .orderBy("host")
    }
    val oracle = Some(
      """WITH specs AS (
        |  SELECT i.i AS i, i.i % 8 AS h, 1 + i.i % 3 AS L
        |  FROM unnest(range(0, 24)) i(i)),
        |-- chain edge j of file i resolves in L-j hops onto the 200 page
        |chain AS (
        |  SELECT h, CASE WHEN j.j % 2 = 0 THEN 301 ELSE 302 END AS code,
        |         L - j.j AS hops, TRUE AS resolved, FALSE AS crossed
        |  FROM specs, LATERAL unnest(range(0, L)) j(j)),
        |-- the cross-host alias dangles (its target page never exists)
        |cross_ AS (
        |  SELECT h, 301 AS code, 1 AS hops, FALSE AS resolved,
        |         TRUE AS crossed
        |  FROM specs),
        |-- the 2-cycle advances once per join round until the 5-hop cap
        |loop_ AS (
        |  SELECT h, 302 AS code, 5 AS hops, FALSE AS resolved,
        |         FALSE AS crossed
        |  FROM specs, LATERAL unnest(range(0, 2)) l(l) WHERE i % 4 = 0),
        |edges AS (
        |  SELECT * FROM chain
        |  UNION ALL SELECT * FROM cross_
        |  UNION ALL SELECT * FROM loop_)
        |SELECT 's' || h || '.example' AS host,
        |       CAST(count(*) AS BIGINT) AS n_redirects,
        |       CAST(sum(CASE WHEN code = 301 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_301,
        |       CAST(sum(CASE WHEN code = 302 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_302,
        |       CAST(sum(CASE WHEN crossed THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_cross_host,
        |       CAST(sum(CASE WHEN resolved THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_final_200,
        |       CAST(sum(CASE WHEN NOT resolved THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_unresolved,
        |       CAST(sum(CASE WHEN hops >= 5 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_capped,
        |       CAST(max(hops) AS BIGINT) AS max_hops
        |FROM edges GROUP BY h ORDER BY host""".stripMargin)
  }

  private[sources] val RevalTree = Fixture("reval", "v", "warc.gz",
    scales = true)

  /** Build (atomically, once per scale factor) the revalidation tree: `old/`
    * and `new/` snapshots of 24 `.warc.gz` files (host h = i%8), pages
    * j ∈ [0, 4+i%3) at uri `/v{i}/{j}` stored as HTTP responses.
    * Old page (i, j): body `"b" × (20 + (3i+5j)%40)`, carrying an
    * `ETag` iff (i+j)%3 ≠ 0 (weak `W/"…"` form when (i+j)%7 == 0,
    * lowercase `etag:` header name when (i+j)%5 == 0 — field names
    * are case-insensitive) and a `Last-Modified` iff (i+j)%2 == 0.
    * New page: pages WITH a validator revalidate — `304 Not Modified`
    * (EMPTY body) unless the content changed ((i+j)%4 == 1), which
    * refetches full at body length 20 + (3i+5j+7)%40; validator-less
    * pages always refetch full at the old length. Every column of the
    * accounting row is a pure function of (i, j).
    */
  private[sources] def ensureRevalTree(sfDir: String): String =
    RevalTree.tree(sfDir) {
      import graft.multimodal.{GzipCodec, WarcCodec}
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val iso = java.nio.charset.StandardCharsets.ISO_8859_1
      for {
        snap <- Seq("old", "new").iterator
        i <- (0 until 24 * mediaScale).iterator
      } yield {
        val h = i % 8
        val info = GzipCodec.buildMember(WarcCodec.buildRecord(
          "warcinfo", s"<urn:uuid:rv-$snap-$i>", "2026-01-01T00:00:00Z",
          None, s"software: graft $i".getBytes(utf8)))
        val pages = (0 until 4 + i % 3).map { j =>
          val uri = s"http://s$h.example/v$i/$j"
          val hasEtag = (i + j) % 3 != 0
          val hasLm = (i + j) % 2 == 0
          val etagName = if ((i + j) % 5 == 0) "etag" else "ETag"
          val etagVal =
            (if ((i + j) % 7 == 0) "W/" else "") + s""""e$i-$j""""
          val validators =
            (if (hasEtag) s"\r\n$etagName: $etagVal" else "") +
              (if (hasLm)
                s"\r\nLast-Modified: Thu, 01 Jan 2026 00:00:0${(i + j) % 10} GMT"
              else "")
          val oldLen = 20 + (3 * i + 5 * j) % 40
          val changed = (i + j) % 4 == 1
          val payload =
            if (snap == "old")
              (s"HTTP/1.1 200 OK\r\nContent-Type: text/html$validators" +
                "\r\n\r\n").getBytes(iso) ++
                Array.fill[Byte](oldLen)('b')
            else if ((hasEtag || hasLm) && !changed)
              // conditional GET answered 304: headers only, NO body
              (s"HTTP/1.1 304 Not Modified$validators\r\n\r\n")
                .getBytes(iso)
            else {
              val len = if (changed) 20 + (3 * i + 5 * j + 7) % 40 else oldLen
              ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n")
                .getBytes(iso) ++ Array.fill[Byte](len)('b')
            }
          GzipCodec.buildMember(WarcCodec.buildRecord(
            "response", s"<urn:uuid:rv-$snap-$i-$j>",
            "2026-01-01T00:00:00Z", Some(uri), payload))
        }
        (s"$snap/${i % 2}/${RevalTree.file(i)}",
          (info +: pages).reduce(_ ++ _))
      }
    }

  /** Conditional-GET revalidation accounting (RFC 9110 §13 / §8.8) —
    * the fetch-cost primitive between [[CrawlDelta]] (what changed)
    * and [[RecrawlPlan]] (what to fetch): pages whose previous capture
    * carried a validator (`ETag` → `If-None-Match`, `Last-Modified` →
    * `If-Modified-Since`) revalidate with a header-only `304 Not
    * Modified` instead of a full transfer, and the saving is the
    * previous body's bytes. The query parses validators from the OLD
    * snapshot's stored headers (anchored case-insensitive field
    * matching — weak `W/"…"` ETags are still validators), joins the
    * NEW snapshot's statuses on the uri key, and reports per host:
    * page/validator inventories, 304 vs full-fetch counts, bytes the
    * validators saved vs bytes actually transferred. Scale shape: the
    * same as [[CrawlDelta]] — validator parsing and body measuring run
    * scan-side, the uri-keyed equi-join shuffles only
    * (host, uri, small-ints) rows (bucketing both snapshots by uri
    * makes it shuffle-free at 100 TB), per-host aggregates after. The
    * oracle replays the validator-presence arithmetic, the 304/200
    * branch, and both byte sums closed-form from (i, j).
    */
  object RevalidatePlan extends GraftQuery {
    val name = "q_revalidate_plan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      val root = ensureRevalTree(sfDir)
      def snapshot(snap: String): DataFrame =
        RevalTree.scan(spark, s"$root/$snap")
        .select(col("path"))
        .as[String]
        .flatMap { file =>
          warcRows(file) { (_, r) =>
            for {
              uri <- r.targetUri.toSeq
              if r.warcType == "response"
              msg <- graft.text.HtmlOps.httpParse(r.payload).toSeq
            } yield {
              val host = uri.stripPrefix("http://").takeWhile(_ != '/')
              (host, uri, msg.status,
                graft.text.HtmlOps.etag(msg.headers).isDefined,
                graft.text.HtmlOps.lastModified(msg.headers).isDefined,
                msg.body.length.toLong)
            }
          }
        }
        .toDF("host", "uri", "status", "has_etag", "has_lm", "blen")
      val old = snapshot("old")
        .select(col("host"), col("uri"), col("has_etag"), col("has_lm"),
          col("blen").as("old_len"))
      val neu = snapshot("new")
        .select(col("uri").as("nuri"), col("status").as("nstatus"),
          col("blen").as("new_len"))
      // uri-keyed equi-join, unhinted (both sides grow with the crawl;
      // bucketed-by-uri layout makes this shuffle-free at scale)
      old.join(neu, old("uri") === neu("nuri"), "inner")
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"),
          sum(when(col("has_etag"), 1L).otherwise(0L)).as("n_etag"),
          sum(when(col("has_lm"), 1L).otherwise(0L)).as("n_lastmod"),
          sum(when(col("has_etag") || col("has_lm"), 1L).otherwise(0L))
            .as("n_validator"),
          sum(when(col("nstatus") === 304, 1L).otherwise(0L)).as("n_304"),
          sum(when(col("nstatus") === 200, 1L).otherwise(0L)).as("n_full"),
          sum(when(col("nstatus") === 304, col("old_len")).otherwise(0L))
            .as("saved_bytes"),
          sum(when(col("nstatus") === 200, col("new_len")).otherwise(0L))
            .as("fetched_bytes"))
        .orderBy("host")
    }
    val oracle = Some(
      """WITH specs AS (
        |  SELECT i.i AS i, i.i % 8 AS h, 4 + i.i % 3 AS np
        |  FROM unnest(range(0, 24)) i(i)),
        |pages AS (
        |  SELECT h, i, j.j AS j,
        |         (i + j.j) % 3 <> 0 AS has_etag,
        |         (i + j.j) % 2 = 0 AS has_lm,
        |         20 + (3 * i + 5 * j.j) % 40 AS old_len,
        |         (i + j.j) % 4 = 1 AS changed
        |  FROM specs, LATERAL unnest(range(0, np)) j(j)),
        |acct AS (
        |  SELECT h, has_etag, has_lm,
        |         (has_etag OR has_lm) AND NOT changed AS is304,
        |         old_len,
        |         CASE WHEN changed THEN 20 + (3 * i + 5 * j + 7) % 40
        |              ELSE old_len END AS new_len
        |  FROM pages)
        |SELECT 's' || h || '.example' AS host,
        |       CAST(count(*) AS BIGINT) AS n_pages,
        |       CAST(sum(CASE WHEN has_etag THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_etag,
        |       CAST(sum(CASE WHEN has_lm THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_lastmod,
        |       CAST(sum(CASE WHEN has_etag OR has_lm THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_validator,
        |       CAST(sum(CASE WHEN is304 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_304,
        |       CAST(sum(CASE WHEN is304 THEN 0 ELSE 1 END) AS BIGINT)
        |         AS n_full,
        |       CAST(sum(CASE WHEN is304 THEN old_len ELSE 0 END) AS BIGINT)
        |         AS saved_bytes,
        |       CAST(sum(CASE WHEN is304 THEN 0 ELSE new_len END) AS BIGINT)
        |         AS fetched_bytes
        |FROM acct GROUP BY h ORDER BY host""".stripMargin)
  }

  private[sources] val CanonicalTree = Fixture("canon2", "c", "warc.gz",
    scales = true)

  /** Build (atomically, once per scale factor) the canonical-alias tree: 24
    * `.warc.gz` files over 8 hosts, file i carrying np = 3 + i%3 pages
    * at `/a{i}/{j}` as 200 HTTP responses whose canonical declarations
    * exercise every extraction branch:
    *  - j=0: HTML `<link rel="canonical">` pointing at ITSELF, spelled
    *    with `HTTP://WWW.` + `?utm_source=x` noise (self after the
    *    frontier canonicalizer);
    *  - j=1: single-quoted, attribute-order-reversed HTML link whose
    *    href is the RELATIVE dot-segment reference `../a{i}/./0` — AND
    *    a `<base href="/sub/x/">` element (itself relative), so per
    *    HTML §4.2.3 the declaration resolves to `/sub/a{i}/0`, NOT the
    *    page-uri-relative `/a{i}/0` (a base-blind reader collapses
    *    j=1's target into j=2's group and n_targets/max_group shift);
    *  - j=2: an HTTP `Link` header (RFC 8288) whose SECOND link-value
    *    is `rel="canonical"` (the first is a `rel=preload` decoy),
    *    target spelled protocol-relative — PLUS a conflicting HTML
    *    declaration pointing at `/conflict{i}` that the header must
    *    beat;
    *  - j=3 (np ≥ 4): only a `rel="alternate"` link — NO declaration;
    *  - j=4 (np = 5): a `rel="alternate canonical"` TOKEN-LIST link
    *    with a `#frag`-bearing absolute href;
    *  - i%4=0 files add `/x{i}` declaring a CROSS-HOST canonical at
    *    `http://t{(h+1)%8}.example/hub` (one shared hub per host);
    *  - every file adds a 404 page carrying a declaration that must be
    *    ignored whole (status gate).
    */
  private[sources] def ensureCanonicalTree(sfDir: String): String =
    // canon1 -> canon2: j=1 gained the <base href> element
    CanonicalTree.tree(sfDir) {
      import graft.multimodal.{GzipCodec, WarcCodec}
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val iso = java.nio.charset.StandardCharsets.ISO_8859_1
      (0 until 24 * mediaScale).iterator.map { i =>
        val h = i % 8
        def resp(id: String, uri: String, status: String, extra: String,
            body: String) =
          GzipCodec.buildMember(WarcCodec.buildRecord(
            "response", s"<urn:uuid:$id>", "2026-01-01T00:00:00Z",
            Some(uri),
            (s"HTTP/1.1 $status\r\nContent-Type: text/html$extra\r\n\r\n")
              .getBytes(iso) ++ body.getBytes(utf8)))
        def page(j: Int, extra: String, head: String) =
          resp(s"ca$i-$j", s"http://s$h.example/a$i/$j", "200 OK", extra,
            s"<html><head>$head</head><body><p>d$i/$j</p></body></html>")
        val info = GzipCodec.buildMember(WarcCodec.buildRecord(
          "warcinfo", s"<urn:uuid:ci$i>", "2026-01-01T00:00:00Z", None,
          s"software: graft $i".getBytes(utf8)))
        val np = 3 + i % 3
        val pages = (0 until np).map {
          case 0 => page(0, "",
            s"""<link rel="canonical" href="HTTP://WWW.s$h.example/a$i/0?utm_source=x">""")
          case 1 => page(1, "",
            s"""<base href="/sub/x/"><link href='../a$i/./0' rel='canonical'>""")
          case 2 => page(2,
            s"""\r\nLink: </pre$i>; rel=preload, <//s$h.example/a$i/0>; rel="canonical"""",
            s"""<link rel="canonical" href="/conflict$i">""")
          case 3 => page(3, "",
            s"""<link rel="alternate" href="/alt$i">""")
          case j => page(j, "",
            s"""<link rel="alternate canonical" href="http://s$h.example/a$i/0#frag">""")
        }
        val cross =
          if (i % 4 == 0) Seq(resp(s"ca$i-x", s"http://s$h.example/x$i",
            "200 OK", "",
            s"""<html><head><link rel="canonical" href="http://t${(h + 1) % 8}.example/hub"></head><body>x</body></html>"""))
          else Seq.empty
        val gone = resp(s"ca$i-g", s"http://s$h.example/gone$i",
          "404 Not Found", "",
          s"""<html><head><link rel="canonical" href="/a$i/0"></head><body>gone</body></html>""")
        (s"${i % 2}/${CanonicalTree.file(i)}",
          ((Seq(info) ++ pages ++ cross) :+ gone).reduce(_ ++ _))
      }
    }

  /** `rel=canonical` alias extraction (round-13 third wave) — the
    * OTHER alias signal a dedup pass reads next to redirect chains
    * ([[RedirectMap]]): sites label their duplicate/parameterized/AMP
    * pages with a canonical target, and a corpus pipeline that ignores
    * it keeps every variant. Per 200 HTML page: the declaration comes
    * from the HTTP `Link: <…>; rel="canonical"` header (RFC 8288) with
    * precedence over the HTML `<link rel="canonical">` element (the
    * header survives non-HTML types and is what CDNs inject; the
    * de-facto pipeline rule), resolved as a full RFC 3986 reference
    * against the page uri and collapsed by the frontier canonicalizer.
    * Per host: page/declaration/header counts, self-canonical vs alias
    * split, cross-host aliases, distinct alias targets, and the
    * largest alias group — the collapse a dedup pass would apply.
    *
    * Scale shape: declaration parse + resolution are scan-side
    * per-record; the only shuffles are the per-(host, target) alias
    * group reduce and the per-host rollup — both partial-aggregated
    * map-side, the same growth law as `q_html_link_graph`. No joins
    * against O(pages) frames; the tstats join is per-host. The oracle
    * replays every branch — header precedence, the rel token-list,
    * dot-segment resolution, the hub fan-in — closed-form from (i, j).
    */
  object CanonicalAlias extends GraftQuery {
    val name = "q_canonical_alias"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      import graft.text.UrlOps.frontierCanonicalStr
      val root = ensureCanonicalTree(sfDir)
      val pages = CanonicalTree.scan(spark, root)
        .select(col("path"))
        .as[String]
        .flatMap { file =>
          warcRows(file) { (_, r) =>
            val out = Seq.newBuilder[(String, String, Boolean, String)]
            for (uri <- r.targetUri if r.warcType == "response")
              graft.text.HtmlOps.httpParse(r.payload)
                .filter(_.status == 200).foreach { msg =>
                  val at = uri.indexOf("://")
                  val host = (if (at < 0) uri else uri.substring(at + 3))
                    .takeWhile(_ != '/')
                  val html = new String(msg.body,
                    java.nio.charset.StandardCharsets.UTF_8)
                  val declH =
                    graft.text.HtmlOps.linkHeaderCanonical(msg.headers)
                  val decl =
                    declH.orElse(graft.text.HtmlOps.canonicalLink(html))
                  // an HTML declaration resolves against the document
                  // base (<base href>, HTML §4.2.3 — itself resolved
                  // against the page uri); a header declaration's
                  // context is the page uri (RFC 8288 §3.1)
                  val base =
                    if (declH.isDefined) uri
                    else graft.text.HtmlOps.baseHref(html)
                      .map(b => graft.text.UrlOps.resolve(uri, b))
                      .getOrElse(uri)
                  val target = decl.map(d => frontierCanonicalStr(
                    graft.text.UrlOps.resolve(base, d))).getOrElse("")
                  out += ((host, frontierCanonicalStr(uri),
                    declH.isDefined, target))
                }
            out.result()
          }
        }
        .toDF("host", "page", "hdr", "target")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val isAlias = col("target") =!= "" && col("target") =!= col("page")
      val stats = pages.groupBy("host").agg(
        count(lit(1)).as("n_pages"),
        sum(when(col("target") =!= "", 1L).otherwise(0L)).as("n_decl"),
        sum(when(col("hdr"), 1L).otherwise(0L)).as("n_hdr"),
        sum(when(col("target") === col("page"), 1L).otherwise(0L))
          .as("n_self"),
        sum(when(isAlias, 1L).otherwise(0L)).as("n_alias"),
        sum(when(isAlias &&
          regexp_extract(col("target"), "^https?://([^/?]+)", 1) =!=
            col("host"), 1L).otherwise(0L)).as("n_cross_host"))
      val groups = pages.filter(isAlias)
        .groupBy("host", "target").agg(count(lit(1)).as("g"))
      val tstats = groups.groupBy("host")
        .agg(count(lit(1)).as("n_targets"), max(col("g")).as("max_group"))
      stats.join(tstats, Seq("host"), "left")
        .select(col("host"), col("n_pages"), col("n_decl"), col("n_hdr"),
          col("n_self"), col("n_alias"), col("n_cross_host"),
          coalesce(col("n_targets"), lit(0L)).as("n_targets"),
          coalesce(col("max_group"), lit(0L)).as("max_group"))
        .orderBy("host")
    }
    val oracle = Some(
      """WITH specs AS (
        |  SELECT i.i AS i, i.i % 8 AS h, 3 + i.i % 3 AS np
        |  FROM unnest(range(0, 24)) i(i)),
        |-- per file: j0 self, j1 dot-segment alias, j2 header-beats-html
        |-- alias, j3 (np>=4) no declaration, j4 (np=5) token-list alias,
        |-- i%4=0 adds the cross-host hub page; the 404 page never counts
        |perfile AS (
        |  SELECT h,
        |         np + CASE WHEN i % 4 = 0 THEN 1 ELSE 0 END AS n_pages,
        |         3 + CASE WHEN np = 5 THEN 1 ELSE 0 END
        |           + CASE WHEN i % 4 = 0 THEN 1 ELSE 0 END AS n_decl,
        |         1 AS n_hdr,
        |         1 AS n_self,
        |         CASE WHEN i % 4 = 0 THEN 1 ELSE 0 END AS n_cross
        |  FROM specs),
        |aliases AS (
        |  -- j=1 resolves via the <base href> onto /sub/a{i}/0 (its own
        |  -- target); j=2 (+j=4 when np=5) onto /a{i}/0; i%4=0 adds the
        |  -- shared cross-host hub
        |  SELECT h, '/sub/a' || i || '/0' AS tgt, 1 AS g FROM specs
        |  UNION ALL
        |  SELECT h, '/a' || i || '/0' AS tgt,
        |         1 + CASE WHEN np = 5 THEN 1 ELSE 0 END AS g
        |  FROM specs
        |  UNION ALL
        |  SELECT h, 'hub', 1 FROM specs WHERE i % 4 = 0),
        |groups AS (
        |  SELECT h, tgt, sum(g) AS g FROM aliases GROUP BY 1, 2),
        |tstats AS (
        |  SELECT h, count(*) AS n_targets, max(g) AS max_group
        |  FROM groups GROUP BY 1)
        |SELECT 's' || p.h || '.example' AS host,
        |       CAST(sum(n_pages) AS BIGINT) AS n_pages,
        |       CAST(sum(n_decl) AS BIGINT) AS n_decl,
        |       CAST(sum(n_hdr) AS BIGINT) AS n_hdr,
        |       CAST(sum(n_self) AS BIGINT) AS n_self,
        |       CAST(sum(n_decl - n_self) AS BIGINT) AS n_alias,
        |       CAST(sum(n_cross) AS BIGINT) AS n_cross_host,
        |       CAST(max(t.n_targets) AS BIGINT) AS n_targets,
        |       CAST(max(t.max_group) AS BIGINT) AS max_group
        |FROM perfile p JOIN tstats t ON t.h = p.h
        |GROUP BY p.h ORDER BY host""".stripMargin)
  }

  private[sources] val BackoffTree = Fixture("backoff1", "b", "warc.gz",
    scales = true)

  /** Build (atomically, once per scale factor) the throttle tree: 24
    * `.warc.gz` files over 8 hosts, file i holding 5 + i%3 fetches at
    * `/b{i}/{j}`, every response carrying `Date: Thu, 01 Jan 2026 00:00:00
    * GMT` (the RFC 9110 §10.2.3 anchor). By j%5:
    *  - 0 → 200 OK (no throttle);
    *  - 1 → 429 with DELTA-form `Retry-After: (3i+7j)%50`;
    *  - 2 → 503 with HTTP-DATE-form `Retry-After` at Date +
    *    60+(i+j)%30 s (IMF-fixdate);
    *  - 3 → 503 with NO Retry-After (server says nothing — the
    *    default-backoff class);
    *  - 4 → 429 with the junk value `soon` (unparseable → same class
    *    as absent, fail open to the default).
    */
  private[sources] def ensureBackoffTree(sfDir: String): String =
    BackoffTree.tree(sfDir) {
      import graft.multimodal.{GzipCodec, WarcCodec}
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val iso = java.nio.charset.StandardCharsets.ISO_8859_1
      (0 until 24 * mediaScale).iterator.map { i =>
        val h = i % 8
        def resp(j: Int, status: String, extra: String) =
          GzipCodec.buildMember(WarcCodec.buildRecord(
            "response", s"<urn:uuid:bo$i-$j>", "2026-01-01T00:00:00Z",
            Some(s"http://s$h.example/b$i/$j"),
            (s"HTTP/1.1 $status\r\nContent-Type: text/html" +
              "\r\nDate: Thu, 01 Jan 2026 00:00:00 GMT" +
              s"$extra\r\n\r\n").getBytes(iso) ++
              s"<html><body>b$i/$j</body></html>".getBytes(utf8)))
        val info = GzipCodec.buildMember(WarcCodec.buildRecord(
          "warcinfo", s"<urn:uuid:bi$i>", "2026-01-01T00:00:00Z", None,
          s"software: graft $i".getBytes(utf8)))
        val recs = (0 until 5 + i % 3).map { j =>
          j % 5 match {
            case 0 => resp(j, "200 OK", "")
            case 1 => resp(j, "429 Too Many Requests",
              s"\r\nRetry-After: ${(3 * i + 7 * j) % 50}")
            case 2 =>
              val s = 60 + (i + j) % 30
              resp(j, "503 Service Unavailable",
                f"\r\nRetry-After: Thu, 01 Jan 2026 00:${s / 60}%02d:${s % 60}%02d GMT")
            case 3 => resp(j, "503 Service Unavailable", "")
            case _ => resp(j, "429 Too Many Requests",
              "\r\nRetry-After: soon")
          }
        }
        (s"${i % 2}/${BackoffTree.file(i)}",
          (info +: recs).reduce(_ ++ _))
      }
    }

  /** Throttle/backoff accounting (round-13 third wave) — the input a
    * politeness scheduler reads from the LAST crawl before planning the
    * next: which hosts rate-limited us (429) or shed load (503), what
    * backoff did they ask for (`Retry-After`, RFC 9110 §10.2.3 — the
    * delta-seconds form verbatim, the HTTP-date form anchored to the
    * response's own `Date` header per the spec, clamped at 0), and how
    * often did they throttle WITHOUT a usable value (absent or junk —
    * the class the scheduler's default backoff covers). Complements
    * [[FetchSchedule]]: `Crawl-delay` is the host's standing request,
    * `Retry-After` is its live pushback.
    *
    * Scale shape: pure scan-side header parse + one map-side-combined
    * per-host rollup — no joins, the same growth law as the per-asset
    * scans. The oracle replays status, both value forms (including the
    * date arithmetic), and the junk/absent classes closed-form from
    * (i, j).
    */
  object BackoffPlan extends GraftQuery {
    val name = "q_backoff_plan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      val root = ensureBackoffTree(sfDir)
      BackoffTree.scan(spark, root)
        .select(col("path"))
        .as[String]
        .flatMap { file =>
          warcRows(file) { (_, r) =>
            val out = Seq.newBuilder[(String, Int, Long, Boolean)]
            for (uri <- r.targetUri if r.warcType == "response")
              graft.text.HtmlOps.httpParse(r.payload).foreach { msg =>
                val at = uri.indexOf("://")
                val host = (if (at < 0) uri else uri.substring(at + 3))
                  .takeWhile(_ != '/')
                val backoff = graft.text.HtmlOps.retryAfter(msg.headers)
                  .flatMap {
                    case Left(delta) => Some(delta)
                    case Right(epoch) =>
                      // date form: relative to the response's own Date
                      // header; without one the value is unusable
                      graft.text.HtmlOps.httpDate(msg.headers)
                        .map(d => math.max(0L, epoch - d))
                  }
                val dateForm = graft.text.HtmlOps.retryAfter(msg.headers)
                  .exists(_.isRight) && backoff.isDefined
                out += ((host, msg.status, backoff.getOrElse(-1L), dateForm))
              }
            out.result()
          }
        }
        .toDF("host", "status", "backoff", "date_form")
        .groupBy("host")
        .agg(count(lit(1)).as("n_fetches"),
          sum(when(col("status") === 429, 1L).otherwise(0L)).as("n_429"),
          sum(when(col("status") === 503, 1L).otherwise(0L)).as("n_503"),
          sum(when(col("backoff") >= 0, 1L).otherwise(0L)).as("n_backoff"),
          sum(when(col("date_form"), 1L).otherwise(0L)).as("n_date_form"),
          sum(when((col("status") === 429 || col("status") === 503) &&
            col("backoff") < 0, 1L).otherwise(0L)).as("n_missing"),
          max(when(col("backoff") >= 0, col("backoff")))
            .cast("long").as("max_backoff_s"),
          sum(when(col("backoff") >= 0, col("backoff")).otherwise(0L))
            .as("sum_backoff_s"))
        .orderBy("host")
    }
    val oracle = Some(
      """WITH specs AS (
        |  SELECT i.i AS i, i.i % 8 AS h, 5 + i.i % 3 AS nf
        |  FROM unnest(range(0, 24)) i(i)),
        |fetches AS (
        |  SELECT h, j.j AS j, j.j % 5 AS cls,
        |         CASE WHEN j.j % 5 = 1 THEN (3 * i + 7 * j.j) % 50
        |              WHEN j.j % 5 = 2 THEN 60 + (i + j.j) % 30
        |              ELSE -1 END AS backoff
        |  FROM specs, LATERAL unnest(range(0, nf)) j(j))
        |SELECT 's' || h || '.example' AS host,
        |       CAST(count(*) AS BIGINT) AS n_fetches,
        |       CAST(sum(CASE WHEN cls IN (1, 4) THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_429,
        |       CAST(sum(CASE WHEN cls IN (2, 3) THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_503,
        |       CAST(sum(CASE WHEN backoff >= 0 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_backoff,
        |       CAST(sum(CASE WHEN cls = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_date_form,
        |       CAST(sum(CASE WHEN cls IN (3, 4) THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_missing,
        |       CAST(max(CASE WHEN backoff >= 0 THEN backoff END)
        |         AS BIGINT) AS max_backoff_s,
        |       CAST(sum(CASE WHEN backoff >= 0 THEN backoff ELSE 0 END)
        |         AS BIGINT) AS sum_backoff_s
        |FROM fetches GROUP BY h ORDER BY host""".stripMargin)
  }

  private[sources] val HreflangTree = Fixture("href2", "h", "warc.gz",
    scales = true)

  /** Build (atomically, once per scale factor) the hreflang tree: 24
    * `.warc.gz` files over 8 hosts, file i publishing one language CLUSTER of
    * L = 2 + i%3 editions at `/{lang}/c{i}` (langs en/fr/de/es), each
    * edition declaring the FULL set (self included — the protocol's
    * prescription) as `<link rel="alternate" hreflang href>`. Edition
    * 0 additionally declares an `x-default` self-alternate and a
    * DANGLING `pt` alternate at `/gone{i}` (never crawled); a `/solo{i}`
    * page declares a one-way `en` alternate into edition 0 (crawled
    * but never reciprocated — the protocol violation a QA pass must
    * surface, distinct from dangling); solo also carries a
    * rel=alternate RSS link WITHOUT hreflang that must not count; a
    * 404 page carries declarations that must be ignored whole.
    *
    * Round 14 (href1 → href2): each file also plants a reciprocal
    * CHAIN `/ch{i}/a ↔ /ch{i}/b ↔ /ch{i}/c` (no a↔c edge, no self
    * declarations) — the partial-annotation topology real hreflang
    * graphs exhibit constantly, where every edge is reciprocal yet
    * the cluster is NOT a clique. A one-hop `least(self, min
    * neighbor)` group id splits {a,b},{c}; only a true connected
    * components finds the single 3-edition group.
    */
  private[sources] def ensureHreflangTree(sfDir: String): String =
    HreflangTree.tree(sfDir) {
      import graft.multimodal.{GzipCodec, WarcCodec}
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val iso = java.nio.charset.StandardCharsets.ISO_8859_1
      val langs = Seq("en", "fr", "de", "es")
      (0 until 24 * mediaScale).iterator.map { i =>
        val h = i % 8
        def resp(id: String, uri: String, status: String, body: String) =
          GzipCodec.buildMember(WarcCodec.buildRecord(
            "response", s"<urn:uuid:$id>", "2026-01-01T00:00:00Z",
            Some(uri),
            (s"HTTP/1.1 $status\r\nContent-Type: text/html\r\n\r\n")
              .getBytes(iso) ++ body.getBytes(utf8)))
        val L = 2 + i % 3
        def alt(lang: String, href: String) =
          s"""<link rel="alternate" hreflang="$lang" href="$href">"""
        val cluster = (0 until L).map { k =>
          val decls = (0 until L).map(m =>
            alt(langs(m), s"http://s$h.example/${langs(m)}/c$i")).mkString
          val extra =
            if (k == 0)
              alt("x-default", s"http://s$h.example/${langs(0)}/c$i") +
                alt("pt", s"http://s$h.example/gone$i")
            else ""
          resp(s"hf$i-$k", s"http://s$h.example/${langs(k)}/c$i", "200 OK",
            s"<html><head>$decls$extra</head><body>c$i/$k</body></html>")
        }
        val solo = resp(s"hf$i-s", s"http://s$h.example/solo$i", "200 OK",
          "<html><head>" +
            alt("en", s"http://s$h.example/${langs(0)}/c$i") +
            s"""<link rel="alternate" type="application/rss+xml" href="/feed$i">""" +
            "</head><body>solo</body></html>")
        // the reciprocal chain: a↔b, b↔c, NO a↔c, no self declarations
        def chp(k: String) = s"http://s$h.example/ch$i/$k"
        val chain = Seq(
          resp(s"hf$i-ca", chp("a"), "200 OK",
            s"<html><head>${alt("en", chp("b"))}</head><body>a</body></html>"),
          resp(s"hf$i-cb", chp("b"), "200 OK",
            s"<html><head>${alt("fr", chp("a"))}${alt("de", chp("c"))}" +
              "</head><body>b</body></html>"),
          resp(s"hf$i-cc", chp("c"), "200 OK",
            s"<html><head>${alt("fr", chp("b"))}</head><body>c</body></html>"))
        val gone = resp(s"hf$i-g", s"http://s$h.example/404_$i",
          "404 Not Found",
          "<html><head>" + alt("en", s"http://s$h.example/${langs(0)}/c$i") +
            "</head><body>gone</body></html>")
        val info = GzipCodec.buildMember(WarcCodec.buildRecord(
          "warcinfo", s"<urn:uuid:hi$i>", "2026-01-01T00:00:00Z", None,
          s"software: graft $i".getBytes(utf8)))
        (s"${i % 2}/${HreflangTree.file(i)}",
          ((info +: cluster) ++ chain ++ Seq(solo, gone)).reduce(_ ++ _))
      }
    }

  /** hreflang edition-cluster audit (round-13 third wave) — the
    * multilingual grouping signal a corpus pipeline uses for
    * language-balanced sampling and cross-language dedup, plus the QA
    * a crawl runs on it: hreflang annotations MUST be reciprocal
    * (Google's documented rule — a one-way edge is ignored by
    * consumers), so the per-host row splits edges into reciprocal /
    * one-way (target crawled, never reciprocated) / dangling (target
    * not crawled), counts self-references and `x-default` routing
    * entries, and reports the reciprocal edition groups (count, max
    * size, distinct languages). Group ids are TRUE connected
    * components of the reciprocal edge set via
    * [[graft.dedup.StarComponents]] (round 14 — the one-hop
    * `least(self, min neighbor)` id was exact only for the clique
    * topology the protocol prescribes and silently SPLIT reciprocal
    * chains, which real partial-annotation hreflang graphs exhibit
    * constantly; the fixture now plants one chain per file and the
    * oracle counts its single 3-edition group).
    *
    * Scale shape: declaration parse + resolution scan-side; the
    * reciprocity check is ONE unhinted self-join of the edge table on
    * the reversed pair key and one unhinted join against the crawled
    * page set — both linear in edges, shuffling on (src, dst) keys;
    * group stats are two map-side-combined reduces. The oracle replays
    * cliques, the one-way edge, the dangling target, x-default, and
    * the language inventory closed-form from (i, L).
    */
  object HreflangGroups extends GraftQuery {
    val name = "q_hreflang_groups"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      import graft.text.UrlOps.frontierCanonicalStr
      val root = ensureHreflangTree(sfDir)
      val recs = HreflangTree.scan(spark, root)
        .select(col("path"))
        .as[String]
        .flatMap { file =>
          warcRows(file) { (_, r) =>
            val out = Seq.newBuilder[(Int, String, String, String, String)]
            for (uri <- r.targetUri if r.warcType == "response")
              graft.text.HtmlOps.httpParse(r.payload)
                .filter(_.status == 200).foreach { msg =>
                  val at = uri.indexOf("://")
                  val host = (if (at < 0) uri else uri.substring(at + 3))
                    .takeWhile(_ != '/')
                  val html = new String(msg.body,
                    java.nio.charset.StandardCharsets.UTF_8)
                  val page = frontierCanonicalStr(uri)
                  out += ((0, host, page, "", ""))
                  graft.text.HtmlOps.hreflangLinks(html).foreach {
                    case (lang, href) =>
                      val dst = frontierCanonicalStr(
                        graft.text.UrlOps.resolve(uri, href))
                      out += ((1, host, page, dst, lang))
                  }
                }
            out.result()
          }
        }
        .toDF("kind", "host", "a", "b", "lang")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val edges = recs.filter(col("kind") === 1)
        .select(col("host"), col("a").as("src"), col("b").as("dst"),
          col("lang"))
      val ns = edges.filter(col("src") =!= col("dst"))
      // one distinct straight off the page rows (r15 — the old spelling
      // distinct-ed (host, url) first and url again on top: two exchanges
      // for one crawled-URL set)
      val crawled = recs.filter(col("kind") === 0)
        .select(col("a").as("p_url")).distinct()
        .withColumn("crawled", lit(1))
      val rev = ns.select(col("dst").as("v_src"), col("src").as("v_dst"))
        .distinct().withColumn("has_back", lit(1))
      // both joins unhinted: edges and pages grow with the crawl
      // persisted (r15): cls has FOUR consumers — cstats, the CC's
      // measured edge count, the CC edge collect/loop input, and the
      // group-member readout — and each re-ran the two reciprocity joins
      // (the round-14 verdict's q_hreflang_groups finding: the residual
      // cost was the edge build, re-paid per consumer, not the CC
      // itself). Caller-owned lifecycle: the bench/Verify harness clears
      // caches after every query; long-lived sessions composing this
      // operator own the unpersist.
      val cls = ns
        .join(crawled, ns("dst") === crawled("p_url"), "left")
        .join(rev, ns("src") === rev("v_src") && ns("dst") === rev("v_dst"),
          "left")
        .select(col("host"), col("src"), col("dst"), col("lang"),
          when(col("has_back").isNotNull, "recip")
            .when(col("crawled").isNotNull, "oneway")
            .otherwise("dangling").as("state"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val estats = edges.groupBy("host").agg(
        sum(when(col("src") =!= col("dst"), 1L).otherwise(0L)).as("n_edges"),
        sum(when(col("src") === col("dst"), 1L).otherwise(0L)).as("n_self"),
        sum(when(col("lang") === "x-default", 1L).otherwise(0L))
          .as("n_xdefault"),
        countDistinct(when(col("lang") =!= "x-default", col("lang")))
          .as("n_langs"))
      val cstats = cls.groupBy("host").agg(
        sum(when(col("state") === "recip", 1L).otherwise(0L))
          .as("n_reciprocal"),
        sum(when(col("state") === "oneway", 1L).otherwise(0L))
          .as("n_oneway"),
        sum(when(col("state") === "dangling", 1L).otherwise(0L))
          .as("n_dangling"))
      val pstats = recs.filter(col("kind") === 1)
        .groupBy("host").agg(countDistinct(col("a")).as("n_pages"))
      // true CC over the reciprocal edges (log-round star contraction —
      // the same O(log n) machinery as the dedup clusters); labels are
      // global, then members re-keyed to their host for the per-host
      // stats (a cross-host edition group counts in each host it touches)
      val recipPairs = cls.filter(col("state") === "recip")
        .select(col("src").as("doc_a"), col("dst").as("doc_b"))
      val labels = graft.dedup.StarComponents.starComponents(recipPairs)
      val gids = cls.filter(col("state") === "recip")
        .select(col("host"), col("src").as("member")).distinct()
        .join(labels, col("member") === col("id"))
        .select(col("host"), col("member"), col("label").as("gid"))
      val gstats = gids.groupBy("host", "gid")
        .agg(countDistinct(col("member")).as("sz"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_groups"), max(col("sz")).as("max_group"))
      pstats
        .join(estats, Seq("host"))
        .join(cstats, Seq("host"))
        .join(gstats, Seq("host"), "left")
        .select(col("host"), col("n_pages"), col("n_edges"), col("n_self"),
          col("n_reciprocal"), col("n_oneway"), col("n_dangling"),
          col("n_xdefault"), col("n_langs"),
          coalesce(col("n_groups"), lit(0L)).as("n_groups"),
          coalesce(col("max_group"), lit(0L)).as("max_group"))
        .orderBy("host")
    }
    val oracle = Some(
      """WITH specs AS (
        |  SELECT i.i AS i, i.i % 8 AS h, 2 + i.i % 3 AS L
        |  FROM unnest(range(0, 24)) i(i)),
        |-- per file: L editions (each declaring all L incl. self), the
        |-- 3-page reciprocal chain a↔b↔c (4 edges, no selfs, one CC
        |-- group), and the solo one-way page; edition 0 adds an
        |-- x-default self and a dangling pt target; the 404 page's
        |-- declarations never count
        |perfile AS (
        |  SELECT h, L,
        |         L + 4 AS n_pages,
        |         L * (L - 1) + 6 AS n_edges,
        |         L + 1 AS n_self,
        |         L * (L - 1) + 4 AS n_recip
        |  FROM specs)
        |SELECT 's' || h || '.example' AS host,
        |       CAST(sum(n_pages) AS BIGINT) AS n_pages,
        |       CAST(sum(n_edges) AS BIGINT) AS n_edges,
        |       CAST(sum(n_self) AS BIGINT) AS n_self,
        |       CAST(sum(n_recip) AS BIGINT) AS n_reciprocal,
        |       CAST(count(*) AS BIGINT) AS n_oneway,
        |       CAST(count(*) AS BIGINT) AS n_dangling,
        |       CAST(count(*) AS BIGINT) AS n_xdefault,
        |       -- langs = en..(max L) + the dangling pt
        |       CAST(max(L) + 1 AS BIGINT) AS n_langs,
        |       -- one clique group + one chain group per file
        |       CAST(2 * count(*) AS BIGINT) AS n_groups,
        |       CAST(max(L) AS BIGINT) AS max_group
        |FROM perfile GROUP BY h ORDER BY host""".stripMargin)
  }

  val all: Seq[GraftQuery] =
    Seq(SitemapFrontier, CrawlDelta, FetchSchedule, WarcRevisit, RecrawlPlan,
      RedirectMap, RevalidatePlan, CanonicalAlias, BackoffPlan,
      HreflangGroups)
}
