package graft.sources

import graft.{Graft, GraftQuery}
import graft.images.ImageOps
import graft.multimodal.TiffCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SourceQueries.{Fixture, mediaScale}

/** Audio-family fixture trees and decode-under-hash-gate scans
  * (FLAC, IMA ADPCM, G.711, AIFF, MP3 frame-walk metadata).
  * Split from SourceQueries.scala (round 10) - mechanical move, no
  * behavior change; fixture dirs and oracle SQL are byte-identical.
  */
object AudioSourceQueries {

  private[sources] val FlacTree = Fixture("flac", "a", "flac", scales = true)

  /** Build (atomically, once per scale factor) the FLAC fixture tree: 24 mono
    * 16-bit clips whose PCM is a pure function of the asset index —
    * s(i, t) = ((37·i + 13·t) mod 65536) − 32768, n = 5000 + 171·i samples
    * at rate 8000 + 100·i — encoded by [[graft.multimodal.FlacCodec]]
    * (deterministic subset encoder: fixed predictors, Rice residuals,
    * real CRC-8/16 framing). Multi-block with a short 16-bit-coded last
    * block on every asset (n is never a multiple of 4096).
    */
  private[sources] def ensureFlacTree(sfDir: String): String =
    FlacTree.tree(sfDir) {
      (0 until 24 * mediaScale).iterator.map { i =>
        val n = 5000 + 171 * i
        val pcm = Array.tabulate(n)(t => ((i * 37 + t * 13) % 65536) - 32768)
        (s"${i % 2}/${i % 3}/${i % 4}/${FlacTree.file(i)}",
          graft.multimodal.FlacCodec.encode(8000 + 100 * i, Array(pcm)))
      }
    }

  /** Compressed-audio decode under the hash gate: binary scan of the FLAC
    * fixture tree, decoded by the pure-JVM [[graft.multimodal.FlacCodec]]
    * (RFC 9639 — fixed-predictor reconstruction, Rice residuals, CRC-8/16
    * validation; a REAL compressed codec, not a header peek), reduced to
    * exact integer per-clip aggregates. FLAC is lossless integer coding,
    * so the oracle replays the expected samples in CLOSED FORM from the
    * filename index — a hash match proves decode(encode(pcm)) == pcm
    * end-to-end through real files and a real binary source — while
    * `read_blob` pins byte identity (n_bytes + 8-byte hex prefix), the
    * same stance as `q_binary_scan`/`q_binary_twotone` for PNG. This
    * closes the "compressed audio is a stand-in" gap: flac payloads now
    * run a real decode (mp3 remains the documented fake+strict seam).
    */
  object FlacScan extends GraftQuery {
    val name = "q_flac_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      FlacTree.assets(spark, ensureFlacTree(sfDir))
        .mapPartitions { it =>
          it.flatMap { case (idx, content) =>
            graft.multimodal.FlacCodec.decode(content).map { pcm =>
              val s = pcm.channels(0)
              var sum = 0L
              var mn = Int.MaxValue
              var mx = Int.MinValue
              s.foreach { v => sum += v; if (v < mn) mn = v; if (v > mx) mx = v }
              (idx, pcm.sampleRate.toLong, s.length.toLong, sum,
                mn.toLong, mx.toLong, content.length.toLong,
                Sources.headHex(content))
            }
          }
        }
        .toDF("asset_idx", "sample_rate", "n_samples", "sum_samples",
          "min_sample", "max_sample", "n_bytes", "head_hex")
        .orderBy("asset_idx")
    }
    val oracle = Some(
      s"""WITH f AS (${FlacTree.blobRows(8)}),
        |s AS (
        |  SELECT asset_idx, n_bytes, head_hex,
        |         8000 + 100 * asset_idx AS sample_rate,
        |         5000 + 171 * asset_idx AS n
        |  FROM f),
        |p AS (
        |  SELECT asset_idx, ((asset_idx * 37 + t.t * 13) % 65536) - 32768 AS v
        |  FROM s, LATERAL unnest(range(0, n)) t(t)),
        |a AS (
        |  SELECT asset_idx, count(*) AS n_samples,
        |         CAST(sum(v) AS BIGINT) AS sum_samples,
        |         min(v) AS min_sample, max(v) AS max_sample
        |  FROM p GROUP BY 1)
        |SELECT s.asset_idx, s.sample_rate, a.n_samples, a.sum_samples,
        |       a.min_sample, a.max_sample, s.n_bytes, s.head_hex
        |FROM s JOIN a USING (asset_idx)
        |ORDER BY s.asset_idx""".stripMargin)
  }

  private[sources] val AdpcmTree = Fixture("adpcm", "p", "wav", scales = false)

  /** Build (atomically, once per scale factor) the IMA ADPCM fixture tree: 24
    * mono WAV files (format tag 0x11, blockAlign 256 ⇒ 505 samples/block,
    * step index carried across blocks, `fact` chunk with the exact count)
    * whose input PCM is a pure function of the asset index —
    * s(i, t) = ((31·i + 7·t²) mod 8192) − 4096, n = 1200 + 37·i samples at
    * rate 8000 + 25·i — encoded by [[graft.multimodal.AdpcmCodec]]. Every
    * file spans ≥ 3 blocks with a short last block (n is never ≡ 0 mod
    * 505), so header re-sync, index carry, and the odd-nibble tail are all
    * exercised.
    */
  private[sources] def ensureAdpcmTree(sfDir: String): String =
    AdpcmTree.tree(sfDir) {
      (0 until 24).iterator.map { i =>
        val n = 1200 + 37 * i
        val pcm = Array.tabulate(n)(t => ((i * 31 + 7 * t * t) % 8192) - 4096)
        (s"${i % 2}/${i % 3}/${AdpcmTree.file(i)}",
          graft.multimodal.AdpcmCodec.encodeImaWav(8000 + 25 * i, pcm))
      }
    }

  /** Adaptive-codec decode under the hash gate: binary scan of the IMA
    * ADPCM fixture tree, decoded by the pure-JVM
    * [[graft.multimodal.AdpcmCodec]] (IMA/DVI 4-bit adaptive step codec —
    * 89-entry step table, successive-approximation quantizer, per-block
    * header resync — a REAL lossy compressed codec, not a header peek),
    * reduced to exact integer per-clip aggregates of the DECODED samples.
    * ADPCM is lossy but its state machine is pure integer arithmetic, so
    * the oracle replays the ENTIRE encoder+decoder recursion per sample
    * in a recursive CTE (step table as a list literal, block-boundary
    * header resets included) — a hash match proves the Scala codec and
    * the spec-derived SQL replay reconstruct bit-identical waveforms —
    * while `read_blob` pins byte identity, the same stance as
    * `q_flac_scan`. After this row, compressed WAV audio (ADPCM + G.711)
    * decodes for real; only perceptual codecs (mp3/AAC) remain the
    * documented fake+strict seam.
    */
  object AdpcmScan extends GraftQuery {
    val name = "q_adpcm_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      AdpcmTree.assets(spark, ensureAdpcmTree(sfDir))
        .mapPartitions { it =>
          it.flatMap { case (idx, content) =>
            graft.multimodal.AdpcmCodec.decodePcm(content).map { pcm =>
              val s = pcm.samples
              var sum = 0L
              var mn = Int.MaxValue
              var mx = Int.MinValue
              s.foreach { v => sum += v; if (v < mn) mn = v; if (v > mx) mx = v }
              (idx, pcm.sampleRate.toLong, s.length.toLong, sum,
                mn.toLong, mx.toLong, content.length.toLong,
                Sources.headHex(content))
            }
          }
        }
        .toDF("asset_idx", "sample_rate", "n_samples", "sum_samples",
          "min_sample", "max_sample", "n_bytes", "head_hex")
        .orderBy("asset_idx")
    }
    // The recursive CTE carries (predictor, stepIndex) per
    // asset exactly as the IMA spec does; sample t = 0 mod 505 is a block
    // header (verbatim sample, index carried).
    val oracle = Some(
      s"""WITH RECURSIVE f AS (${AdpcmTree.blobRows(8)}),
        |s AS (
        |  SELECT asset_idx, n_bytes, head_hex,
        |         8000 + 25 * asset_idx AS sample_rate,
        |         1200 + 37 * asset_idx AS n
        |  FROM f),
        |tbl AS (
        |  SELECT [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,
        |          50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,
        |          230,253,279,307,337,371,408,449,494,544,598,658,724,796,
        |          876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,
        |          2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,
        |          7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,
        |          20350,22385,24623,27086,29794,32767] AS st,
        |         [-1,-1,-1,-1,2,4,6,8] AS it),
        |dec AS (
        |  SELECT asset_idx, n, 0 AS t,
        |         ((asset_idx * 31) % 8192) - 4096 AS pred,
        |         0 AS idx,
        |         CAST(((asset_idx * 31) % 8192) - 4096 AS BIGINT) AS sum_s,
        |         ((asset_idx * 31) % 8192) - 4096 AS min_s,
        |         ((asset_idx * 31) % 8192) - 4096 AS max_s
        |  FROM s
        |  UNION ALL
        |  SELECT asset_idx, n, t,
        |         CASE WHEN hdr THEN raw ELSE np END,
        |         CASE WHEN hdr THEN idx ELSE ni END,
        |         sum_s + CASE WHEN hdr THEN raw ELSE np END,
        |         LEAST(min_s, CASE WHEN hdr THEN raw ELSE np END),
        |         GREATEST(max_s, CASE WHEN hdr THEN raw ELSE np END)
        |  FROM (
        |    SELECT *,
        |           GREATEST(-32768, LEAST(32767,
        |             pred + CASE WHEN neg THEN -dq ELSE dq END)) AS np,
        |           GREATEST(0, LEAST(88, idx + it[b4*4 + b2*2 + b1 + 1])) AS ni
        |    FROM (
        |      SELECT *,
        |             CASE WHEN a2 >= step // 4 THEN 1 ELSE 0 END AS b1,
        |             (step // 8) + b4 * step + b2 * (step // 2)
        |               + (CASE WHEN a2 >= step // 4 THEN 1 ELSE 0 END)
        |                 * (step // 4) AS dq
        |      FROM (
        |        SELECT *,
        |               CASE WHEN a1 >= step // 2 THEN 1 ELSE 0 END AS b2,
        |               a1 - (CASE WHEN a1 >= step // 2 THEN 1 ELSE 0 END)
        |                 * (step // 2) AS a2
        |        FROM (
        |          SELECT *,
        |                 CASE WHEN adiff >= step THEN 1 ELSE 0 END AS b4,
        |                 adiff - (CASE WHEN adiff >= step THEN 1 ELSE 0 END)
        |                   * step AS a1
        |          FROM (
        |            SELECT d.asset_idx, d.n, d.t + 1 AS t, d.pred, d.idx,
        |                   d.sum_s, d.min_s, d.max_s,
        |                   ((d.asset_idx * 31 + 7 * (d.t + 1) * (d.t + 1))
        |                     % 8192) - 4096 AS raw,
        |                   (d.t + 1) % 505 = 0 AS hdr,
        |                   tbl.st[d.idx + 1] AS step,
        |                   ((d.asset_idx * 31 + 7 * (d.t + 1) * (d.t + 1))
        |                     % 8192) - 4096 - d.pred < 0 AS neg,
        |                   abs(((d.asset_idx * 31 + 7 * (d.t + 1) * (d.t + 1))
        |                     % 8192) - 4096 - d.pred) AS adiff,
        |                   tbl.it AS it
        |            FROM dec d CROSS JOIN tbl
        |            WHERE d.t + 1 < d.n))))) q),
        |a AS (
        |  SELECT asset_idx, n AS n_samples, sum_s AS sum_samples,
        |         min_s AS min_sample, max_s AS max_sample
        |  FROM dec WHERE t = n - 1)
        |SELECT s.asset_idx, s.sample_rate, CAST(a.n_samples AS BIGINT)
        |         AS n_samples, a.sum_samples,
        |       a.min_sample, a.max_sample, s.n_bytes, s.head_hex
        |FROM s JOIN a USING (asset_idx)
        |ORDER BY s.asset_idx""".stripMargin)
  }

  private[sources] val G711Tree = Fixture("g711", "g", "wav", scales = false)

  /** Build (atomically, once per scale factor) the G.711 fixture tree: 24
    * mono 8 kHz WAV files — even assets µ-law (tag 7), odd assets A-law (tag
    * 6) — whose input PCM sweeps the full 16-bit range,
    * s(i, t) = ((97·i + 511·t) mod 65536) − 32768, n = 800 + 29·i samples,
    * encoded by [[graft.multimodal.AdpcmCodec]].
    */
  private[sources] def ensureG711Tree(sfDir: String): String =
    G711Tree.tree(sfDir) {
      (0 until 24).iterator.map { i =>
        val n = 800 + 29 * i
        val pcm = Array.tabulate(n)(t => ((i * 97 + t * 511) % 65536) - 32768)
        (s"${i % 2}/${i % 3}/${G711Tree.file(i)}",
          graft.multimodal.AdpcmCodec.encodeG711Wav(8000, pcm, mu = i % 2 == 0))
      }
    }

  /** Companded-telephony decode under the hash gate: binary scan of the
    * G.711 fixture tree, decoded by [[graft.multimodal.AdpcmCodec]]
    * (ITU-T G.711 µ-law and A-law — segment + mantissa companding),
    * reduced to exact integer per-clip aggregates of the DECODED samples.
    * G.711 is memoryless, so the oracle replays encode∘decode for every
    * sample in closed form (no recursion): segment search as a CASE
    * ladder, mantissa via shifts — covering both laws, both signs, and
    * all eight segments (the input sweeps the full 16-bit range). A hash
    * match proves the Scala compander and the spec-derived SQL replay
    * agree on all 65536 → 256 → 16-bit mappings exercised.
    */
  object G711Scan extends GraftQuery {
    val name = "q_g711_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      G711Tree.assets(spark, ensureG711Tree(sfDir))
        .mapPartitions { it =>
          it.flatMap { case (idx, content) =>
            graft.multimodal.AdpcmCodec.decodePcm(content).map { pcm =>
              val s = pcm.samples
              var sum = 0L
              var mn = Int.MaxValue
              var mx = Int.MinValue
              s.foreach { v => sum += v; if (v < mn) mn = v; if (v > mx) mx = v }
              (idx, pcm.codec, pcm.sampleRate.toLong, s.length.toLong, sum,
                mn.toLong, mx.toLong, content.length.toLong,
                Sources.headHex(content))
            }
          }
        }
        .toDF("asset_idx", "codec", "sample_rate", "n_samples",
          "sum_samples", "min_sample", "max_sample", "n_bytes", "head_hex")
        .orderBy("asset_idx")
    }
    // µ-law: bias 0x84, clip 32635; A-law: 13-bit magnitude domain,
    // segment boundaries (0x20 << s) − 1 — both straight from ITU-T G.711.
    val oracle = Some(
      s"""WITH f AS (${G711Tree.blobRows(8)}),
        |s AS (
        |  SELECT asset_idx, n_bytes, head_hex,
        |         CASE WHEN asset_idx % 2 = 0 THEN 'ulaw' ELSE 'alaw' END
        |           AS codec,
        |         800 + 29 * asset_idx AS n
        |  FROM f),
        |p AS (
        |  SELECT asset_idx, codec,
        |         ((asset_idx * 97 + t.t * 511) % 65536) - 32768 AS v
        |  FROM s, LATERAL unnest(range(0, n)) t(t)),
        |mu AS (
        |  SELECT asset_idx, v,
        |         CASE WHEN v < 0 THEN 1 ELSE 0 END AS sg,
        |         LEAST(abs(v), 32635) + 132 AS mc
        |  FROM p WHERE codec = 'ulaw'),
        |mu2 AS (
        |  SELECT asset_idx, sg, mc,
        |         CASE WHEN mc < 256 THEN 0 WHEN mc < 512 THEN 1
        |              WHEN mc < 1024 THEN 2 WHEN mc < 2048 THEN 3
        |              WHEN mc < 4096 THEN 4 WHEN mc < 8192 THEN 5
        |              WHEN mc < 16384 THEN 6 ELSE 7 END AS e
        |  FROM mu),
        |mud AS (
        |  SELECT asset_idx,
        |         CASE WHEN sg = 1 THEN -d0 ELSE d0 END AS dv
        |  FROM (SELECT asset_idx, sg,
        |               ((((mc >> (e + 3)) & 15) * 8 + 132) << e) - 132 AS d0
        |        FROM mu2) q),
        |al AS (
        |  SELECT asset_idx, v,
        |         CASE WHEN v >= 0 THEN 1 ELSE 0 END AS pos,
        |         LEAST((CASE WHEN v >= 0 THEN v ELSE -v - 1 END) >> 3, 4095)
        |           AS p13
        |  FROM p WHERE codec = 'alaw'),
        |al2 AS (
        |  SELECT asset_idx, pos, p13,
        |         CASE WHEN p13 <= 31 THEN 0 WHEN p13 <= 63 THEN 1
        |              WHEN p13 <= 127 THEN 2 WHEN p13 <= 255 THEN 3
        |              WHEN p13 <= 511 THEN 4 WHEN p13 <= 1023 THEN 5
        |              WHEN p13 <= 2047 THEN 6 ELSE 7 END AS seg
        |  FROM al),
        |ald AS (
        |  SELECT asset_idx,
        |         CASE WHEN pos = 1 THEN t1 ELSE -t1 END AS dv
        |  FROM (SELECT asset_idx, pos,
        |               CASE WHEN seg > 1 THEN t0 << (seg - 1) ELSE t0 END AS t1
        |        FROM (SELECT asset_idx, pos, seg,
        |                     (CASE WHEN seg < 2 THEN (p13 >> 1) & 15
        |                           ELSE (p13 >> seg) & 15 END) * 16
        |                       + CASE WHEN seg = 0 THEN 8 ELSE 264 END AS t0
        |              FROM al2) q0) q1),
        |d AS (SELECT * FROM mud UNION ALL SELECT * FROM ald),
        |a AS (
        |  SELECT asset_idx, count(*) AS n_samples,
        |         CAST(sum(dv) AS BIGINT) AS sum_samples,
        |         min(dv) AS min_sample, max(dv) AS max_sample
        |  FROM d GROUP BY 1)
        |SELECT s.asset_idx, s.codec, CAST(8000 AS BIGINT) AS sample_rate,
        |       a.n_samples, a.sum_samples, a.min_sample, a.max_sample,
        |       s.n_bytes, s.head_hex
        |FROM s JOIN a USING (asset_idx)
        |ORDER BY s.asset_idx""".stripMargin)
  }

  private[sources] val AiffTree = Fixture("aiff", "a", "aif", scales = false)

  /** Build (atomically, once per scale factor) the AIFF fixture tree: 24 .aif
    * files, alternating mono/stereo, n = 1000 + 37i frames at 8000 + 25i Hz;
    * sample (c, t) of asset i is ((31i + 7t + 13ct + 5c) mod 4096) − 2048.
    * Written by the engine's own deterministic [[graft.multimodal.AiffCodec]]
    * writer (FORM/AIFF, COMM with 80-bit extended rate, SSND big-endian
    * int16).
    */
  private[sources] def ensureAiffTree(sfDir: String): String =
    AiffTree.tree(sfDir) {
      (0 until 24).iterator.map { i =>
        val n = 1000 + 37 * i
        val nCh = 1 + i % 2
        val chans = Array.tabulate(nCh)(c => Array.tabulate(n)(t =>
          ((31 * i + 7 * t + 13 * c * t + 5 * c) % 4096) - 2048))
        (s"${i % 2}/${i % 3}/${AiffTree.file(i)}",
          graft.multimodal.AiffCodec.encode(8000 + 25 * i, chans))
      }
    }

  /** AIFF decode under the hash gate: binary scan of the AIFF fixture
    * tree, decoded by the from-spec [[graft.multimodal.AiffCodec]] —
    * the big-endian PCM container beside RIFF/WAV, including the 80-bit
    * IEEE extended sample-rate field the format is notorious for. The
    * oracle replays every sample in closed form and `read_blob` pins
    * byte identity through the engine's writer.
    */
  object AiffScan extends GraftQuery {
    val name = "q_aiff_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      AiffTree.assets(spark, ensureAiffTree(sfDir))
        .flatMap { case (idx, content) =>
          for (a <- graft.multimodal.AiffCodec.decode(content).toSeq) yield {
            var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
            a.channels.foreach(_.foreach { v =>
              sum += v; if (v < mn) mn = v; if (v > mx) mx = v
            })
            (idx, a.sampleRate.toLong, a.channels.length.toLong,
              a.channels(0).length.toLong, sum, mn.toLong, mx.toLong,
              content.length.toLong, Sources.headHex(content))
          }
        }
        .toDF("asset_idx", "sample_rate", "n_channels", "n_frames",
          "sum_samples", "min_sample", "max_sample", "n_bytes", "head_hex")
        .orderBy("asset_idx")
    }
    val oracle = Some(
      s"""WITH f AS (${AiffTree.blobRows(8)}),
        |s AS (
        |  SELECT asset_idx, n_bytes, head_hex,
        |         CAST(8000 + 25 * asset_idx AS BIGINT) AS sample_rate,
        |         CAST(1 + asset_idx % 2 AS BIGINT) AS n_channels,
        |         CAST(1000 + 37 * asset_idx AS BIGINT) AS n_frames
        |  FROM f),
        |v AS (
        |  SELECT asset_idx,
        |         ((31 * asset_idx + 7 * t.t + 13 * c.c * t.t + 5 * c.c)
        |           % 4096) - 2048 AS v
        |  FROM s, LATERAL unnest(range(0, n_frames)) t(t),
        |       LATERAL unnest(range(0, n_channels)) c(c)),
        |a AS (
        |  SELECT asset_idx, CAST(sum(v) AS BIGINT) AS sum_samples,
        |         CAST(min(v) AS BIGINT) AS min_sample,
        |         CAST(max(v) AS BIGINT) AS max_sample
        |  FROM v GROUP BY 1)
        |SELECT s.asset_idx, s.sample_rate, s.n_channels, s.n_frames,
        |       a.sum_samples, a.min_sample, a.max_sample, s.n_bytes,
        |       s.head_hex
        |FROM s JOIN a USING (asset_idx)
        |ORDER BY s.asset_idx""".stripMargin)
  }

  private[sources] val Mp3Tree = Fixture("mp3", "m", "mp3", scales = true)

  /** Build (atomically, once per scale factor) the MPEG-audio fixture tree:
    * the round-9 base tier (24 MPEG-1 Layer III streams covering CBR and
    * VBR (+Xing), all three sampling rates, mono and stereo, padding
    * cadences, ID3v2 prefixes and ID3v1 trailers) plus the round-10
    * `v2/` tier (ids 1000+, 24 streams sweeping the version × layer
    * matrix: MPEG-2 / MPEG-2.5 / MPEG-1 × Layers I / II / III — the
    * headers real crawls contain). Every field is a pure function of
    * the asset index (the oracle replays all of it closed-form).
    */
  private[sources] def ensureMp3Tree(sfDir: String): String =
    Mp3Tree.tree(sfDir) {
      import graft.multimodal.Mp3Codec
      val base = (0 until 24 * mediaScale).iterator.map { i =>
        val nf = 8 + i
        val vbr = i % 3 == 0
        val bis =
          if (vbr) (0 until nf).map(f => 1 + ((i + f) % 14))
          else Seq.fill(nf)(1 + (i % 14))
        (s"${i % 2}/${i % 3}/${Mp3Tree.file(i)}",
          Mp3Codec.build(bis, sampleRateIdx = i % 3,
            mode = if (i % 2 == 0) 3 else 0, seed = i,
            id3v2PayloadLen = if (i % 4 == 0) 100 + i else 0,
            id3v1 = i % 5 == 0,
            paddingEvery = if (i % 6 == 0) 3 else 0,
            xing = vbr))
      }
      // round-10 tier under v2/: the version × layer matrix real crawls
      // contain — MPEG-2 (13818-3), MPEG-2.5, Layers I/II/III. Ids start
      // at 1000 (the base tier tops out at 983 at max scale).
      val v2 = (0 until 24 * mediaScale).iterator.map { i =>
        val verRaw = (i % 3) match { case 0 => 2; case 1 => 0; case _ => 3 }
        val layerRaw = ((i / 3) % 3) match { case 0 => 3; case 1 => 2; case _ => 1 }
        val nf = 6 + i
        val vbr = i % 4 == 0
        val bis =
          if (vbr) (0 until nf).map(f => 1 + ((i + f) % 14))
          else Seq.fill(nf)(1 + (i % 14))
        (s"v2/${i % 3}/${Mp3Tree.file(1000 + i)}",
          Mp3Codec.build(bis, sampleRateIdx = (i / 9) % 3,
            mode = if (i % 2 == 0) 3 else 0, seed = 100 + i,
            id3v2PayloadLen = if (i % 5 == 0) 80 + i else 0,
            id3v1 = i % 7 == 0,
            paddingEvery = if (i % 6 == 0) 2 else 0,
            xing = vbr && layerRaw == 1,
            verRaw = verRaw, layerRaw = layerRaw))
      }
      base ++ v2
    }

  /** MP3 ingest metadata under the hash gate: binary scan of the MP3
    * fixture tree through [[graft.multimodal.Mp3Codec.parse]] — the
    * strict ISO 11172-3 frame walk (header validation, §2.4.3.1 frame
    * sizing, cross-frame consistency) plus ID3v2/ID3v1 tag skips and
    * Xing VBR frame counts. This is the no-decode pass a 100 TB audio
    * ingest runs to catalog, route, and duration-audit mp3 assets; the
    * oracle replays every field CLOSED-FORM from the fixture formulas
    * (frame count, duration, per-frame bitrate min/max through the
    * §2.4.2.3 bitrate table, tag byte counts) and pins byte identity
    * via `read_blob`. PCM decode deliberately stays the documented
    * stand-in ([[graft.multimodal.Mp3Codec]] scaladoc: the normative
    * Annex B tables are not reproducible offline and no reference
    * decoder exists here to differentiate against), so the REAL tier
    * ends exactly where verifiability ends.
    */
  object Mp3Scan extends GraftQuery {
    val name = "q_mp3_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      Mp3Tree.assets(spark, ensureMp3Tree(sfDir))
        .flatMap { case (idx, content) =>
          for (info <- graft.multimodal.Mp3Codec.parse(content).toSeq)
          yield (idx, info.nFrames.toLong,
            info.versionX10.toLong, info.layer.toLong,
            info.sampleRate.toLong, info.mode.toLong, info.durationMs,
            info.frames.map(_.bitrateKbps).min.toLong,
            info.frames.map(_.bitrateKbps).max.toLong,
            if (info.vbr) 1L else 0L,
            info.xingFrames.map(_.toLong).getOrElse(-1L),
            info.id3v2Bytes.toLong, if (info.id3v1) 1L else 0L,
            content.length.toLong,
            Sources.headHex(content.take(4)))
        }
        .toDF("asset_idx", "n_frames", "mpeg_version_x10", "layer",
          "sample_rate", "mode", "duration_ms",
          "kbps_min", "kbps_max", "is_vbr", "xing_frames", "id3v2_bytes",
          "has_id3v1", "n_bytes", "head_hex")
        .orderBy("asset_idx")
    }
    val oracle = Some(
      s"""WITH br AS (
        |  -- §2.4.2.3 / 13818-3 bitrate tables: (version group, logical
        |  -- layer, index) → kbps; vg 1 = MPEG-1, vg 2 = MPEG-2/2.5
        |  -- (which share one Layer II/III table)
        |  SELECT * FROM (VALUES
        |    (1,1,1,32),(1,1,2,64),(1,1,3,96),(1,1,4,128),(1,1,5,160),
        |    (1,1,6,192),(1,1,7,224),(1,1,8,256),(1,1,9,288),(1,1,10,320),
        |    (1,1,11,352),(1,1,12,384),(1,1,13,416),(1,1,14,448),
        |    (1,2,1,32),(1,2,2,48),(1,2,3,56),(1,2,4,64),(1,2,5,80),
        |    (1,2,6,96),(1,2,7,112),(1,2,8,128),(1,2,9,160),(1,2,10,192),
        |    (1,2,11,224),(1,2,12,256),(1,2,13,320),(1,2,14,384),
        |    (1,3,1,32),(1,3,2,40),(1,3,3,48),(1,3,4,56),(1,3,5,64),
        |    (1,3,6,80),(1,3,7,96),(1,3,8,112),(1,3,9,128),(1,3,10,160),
        |    (1,3,11,192),(1,3,12,224),(1,3,13,256),(1,3,14,320),
        |    (2,1,1,32),(2,1,2,48),(2,1,3,56),(2,1,4,64),(2,1,5,80),
        |    (2,1,6,96),(2,1,7,112),(2,1,8,128),(2,1,9,144),(2,1,10,160),
        |    (2,1,11,176),(2,1,12,192),(2,1,13,224),(2,1,14,256),
        |    (2,2,1,8),(2,2,2,16),(2,2,3,24),(2,2,4,32),(2,2,5,40),
        |    (2,2,6,48),(2,2,7,56),(2,2,8,64),(2,2,9,80),(2,2,10,96),
        |    (2,2,11,112),(2,2,12,128),(2,2,13,144),(2,2,14,160),
        |    (2,3,1,8),(2,3,2,16),(2,3,3,24),(2,3,4,32),(2,3,5,40),
        |    (2,3,6,48),(2,3,7,56),(2,3,8,64),(2,3,9,80),(2,3,10,96),
        |    (2,3,11,112),(2,3,12,128),(2,3,13,144),(2,3,14,160)
        |  ) t(vg, lyr, bi, kbps)),
        |specs AS (
        |  -- round-9 tier: MPEG-1 Layer III
        |  SELECT i.i AS asset_idx, 8 + i.i AS nf, 10 AS vx10, 3 AS lyr,
        |         CASE i.i % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |              ELSE 32000 END AS rate,
        |         CASE WHEN i.i % 2 = 0 THEN 3 ELSE 0 END AS mode,
        |         i.i % 3 = 0 AS vbr,
        |         CASE WHEN i.i % 4 = 0 THEN 110 + i.i ELSE 0 END AS id3v2,
        |         CASE WHEN i.i % 5 = 0 THEN 1 ELSE 0 END AS id3v1,
        |         i.i AS ci,
        |         CASE WHEN i.i % 6 = 0 THEN 3 ELSE 0 END AS pad_every
        |  FROM unnest(range(0, 24)) i(i)
        |  UNION ALL
        |  -- round-10 tier: the version × layer matrix (MPEG-2 halves the
        |  -- MPEG-1 rate, 2.5 quarters it; ids offset by 1000)
        |  SELECT 1000 + i.i, 6 + i.i,
        |         CASE i.i % 3 WHEN 0 THEN 20 WHEN 1 THEN 25 ELSE 10 END,
        |         CASE (i.i // 3) % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 3 END,
        |         (CASE (i.i // 9) % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |               ELSE 32000 END)
        |           // (CASE i.i % 3 WHEN 0 THEN 2 WHEN 1 THEN 4 ELSE 1 END),
        |         CASE WHEN i.i % 2 = 0 THEN 3 ELSE 0 END,
        |         i.i % 4 = 0,
        |         CASE WHEN i.i % 5 = 0 THEN 90 + i.i ELSE 0 END,
        |         CASE WHEN i.i % 7 = 0 THEN 1 ELSE 0 END,
        |         i.i,
        |         CASE WHEN i.i % 6 = 0 THEN 2 ELSE 0 END
        |  FROM unnest(range(0, 24)) i(i)),
        |fr AS (
        |  SELECT s.asset_idx, s.vx10, s.lyr, f.f AS f,
        |         CASE WHEN s.vbr THEN 1 + (s.ci + f.f) % 14
        |              ELSE 1 + s.ci % 14 END AS bi
        |  FROM specs s, LATERAL unnest(range(0, s.nf)) f(f)),
        |fb AS (
        |  SELECT fr.asset_idx, min(br.kbps) AS kbps_min,
        |         max(br.kbps) AS kbps_max
        |  FROM fr JOIN br ON br.vg = CASE WHEN fr.vx10 = 10 THEN 1 ELSE 2 END
        |                 AND br.lyr = fr.lyr AND br.bi = fr.bi
        |  GROUP BY 1),
        |b AS (${Mp3Tree.blobRows(4)})
        |SELECT s.asset_idx, CAST(s.nf AS BIGINT) AS n_frames,
        |       CAST(s.vx10 AS BIGINT) AS mpeg_version_x10,
        |       CAST(s.lyr AS BIGINT) AS layer,
        |       CAST(s.rate AS BIGINT) AS sample_rate,
        |       CAST(s.mode AS BIGINT) AS mode,
        |       CAST(s.nf * (CASE WHEN s.lyr = 1 THEN 384 WHEN s.lyr = 2 THEN 1152
        |                    WHEN s.vx10 = 10 THEN 1152 ELSE 576 END)
        |            * 1000 // s.rate AS BIGINT) AS duration_ms,
        |       CAST(fb.kbps_min AS BIGINT) AS kbps_min,
        |       CAST(fb.kbps_max AS BIGINT) AS kbps_max,
        |       CAST(CASE WHEN fb.kbps_min <> fb.kbps_max THEN 1 ELSE 0 END
        |            AS BIGINT) AS is_vbr,
        |       CAST(CASE WHEN s.vbr AND s.lyr = 3 THEN s.nf ELSE -1 END
        |            AS BIGINT) AS xing_frames,
        |       CAST(s.id3v2 AS BIGINT) AS id3v2_bytes,
        |       CAST(s.id3v1 AS BIGINT) AS has_id3v1,
        |       b.n_bytes, b.head_hex
        |FROM specs s JOIN fb USING (asset_idx) JOIN b USING (asset_idx)
        |ORDER BY s.asset_idx""".stripMargin)
  }
}
