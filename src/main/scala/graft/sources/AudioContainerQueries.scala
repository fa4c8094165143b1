package graft.sources

import graft.{Graft, GraftQuery}
import graft.images.ImageOps
import graft.multimodal.TiffCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SourceQueries.{Fixture, mediaScale}

/** FLAC-carrying container fixture trees and scans (MP4, Ogg, Matroska).
  * Split from SourceQueries.scala (round 10) - mechanical move, no
  * behavior change; fixture dirs and oracle SQL are byte-identical.
  */
object AudioContainerQueries {

  private[sources] val Mp4Tree = Fixture("mp4", "m", "m4a", scales = false)

  /** Build (atomically, once per scale factor) the FLAC-in-MP4 fixture tree:
    * 24 .m4a files whose PCM is a pure function of the asset index —
    * s(i, t) = ((23·i + 7·t) mod 65536) − 32768, n = 4500 + 137·i
    * samples at rate 16000 + 50·i — FLAC-encoded by
    * [[graft.multimodal.FlacCodec]] and wrapped in ISO-BMFF by
    * [[graft.multimodal.Mp4Codec.muxFlac]] (Xiph fLaC-in-BMFF mapping:
    * one MP4 sample per FLAC frame). n is always > 4096 and never a
    * multiple, so every file has ≥ 2 samples with a short last frame.
    */
  private[sources] def ensureMp4Tree(sfDir: String): String =
    Mp4Tree.tree(sfDir) {
      (0 until 24).iterator.map { i =>
        val n = 4500 + 137 * i
        val pcm = Array.tabulate(n)(t => ((i * 23 + t * 7) % 65536) - 32768)
        val flac = graft.multimodal.FlacCodec.encode(16000 + 50 * i, Array(pcm))
        (s"${i % 2}/${i % 3}/${Mp4Tree.file(i)}",
          graft.multimodal.Mp4Codec.muxFlac(flac)
            .getOrElse(sys.error(s"muxFlac refused asset $i")))
      }
    }

  /** Container-format decode under the hash gate: binary scan of the
    * FLAC-in-MP4 fixture tree, demuxed by the pure-JVM
    * [[graft.multimodal.Mp4Codec]] (ISO-BMFF box walk → hdlr/stsd/stsz/
    * stsc/stco sample tables → one MP4 sample per FLAC frame, per the
    * public Xiph mapping), rebuilt into a native FLAC stream from the
    * `dfLa` metadata and decoded by [[graft.multimodal.FlacCodec]].
    * The oracle replays the samples in CLOSED FORM from the filename
    * index — `n_frames` additionally pins the demuxer's sample split
    * ((n + 4095) div 4096 frames per file) — and `read_blob` pins byte
    * identity. A green row proves the whole container chain
    * (mux(encode(pcm)) → binary scan → demux → decode == pcm): the
    * "non-AVI container" seam is now closed for payloads this JVM can
    * really decode (H.264/AAC/mp3 in MP4 remain the fake+strict seam).
    */
  object Mp4Scan extends GraftQuery {
    val name = "q_mp4_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      Mp4Tree.assets(spark, ensureMp4Tree(sfDir))
        .flatMap { case (idx, content) =>
          import graft.multimodal.{FlacCodec, Mp4Codec}
          for {
            tracks <- Mp4Codec.demux(content).toSeq
            t <- tracks.find(t => t.kind == "soun" && t.fourcc == "fLaC").toSeq
            stream <- Mp4Codec.flacStream(t).toSeq
            pcm <- FlacCodec.decode(stream).toSeq
          } yield {
            val s = pcm.channels(0)
            var sum = 0L
            var mn = Int.MaxValue
            var mx = Int.MinValue
            s.foreach { v => sum += v; if (v < mn) mn = v; if (v > mx) mx = v }
            (idx, t.sampleRate.toLong, t.samples.length.toLong, s.length.toLong,
              sum, mn.toLong, mx.toLong, content.length.toLong,
              Sources.headHex(content))
          }
        }
        .toDF("asset_idx", "sample_rate", "n_frames", "n_samples",
          "sum_samples", "min_sample", "max_sample", "n_bytes", "head_hex")
        .orderBy("asset_idx")
    }
    val oracle = Some(
      s"""WITH f AS (${Mp4Tree.blobRows(8)}),
        |s AS (
        |  SELECT asset_idx, n_bytes, head_hex,
        |         16000 + 50 * asset_idx AS sample_rate,
        |         4500 + 137 * asset_idx AS n
        |  FROM f),
        |p AS (
        |  SELECT asset_idx, ((asset_idx * 23 + t.t * 7) % 65536) - 32768 AS v
        |  FROM s, LATERAL unnest(range(0, n)) t(t)),
        |a AS (
        |  SELECT asset_idx, count(*) AS n_samples,
        |         CAST(sum(v) AS BIGINT) AS sum_samples,
        |         min(v) AS min_sample, max(v) AS max_sample
        |  FROM p GROUP BY 1)
        |SELECT s.asset_idx, s.sample_rate, (s.n + 4095) // 4096 AS n_frames,
        |       a.n_samples, a.sum_samples, a.min_sample, a.max_sample,
        |       s.n_bytes, s.head_hex
        |FROM s JOIN a USING (asset_idx)
        |ORDER BY s.asset_idx""".stripMargin)
  }

  private[sources] val OggTree = Fixture("ogg", "o", "ogg", scales = true)

  /** Build (atomically, once per scale factor) the FLAC-in-Ogg fixture tree:
    * 24 .ogg files whose PCM is a pure function of the asset index —
    * s(i, t) = ((41·i + 17·t) mod 65536) − 32768, n = 6000 + 131·i
    * samples at rate 11025 + 111·i — FLAC-encoded by
    * [[graft.multimodal.FlacCodec]] and paged into Ogg by
    * [[graft.multimodal.OggCodec.muxFlac]] (RFC 3533 framing, Xiph
    * FLAC-to-Ogg mapping: one FLAC frame per packet). n is always > 4096
    * and never a multiple, so every file has ≥ 2 audio packets with a
    * short last frame, and frames (~8 KB) always span multiple lacing
    * values.
    */
  private[sources] def ensureOggTree(sfDir: String): String =
    OggTree.tree(sfDir) {
      (0 until 24 * mediaScale).iterator.map { i =>
        val n = 6000 + 131 * i
        val pcm = Array.tabulate(n)(t => ((i * 41 + t * 17) % 65536) - 32768)
        val flac = graft.multimodal.FlacCodec.encode(11025 + 111 * i, Array(pcm))
        (s"${i % 2}/${i % 3}/${OggTree.file(i)}",
          graft.multimodal.OggCodec.muxFlac(flac)
            .getOrElse(sys.error(s"muxFlac refused asset $i")))
      }
    }

  /** Ogg-container decode under the hash gate: binary scan of the
    * FLAC-in-Ogg fixture tree, de-paged by the pure-JVM
    * [[graft.multimodal.OggCodec]] (RFC 3533 page walk with the Ogg
    * CRC-32 verified on every page, lacing-value packet reassembly —
    * including packets spanning lacing runs — then the Xiph
    * FLAC-to-Ogg mapping rebuilt into a native FLAC stream) and decoded
    * by [[graft.multimodal.FlacCodec]]. The oracle replays the samples
    * in CLOSED FORM from the filename index — `n_packets` additionally
    * pins the packet split (1 mapping packet + one per FLAC frame) —
    * and `read_blob` pins byte identity. A green row proves the whole
    * chain (mux(encode(pcm)) → binary scan → de-page → decode == pcm):
    * with AVI, MP4, and now Ogg real, no CONTAINER is a stand-in
    * anywhere in the engine — the fake+strict seam is down to the
    * perceptual codecs themselves (mp3/AAC/Vorbis/H.264/VP9).
    */
  object OggScan extends GraftQuery {
    val name = "q_ogg_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      OggTree.assets(spark, ensureOggTree(sfDir))
        .flatMap { case (idx, content) =>
          import graft.multimodal.{FlacCodec, OggCodec}
          for {
            nPackets <- OggCodec.packets(content).map(_.length).toSeq
            stream <- OggCodec.flacStream(content).toSeq
            pcm <- FlacCodec.decode(stream).toSeq
          } yield {
            val s = pcm.channels(0)
            var sum = 0L
            var mn = Int.MaxValue
            var mx = Int.MinValue
            s.foreach { v => sum += v; if (v < mn) mn = v; if (v > mx) mx = v }
            (idx, pcm.sampleRate.toLong, nPackets.toLong, s.length.toLong,
              sum, mn.toLong, mx.toLong, content.length.toLong,
              Sources.headHex(content))
          }
        }
        .toDF("asset_idx", "sample_rate", "n_packets", "n_samples",
          "sum_samples", "min_sample", "max_sample", "n_bytes", "head_hex")
        .orderBy("asset_idx")
    }
    val oracle = Some(
      s"""WITH f AS (${OggTree.blobRows(8)}),
        |s AS (
        |  SELECT asset_idx, n_bytes, head_hex,
        |         11025 + 111 * asset_idx AS sample_rate,
        |         6000 + 131 * asset_idx AS n
        |  FROM f),
        |p AS (
        |  SELECT asset_idx, ((asset_idx * 41 + t.t * 17) % 65536) - 32768 AS v
        |  FROM s, LATERAL unnest(range(0, n)) t(t)),
        |a AS (
        |  SELECT asset_idx, count(*) AS n_samples,
        |         CAST(sum(v) AS BIGINT) AS sum_samples,
        |         min(v) AS min_sample, max(v) AS max_sample
        |  FROM p GROUP BY 1)
        |SELECT s.asset_idx, s.sample_rate,
        |       1 + (s.n + 4095) // 4096 AS n_packets,
        |       a.n_samples, a.sum_samples, a.min_sample, a.max_sample,
        |       s.n_bytes, s.head_hex
        |FROM s JOIN a USING (asset_idx)
        |ORDER BY s.asset_idx""".stripMargin)
  }

  private[sources] val MkvTree = Fixture("mkv", "k", "mka", scales = true)

  /** Build (atomically, once per scale factor) the FLAC-in-Matroska fixture
    * tree: 24 .mka files whose PCM is a pure function of the asset index —
    * s(i, t) = ((37·i + 13·t) mod 65536) − 32768, n = 30000 + 1234·i
    * samples at rate 9000 + 77·i — FLAC-encoded by
    * [[graft.multimodal.FlacCodec]] and wrapped into Matroska by
    * [[graft.multimodal.MkvCodec.muxFlac]] (RFC 8794 EBML framing, the
    * matroska.org `A_FLAC` mapping: native header in CodecPrivate, one
    * SimpleBlock per FLAC frame, a new Cluster every 8 frames). n gives
    * 8–15 frames per file, so every file crosses the cluster boundary
    * path at least via a full first cluster and most have ≥ 2 clusters.
    */
  private[sources] def ensureMkvTree(sfDir: String): String =
    MkvTree.tree(sfDir) {
      (0 until 24 * mediaScale).iterator.map { i =>
        val n = 30000 + 1234 * i
        val pcm = Array.tabulate(n)(t => ((i * 37 + t * 13) % 65536) - 32768)
        val flac = graft.multimodal.FlacCodec.encode(9000 + 77 * i, Array(pcm))
        (s"${i % 2}/${i % 3}/${MkvTree.file(i)}",
          graft.multimodal.MkvCodec.muxFlac(flac)
            .getOrElse(sys.error(s"muxFlac refused asset $i")))
      }
    }

  /** Matroska-container decode under the hash gate: binary scan of the
    * FLAC-in-MKV fixture tree, demuxed by the pure-JVM
    * [[graft.multimodal.MkvCodec]] (RFC 8794 EBML element walk →
    * Segment/Tracks/Cluster → TrackEntry codec metadata → SimpleBlock
    * framing), rebuilt into a native FLAC stream from CodecPrivate per
    * the matroska.org `A_FLAC` mapping and decoded by
    * [[graft.multimodal.FlacCodec]]. The oracle replays the samples in
    * CLOSED FORM from the filename index — `n_frames` additionally pins
    * the block split ((n + 4095) div 4096 SimpleBlocks per file, walked
    * across multiple Clusters) — and `read_blob` pins byte identity. A
    * green row proves the whole chain (mux(encode(pcm)) → binary scan →
    * EBML walk → block reassembly → decode == pcm): with AVI, MP4, Ogg,
    * and now Matroska/WebM real, every container format the engine
    * routes is genuinely parsed; the fake+strict seam is only the
    * perceptual codecs themselves (mp3/AAC/Vorbis/H.264/VP9).
    */
  object MkvScan extends GraftQuery {
    val name = "q_mkv_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      MkvTree.assets(spark, ensureMkvTree(sfDir))
        .flatMap { case (idx, content) =>
          import graft.multimodal.{FlacCodec, MkvCodec}
          for {
            tracks <- MkvCodec.demux(content).toSeq
            t <- tracks.find(_.codecId == "A_FLAC").toSeq
            stream <- MkvCodec.flacStream(t).toSeq
            pcm <- FlacCodec.decode(stream).toSeq
          } yield {
            val s = pcm.channels(0)
            var sum = 0L
            var mn = Int.MaxValue
            var mx = Int.MinValue
            s.foreach { v => sum += v; if (v < mn) mn = v; if (v > mx) mx = v }
            (idx, t.sampleRate.toLong, t.frames.length.toLong, s.length.toLong,
              sum, mn.toLong, mx.toLong, content.length.toLong,
              Sources.headHex(content))
          }
        }
        .toDF("asset_idx", "sample_rate", "n_frames", "n_samples",
          "sum_samples", "min_sample", "max_sample", "n_bytes", "head_hex")
        .orderBy("asset_idx")
    }
    val oracle = Some(
      s"""WITH f AS (${MkvTree.blobRows(8)}),
        |s AS (
        |  SELECT asset_idx, n_bytes, head_hex,
        |         9000 + 77 * asset_idx AS sample_rate,
        |         30000 + 1234 * asset_idx AS n
        |  FROM f),
        |p AS (
        |  SELECT asset_idx, ((asset_idx * 37 + t.t * 13) % 65536) - 32768 AS v
        |  FROM s, LATERAL unnest(range(0, n)) t(t)),
        |a AS (
        |  SELECT asset_idx, count(*) AS n_samples,
        |         CAST(sum(v) AS BIGINT) AS sum_samples,
        |         min(v) AS min_sample, max(v) AS max_sample
        |  FROM p GROUP BY 1)
        |SELECT s.asset_idx, s.sample_rate, (s.n + 4095) // 4096 AS n_frames,
        |       a.n_samples, a.sum_samples, a.min_sample, a.max_sample,
        |       s.n_bytes, s.head_hex
        |FROM s JOIN a USING (asset_idx)
        |ORDER BY s.asset_idx""".stripMargin)
  }
}
