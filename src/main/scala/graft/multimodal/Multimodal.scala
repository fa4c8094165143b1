package graft.multimodal

import graft.images.ImageOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column model: media as opaque `binary` columns plus typed
  * metadata, with decode / feature-extract / frame-sample as per-partition
  * transforms (the Scala analog of pandas-UDF batch plumbing).
  *
  * The Spark-side plumbing — schema, partition amortization, batch shape —
  * is real and tested, and so are the pure-JVM decode paths: images via
  * [[graft.images.ImageOps]] (ImageIO), RIFF PCM audio via [[WavCodec]],
  * IMA ADPCM + G.711 µ/A-law WAV via [[AdpcmCodec]], FLAC audio via
  * [[FlacCodec]] (a real compressed-codec decode, RFC 9639), MJPEG-AVI
  * and inter-frame ZMBV-AVI video via [[AviCodec]] / [[ZmbvCodec]],
  * FLAC/MJPEG in MP4 via [[Mp4Codec]], FLAC in Ogg via [[OggCodec]],
  * FLAC/MJPEG in Matroska/WebM via [[MkvCodec]].
  * Only perceptual codecs that need
  * native DSP libraries in practice (mp3/AAC audio, H.264/VP9 video)
  * remain deterministic stubs behind the [[MediaDecoder]] seam (clearly
  * marked). Swapping a production decoder in changes one constructor,
  * not the pipeline.
  */
object Multimodal {

  /** One media asset: the universal training-data row shape. */
  final case class MediaRow(
      asset_id: String,
      modality: String,           // "image" | "audio" | "video"
      mime: String,
      content: Array[Byte],       // opaque payload — never parsed by Spark itself
      meta: Map[String, String])  // typed-ish sidecar (dims, duration, source)

  /** Extracted features, one row per asset (or per sampled frame).
    * `feature_real = false` marks a deterministic stand-in produced where
    * this environment has no codec (mp3, non-AVI video) — a
    * downstream consumer can filter or fail on fakes instead of silently
    * training on them.
    */
  final case class MediaFeatures(
      asset_id: String,
      modality: String,
      frame_index: Int,           // 0 for whole-asset features
      width: Int, height: Int,
      feature: Array[Float],      // small fixed-width vector
      feature_real: Boolean)

  /** Decoder seam: one instance per partition (model/codec load amortized,
    * same pattern as [[graft.images.Detection.Detector]]).
    */
  trait MediaDecoder extends Serializable {
    /** Decode + featurize; multiple rows = sampled frames. */
    def features(row: MediaRow): Seq[MediaFeatures]
  }

  /** Real image + WAV/FLAC-audio + AVI-video paths, STUBBED paths for the
    * codecs that genuinely need native libraries.
    *
    * Images decode via [[graft.images.ImageOps]]; RIFF PCM audio decodes
    * via [[WavCodec]], IMA ADPCM and G.711 via [[AdpcmCodec]], and FLAC
    * via [[FlacCodec]] into real spectral band energies; AVI video
    * decodes via [[AviCodec]] + ImageIO (MJPEG) or [[ZmbvCodec]]
    * (inter-frame) — all pure JVM, no native codec. Only mp3/AAC audio
    * and H.264/VP9 video "decode" remain deterministic fakes
    * (hash-derived features of the payload bytes) standing in for codecs
    * this container doesn't have —
    * the schema, batching, and partition flow are exactly what a real
    * decoder would use. Fake rows carry `feature_real = false`; with
    * `strict = true` the fake paths throw instead, so a pipeline can
    * never silently train on stand-in numbers.
    */
  final class DefaultDecoder(frameStride: Int = 16, strict: Boolean = false)
      extends MediaDecoder {
    private val MaxFrames = 32 // per-clip frame-sample cap (bounded output)

    private def noCodec(row: MediaRow, what: String): Unit =
      if (strict) throw new UnsupportedOperationException(
        s"strict mode: no $what codec for asset ${row.asset_id} " +
          s"(${row.mime}); refusing to emit fake features")

    def features(row: MediaRow): Seq[MediaFeatures] = row.modality match {
      case "image" =>
        ImageOps.decode(row.content).toSeq.map { img =>
          val (r, g, b) = ImageOps.averageColor(img)
          MediaFeatures(row.asset_id, "image", 0, img.width, img.height,
            Array(r / 255f, g / 255f, b / 255f, img.width.toFloat, img.height.toFloat),
            feature_real = true)
        }
      case "audio" =>
        // real paths: RIFF PCM via WavCodec; FLAC via the pure-JVM
        // FlacCodec (lossless integer decode → same spectral featurizer),
        // bare or carried in MP4 ([[Mp4Codec]], the Xiph fLaC-in-BMFF
        // mapping); all yield 5 relative band energies with
        // (width, height) carrying (sampleRate, channels) — the audio
        // twin of image dims
        WavCodec.decode(row.content)
          .orElse(AdpcmCodec.decode(row.content)) // IMA ADPCM / G.711 µ/A-law WAV
          .orElse(AiffCodec.decode(row.content).map(AiffCodec.toWav))
          .orElse(FlacCodec.decode(row.content).map(FlacCodec.toWav))
          .orElse( // FLAC in Ogg (RFC 3533 pages + Xiph FLAC-to-Ogg mapping)
            OggCodec.flacStream(row.content)
              .flatMap(FlacCodec.decode).map(FlacCodec.toWav))
          .orElse(for {
            tracks <- Mp4Codec.demux(row.content)
            t <- tracks.find(t => t.kind == "soun" && t.fourcc == "fLaC")
            stream <- Mp4Codec.flacStream(t)
            pcm <- FlacCodec.decode(stream)
          } yield FlacCodec.toWav(pcm))
          .orElse(for { // FLAC in Matroska/WebM (RFC 8794 EBML + A_FLAC mapping)
            tracks <- MkvCodec.demux(row.content)
            t <- tracks.find(_.codecId == "A_FLAC")
            stream <- MkvCodec.flacStream(t)
            pcm <- FlacCodec.decode(stream)
          } yield FlacCodec.toWav(pcm)) match {
          case Some(wav) =>
            Seq(MediaFeatures(row.asset_id, "audio", 0,
              wav.sampleRate, wav.channels, WavCodec.bandEnergies(wav),
              feature_real = true))
          case None =>
            // ??? — remaining perceptual codecs (mp3/AAC) absent:
            // deterministic fake for the PCM FEATURE tier only. The mp3
            // METADATA tier (frame walk, duration, bitrate, tags) is
            // real and hash-gated — [[Mp3Codec]] / `q_mp3_scan`; PCM
            // decode stays a stand-in because the ISO normative tables
            // are not reproducible offline (Mp3Codec scaladoc).
            noCodec(row, "compressed-audio")
            Seq(MediaFeatures(row.asset_id, "audio", 0, 0, 0,
              fakeFeature(row.content, 5), feature_real = false))
        }
      case "video" =>
        // ZMBV (inter-frame, lossless — [[ZmbvCodec]]) decodes for real
        // when the AVI header names it; MJPEG decodes per-frame via
        // ImageIO. Both are REAL paths; only non-AVI containers (H.264 in
        // mp4…) fall through to the fake.
        lazy val zmbv = AviCodec.videoInfo(row.content) match {
          case Some(("ZMBV", w, h)) =>
            AviCodec.frames(row.content)
              .filter(_.nonEmpty)
              .flatMap(ZmbvCodec.decode(w, h, _))
          case _ => None
        }
        // MS-RLE (BI_RLE8) AVI: the other real inter-frame path — skip-
        // based conditional replenishment, palette from the strf table
        lazy val mrle = AviCodec.videoInfo(row.content) match {
          case Some(("MRLE", w, h)) =>
            for {
              pal <- AviCodec.palette8(row.content)
              payloads <- AviCodec.frames(row.content).filter(_.nonEmpty)
              video <- MsRleCodec.decode(w, h, pal, payloads)
            } yield video
          case _ => None
        }
        AviCodec.frames(row.content) match {
          case Some(payloads) if payloads.nonEmpty && mrle.isDefined =>
            rgbFrameFeatures(row.asset_id,
              mrle.get.frames.map(f => (f.width, f.height, f.rgb _)))
          case Some(payloads) if payloads.nonEmpty && zmbv.isDefined =>
            // real path: decoded ZMBV frames — same avg-color feature
            // shape as the MJPEG branch, sampled with the same stride
            rgbFrameFeatures(row.asset_id,
              zmbv.get.frames.map(f => (f.width, f.height, f.rgb _)))
          case Some(payloads) if payloads.nonEmpty =>
            // real path: MJPEG-AVI — every frame is a baseline JPEG the
            // from-spec JpegCodec decodes (bit-identical to ImageIO);
            // sample ≤ MaxFrames evenly across the WHOLE clip (ceiling
            // stride: length/MaxFrames keeps only the first MaxFrames
            // frames of a 33..63-frame clip and drops the tail)
            val stride = (payloads.length + MaxFrames - 1) / MaxFrames
            payloads.zipWithIndex
              .collect { case (p, i) if i % stride == 0 => p -> i }
              .take(MaxFrames)
              .flatMap { case (p, i) =>
                ImageOps.decode(p).map { img =>
                  val (r, g, b) = ImageOps.averageColor(img)
                  MediaFeatures(row.asset_id, "video", i, img.width, img.height,
                    Array(r / 255f, g / 255f, b / 255f,
                      img.width.toFloat, img.height.toFloat),
                    feature_real = true)
                }
              }
          case _ =>
            // real path: VfW-era codecs carried in Matroska per the
            // public V_MS/VFW/FOURCC mapping (BITMAPINFOHEADER in
            // CodecPrivate) — the same ZMBV/MRLE payloads AVI carries,
            // decoded by the same codecs
            val mkvVfw = for {
              tracks <- MkvCodec.demux(row.content)
              t <- tracks.find(_.codecId == "V_MS/VFW/FOURCC")
              inf <- MkvCodec.vfwInfo(t)
              frames <- inf match {
                case ("ZMBV", w, h) =>
                  ZmbvCodec.decode(w, h, t.frames)
                    .map(_.frames.map(f => (f.width, f.height, f.rgb _)))
                case ("MRLE", w, h) =>
                  MkvCodec.vfwPalette8(t)
                    .flatMap(pal => MsRleCodec.decode(w, h, pal, t.frames))
                    .map(_.frames.map(f => (f.width, f.height, f.rgb _)))
                case _ => None
              }
            } yield frames
            // real path: MP4-carried MJPEG ([[Mp4Codec]] demux; samples
            // are plain baseline JPEGs JpegCodec decodes) — the BMFF twin of MJPEG-AVI
            lazy val jpegs = (for {
              tracks <- Mp4Codec.demux(row.content)
              t <- tracks.find(t => t.kind == "vide" &&
                (t.fourcc == "jpeg" || t.fourcc == "mjpg"))
            } yield t.samples)
              .orElse(for { // MJPEG in Matroska (V_MJPEG blocks are JPEGs)
                tracks <- MkvCodec.demux(row.content)
                t <- tracks.find(t => t.kind == "vide" && t.codecId == "V_MJPEG")
              } yield t.frames)
            mkvVfw match {
              case Some(frames) if frames.nonEmpty =>
                rgbFrameFeatures(row.asset_id, frames)
              case _ => jpegs match {
                case Some(payloads) if payloads.nonEmpty =>
                  val stride = (payloads.length + MaxFrames - 1) / MaxFrames
                  payloads.zipWithIndex
                    .collect { case (p, i) if i % stride == 0 => p -> i }
                    .take(MaxFrames)
                    .flatMap { case (p, i) =>
                      ImageOps.decode(p).map { img =>
                        val (r, g, b) = ImageOps.averageColor(img)
                        MediaFeatures(row.asset_id, "video", i, img.width, img.height,
                          Array(r / 255f, g / 255f, b / 255f,
                            img.width.toFloat, img.height.toFloat),
                          feature_real = true)
                      }
                    }
                case _ =>
                  // ??? — compressed video codec (H.264/VP9) absent:
                  // deterministic fake, one "frame" per frameStride KiB of payload
                  noCodec(row, "compressed-video")
                  val nFrames = math.max(1, row.content.length / (frameStride * 1024))
                  (0 until nFrames).map(i =>
                    MediaFeatures(row.asset_id, "video", i, 0, 0,
                      fakeFeature(row.content, 5, salt = i), feature_real = false))
              }
            }
        }
      case _ =>
        // a stray non-media file (a README in the asset tree) must not
        // kill a 100 TB ingest: permissive mode skips it — emitting no
        // row at all, so nothing downstream can mistake it for data —
        // while strict mode still fails loudly like every other payload
        // the engine cannot really decode
        noCodec(row, s"modality '${row.modality}'")
        Seq.empty
    }

    /** Shared shape of every real video path: sample ≤ MaxFrames frames
      * evenly across the clip (ceiling stride) and reduce each decoded
      * frame — (width, height, per-pixel rgb accessor) — to the
      * avg-color feature row.
      */
    private def rgbFrameFeatures(assetId: String,
        frames: Seq[(Int, Int, (Int, Int) => (Int, Int, Int))]): Seq[MediaFeatures] = {
      val stride = (frames.length + MaxFrames - 1) / MaxFrames
      frames.zipWithIndex
        .collect { case (f, i) if i % stride == 0 => f -> i }
        .take(MaxFrames)
        .map { case ((w, h, rgb), i) =>
          val (sr, sg, sb) = ImageOps.channelSums(w, h, rgb)
          val n = (w.toLong * h).toFloat
          MediaFeatures(assetId, "video", i, w, h,
            Array(sr / n / 255f, sg / n / 255f, sb / n / 255f,
              w.toFloat, h.toFloat),
            feature_real = true)
        }
    }

    private def fakeFeature(bytes: Array[Byte], n: Int, salt: Int = 0): Array[Float] = {
      var h = 1125899906842597L + salt
      bytes.foreach(b => h = 31 * h + b)
      Array.tabulate(n) { i =>
        val x = h ^ (h >>> 17) ^ (i * 2654435761L)
        ((x & 0xFFFF).toFloat / 0xFFFF.toFloat) - 0.5f
      }
    }
  }

  /** The batch transform: per-partition decoder construction, flatMap to
    * feature rows. Binary payloads never shuffle — featurization happens
    * where the scan put the bytes, and only small feature vectors move on.
    */
  def extractFeatures(media: Dataset[MediaRow],
      mkDecoder: () => MediaDecoder = () => new DefaultDecoder()): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val dec = mkDecoder()
      rows.flatMap(dec.features)
    }
  }

  /** Strict variant: payloads this environment has no real codec for
    * (mp3, non-AVI video) FAIL the job instead of yielding
    * deterministic fakes — the only safe default for training pipelines.
    */
  def extractFeaturesStrict(media: Dataset[MediaRow]): Dataset[MediaFeatures] =
    extractFeatures(media, () => new DefaultDecoder(strict = true))

  /** Wrap a binaryFile scan into MediaRows, inferring modality from the
    * extension — the ingestion edge of the multimodal pipeline.
    */
  def scanMedia(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    val ext = lower(regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1))
    graft.sources.Sources.binaryTree(spark, dir, "*")
      .select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("asset_id"),
        when(ext.isin("jpg", "jpeg", "png", "bmp", "gif", "qoi", "tif",
          "tiff"), "image")
          .when(ext.isin("wav", "mp3", "flac", "m4a", "ogg", "mka", "aif",
            "aiff"), "audio")
          .when(ext.isin("avi", "mp4", "mkv", "webm"), "video")
          .otherwise("unknown").as("modality"),
        concat(lit("application/"), ext).as("mime"),
        col("content"),
        map(lit("length"), col("length").cast("string"),
          lit("path"), col("path")).as("meta"))
      .as[MediaRow]
  }
}
