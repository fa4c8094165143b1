package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.images.{Detection, ImageOps}
import graft.multimodal.{InflateCodec, JpegCodec, PngCodec}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-layer figures. Each is measured from outside the layer: counters
  * from the listeners, or the wall time of calls into a layer's public
  * functions on this seed's inputs.
  */
object Layers {
  private val MB = 1e6

  /** Peak resident memory of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble * 1024 / MB).getOrElse(0.0)

  /** Scheduler figures per traced pass. */
  def sparkMetrics(l: Ledger, p: PlanLedger, cachedMb: Seq[Double], passS: Seq[Double],
      cores: Int): Seq[(String, Double)] = {
    val t = l.total
    val n = passS.size.toDouble
    Seq(
      "spark.jobs" -> t.jobs / n,
      "spark.stages" -> t.stages / n,
      "spark.tasks" -> t.tasks / n,
      "spark.sched_delay_s" -> t.schedDelayMs / 1e3 / n,
      "spark.busy_frac" -> t.taskRunMs / 1e3 / (cores * passS.sum),
      "spark.task_cpu_s" -> t.taskCpuNs / 1e9 / n,
      "spark.gc_s" -> t.gcMs / 1e3 / n,
      "spark.shuffle_write_mb" -> t.shuffleWriteBytes / MB / n,
      "spark.shuffle_records" -> t.shuffleRecords / n,
      "spark.spill_mb" -> t.spillBytes / MB / n,
      "spark.input_mb" -> t.inputBytes / MB / n,
      "spark.output_mb" -> t.outputBytes / MB / n,
      "spark.cached_mb_after_query" -> (if (cachedMb.isEmpty) 0.0 else cachedMb.max),
      "spark.join_rows_per_result_row" ->
        p.joinRows.get.toDouble / math.max(p.resultRows.get, 1L))
  }

  /** Wall seconds per pipeline stage and the scan amplification. */
  def imageStages(stageS: collection.Map[String, Double], p: PlanLedger, treeBytes: Long,
      passes: Int): Seq[(String, Double)] = {
    val n = passes.toDouble
    Seq("detect", "colors", "stats", "write").map(s => s"images.stage.${s}_s" -> stageS(s) / n) :+
      ("images.scan_amplification" -> (if (treeBytes > 0) p.binaryBytes.get.toDouble / (treeBytes * n) else 0.0))
  }

  /** Per query family: eager work in run(), planning and execution of the
    * final write, jobs and task CPU, each per pass.
    */
  def families(recs: Seq[Record], planMs: Map[String, Double], l: Ledger,
      passes: Int): Seq[(String, Double)] = {
    val n = passes.toDouble
    Seq("operators", "text", "dedup", "similarity", "sources", "streaming").flatMap { f =>
      val rs = recs.filter(_.family == f)
      val plan = rs.map(_.name).distinct.map(planMs.getOrElse(_, 0.0)).sum
      val c = l.counters(l.byFamily, f)
      Seq(
        s"$f.run_ms" -> rs.map(_.runMs).sum / n,
        s"$f.plan_ms" -> plan / n,
        s"$f.exec_ms" -> math.max(rs.map(_.writeMs).sum - plan, 0.0) / n,
        s"$f.jobs" -> c.jobs / n,
        s"$f.task_cpu_s" -> c.taskCpuNs / 1e9 / n)
    }
  }

  /** Median over `reps` of the seconds one call of `body` takes. */
  private def time(reps: Int)(body: => Unit): Double = {
    body // warm: class loading, JIT of the first calls
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })
  }

  private def files(entries: Seq[Landmarks.Entry], root: Path, fmt: String): Seq[Array[Byte]] =
    entries.filter(_.format == fmt).map(e => Files.readAllBytes(root.resolve(e.relPath)))

  /** Driver-side per-image milliseconds on this seed's images. */
  def images(entries: Seq[Landmarks.Entry], root: Path): Seq[(String, Double)] = {
    val bytes = entries.map(e => Files.readAllBytes(root.resolve(e.relPath)))
    val imgs = bytes.flatMap(ImageOps.decode)
    val stub = new Detection.StubDetector
    val n = imgs.size.toDouble
    Seq(
      "images.decode_ms" -> time(3)(bytes.foreach(ImageOps.decode)) * 1e3 / n,
      "images.dominant_color_ms" -> time(3)(imgs.foreach(ImageOps.dominantColor(_))) * 1e3 / n,
      "images.average_color_ms" -> time(3)(imgs.foreach(ImageOps.averageColor)) * 1e3 / n,
      "images.detect_ms" -> time(3)(imgs.foreach(i =>
        Detection.nms(stub.detect(Detection.letterboxImage(i))))) * 1e3 / n)
  }

  /** The zlib stream of a PNG (its IDAT payloads, concatenated) and the
    * inflated size its header implies (8-bit RGB/RGBA, no interlace).
    */
  def idat(png: Array[Byte]): (Array[Byte], Int) = {
    val buf = java.nio.ByteBuffer.wrap(png)
    val out = new java.io.ByteArrayOutputStream()
    var pos = 8
    var w, h, channels = 0
    while (pos + 8 <= png.length) {
      val len = buf.getInt(pos)
      val kind = new String(png, pos + 4, 4, "US-ASCII")
      if (kind == "IHDR") {
        w = buf.getInt(pos + 8); h = buf.getInt(pos + 12)
        channels = if (png(pos + 17) == 6) 4 else 3
      }
      if (kind == "IDAT") out.write(png, pos + 8, len)
      pos += 12 + len
    }
    (out.toByteArray, h * (1 + w * channels))
  }

  /** Codec throughput in MB/s of encoded input against ImageIO, and the
    * inflater against java.util.zip on the same IDAT streams (MB/s of
    * inflated output).
    */
  def multimodal(entries: Seq[Landmarks.Entry], root: Path): Seq[(String, Double)] = {
    val jpgs = files(entries, root, "jpg")
    val pngs = files(entries, root, "png")
    def rate(data: Seq[Array[Byte]], s: Double) = data.map(_.length).sum / MB / s
    val jpeg = rate(jpgs, time(3)(jpgs.foreach(JpegCodec.decode)))
    val jpegIio = rate(jpgs, time(3)(jpgs.foreach(ImageOps.decodeImageIO)))
    val png = rate(pngs, time(3)(pngs.foreach(PngCodec.decode)))
    val pngIio = rate(pngs, time(3)(pngs.foreach(ImageOps.decodeImageIO)))
    val streams = pngs.map(idat)
    val raw = streams.map(_._2.toLong).sum / MB
    val inflate = raw / time(5)(streams.foreach { case (z, n) => InflateCodec.zlib(z, n) })
    val jdk = raw / time(5)(streams.foreach { case (z, n) =>
      val inf = new java.util.zip.Inflater()
      inf.setInput(z)
      val out = new Array[Byte](n)
      var off = 0
      while (off < n && !inf.finished()) off += inf.inflate(out, off, n - off)
      inf.end()
    })
    Seq(
      "multimodal.jpeg_decode_mb_s" -> jpeg,
      "multimodal.jpeg_decode_vs_imageio" -> jpeg / jpegIio,
      "multimodal.png_decode_mb_s" -> png,
      "multimodal.png_decode_vs_imageio" -> png / pngIio,
      "multimodal.inflate_mb_s" -> inflate,
      "multimodal.inflate_vs_jdk" -> inflate / jdk)
  }

  /** Text the kernel selects run over, in MB: enough that a kernel's
    * work outweighs the fixed cost of the job that runs it.
    */
  val KernelTextMb = 8.0

  val XxhashRounds = 32

  /** Engine kernels as noop selects over this seed's documents and
    * embeddings, the documents copied until they hold [[KernelTextMb]] of
    * text (the embeddings as many times). Each select is timed against the
    * same select of the bare column, and the figure is the kernel's share
    * of the time: the job's own fixed cost is left out.
    */
  def kernels(spark: SparkSession, tables: String): Seq[(String, Double)] = {
    import graft.plans.{CdcExpression, ShingleExpression, SimHashExpression, WinnowExpression}
    import graft.plans.VectorExpressions.{dot_long, quantize_vec}
    val rawDocs = spark.read.parquet(s"$tables/documents.parquet")
    val rawMb = rawDocs.select(sum(length(col("text")))).head().getLong(0) / MB
    val reps = spark.range(math.max(1L, math.ceil(KernelTextMb / rawMb).toLong)).toDF("r")
    val docs = rawDocs.crossJoin(reps)
      .select(concat(col("text"), lit(" "), col("r").cast("string")).as("s")).persist()
    val vecs = spark.read.parquet(s"$tables/embeddings.parquet")
      .crossJoin(reps).select(col("embedding").as("v")).persist()
    val docMb = docs.select(sum(length(col("s")))).head().getLong(0) / MB
    val nVecs = vecs.count().toDouble
    val dim = vecs.head().getSeq[Float](0).size
    def select(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column): Unit =
      df.select(c).write.format("noop").mode("overwrite").save()
    val docBase = time(5)(select(docs, col("s")))
    val vecBase = time(5)(select(vecs, col("v")))
    def docRate(c: org.apache.spark.sql.Column) = Stats.kernelRate(docMb, time(3)(select(docs, c)), docBase)
    def vecRate(c: org.apache.spark.sql.Column) = Stats.kernelRate(nVecs, time(3)(select(vecs, c)), vecBase)
    // the CDC parameters CdcOps uses
    val out = Seq(
      "plans.shingle_minhash_mb_s" -> docRate(
        graft.dedup.Dedup.minhashSignature(ShingleExpression.shingle_hashes(col("s"), 3))),
      "plans.simhash_mb_s" -> docRate(SimHashExpression.simhash60(col("s"), graft.dedup.Dedup.SimHashBits)),
      "plans.winnow_mb_s" -> docRate(WinnowExpression.winnow_fps(col("s").cast("binary"), 8, 4)),
      "plans.cdc_mb_s" -> docRate(CdcExpression.cdc_bounds(col("s"), 2654435761L, 1L << 31, 32, 16)),
      // xxhash64 is fast enough to hide in the bare select's noise: hash
      // every text XxhashRounds times, chained, and count the bytes so
      "plans.builtin_xxhash64_mb_s" -> XxhashRounds * docRate(xxhash64(Seq.fill(XxhashRounds)(col("s")): _*)),
      "plans.lsh_rows_s" -> vecRate(graft.similarity.Similarity.lshKeysNative(quantize_vec(col("v")), dim)),
      "plans.quantize_dot_rows_s" -> vecRate(dot_long(quantize_vec(col("v")), quantize_vec(col("v")))))
    docs.unpersist(blocking = true)
    vecs.unpersist(blocking = true)
    out
  }
}
