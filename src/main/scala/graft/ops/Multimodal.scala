package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: images/audio/video ride through the engine as
  * opaque `binary` columns plus typed metadata (SURVEY.md §2.8; reference
  * decodes with cv2 at pixel_processing.py:15, cut600.py:17).
  *
  * Decode is REAL for the reference's formats — JPEG (and PNG/BMP/GIF) via
  * the JDK's javax.imageio and Radiance-RGBE `.hdr` via a hand-rolled
  * reader, see [[Codecs]]; unknown or corrupt blobs fall back to the
  * deterministic stub so a bad file degrades instead of failing the
  * partition (act_img.py:287-289's try/except-skip).
  */
object Multimodal {

  /** Decoded-media metadata row. */
  case class MediaMeta(
      path: String,
      byteLen: Long,
      width: Int,
      height: Int,
      channels: Int,
      meanLuma: Double)

  /** STUB decoder — the fallback for blobs [[Codecs]] can't decode (and a
    * deterministic stand-in for codecs the JDK lacks, e.g. video):
    * fake dimensions/luminance derived from the bytes, same schema and
    * dataflow as the real decoders.
    */
  def decodeStub(path: String, bytes: Array[Byte]): MediaMeta = {
    val n = bytes.length
    def b(i: Int): Int = if (n == 0) 0 else bytes(((i % n) + n) % n) & 0xff
    // fake 4:3 geometry seeded by content, fake luma = mean of a byte stride
    val w = 160 + 16 * (b(0) % 8)
    val h = w * 3 / 4
    val stride = math.max(1, n / 256)
    val luma =
      if (n == 0) 0.0
      else (0 until n by stride).map(i => bytes(i) & 0xff).sum.toDouble /
        ((n + stride - 1) / stride)
    MediaMeta(path, n.toLong, w, h, 3, luma)
  }

  /** Decode a binaryFile-style DataFrame (path, content) to metadata rows.
    * mapPartitions keeps the decode batched per partition (one codec init
    * per partition, not per row) — the Spark-side shape a real decoder needs.
    */
  def decodeMeta(files: DataFrame): Dataset[MediaMeta] = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (p, bytes) => Codecs.decode(p, bytes) }
      }
  }

  /** Frame sampling for video-like blobs: treat `content` as fixed-size
    * frames, keep every `everyNth` one — pure expression byte-slicing
    * (substring on binary), one output row per sampled frame. The frame
    * decode stays a stub (no codecs here); the partitioning, slicing and
    * explode shape are the real thing a video pipeline needs.
    */
  def sampleFrames(files: DataFrame, frameBytes: Int, everyNth: Int)
      : DataFrame = {
    val nFrames = floor(col("length") / frameBytes)
    val picks = sequence(lit(0), greatest(
      ceil(nFrames / everyNth).cast("int") - 1, lit(0)))
    files
      .filter(col("length") >= frameBytes)
      .select(col("path"),
        posexplode(transform(picks, i =>
          substring(col("content"),
            (i * everyNth * frameBytes + 1).cast("int"), lit(frameBytes))))
          .as(Seq("frame_idx", "frame")))
      .select(col("path"), col("frame_idx"),
        md5(col("frame")).as("frame_md5"), length(col("frame")).as("n"))
  }

  /** Resize stage: stub scale math over decoded metadata, real batched
    * mapPartitions dataflow (cut600.py:30-32's 800->640 analogue).
    */
  def resizeMeta(files: DataFrame, targetW: Int): Dataset[MediaMeta] = {
    val spark = files.sparkSession
    import spark.implicits._
    decodeMeta(files).map { m =>
      val scale = targetW.toDouble / m.width
      m.copy(width = targetW, height = (m.height * scale).toInt)
    }
  }

  /** Generated image: one row per input pose — geometry, mean intensity,
    * and the full row-major pixel plane (sigmoid outputs in [0,1]).
    */
  case class GeneratedImage(id: Long, width: Int, height: Int, mean: Double,
      pixels: Array[Float])

  /** VectorToImage generator weights (train.py:5-70's architecture at a
    * configurable resolution): dense d→hidden→cIn·grid² (ReLU after
    * each), reshape to (cIn, grid, grid), one 3×3 same-padding conv
    * (cIn→cMid, ReLU), bilinear ×2 upsample, bilinear resize to
    * (outSize, outSize) — both align_corners=false — then a 1×1 conv
    * head (cMid→1) and sigmoid. The reference's BatchNorm layers are
    * omitted deliberately: inference-mode BN with frozen running stats
    * is a per-channel affine that folds into the adjacent linear/conv
    * weights (standard deployment folding), so a trained checkpoint maps
    * onto exactly these arrays.
    *
    * Layouts: w1[hidden][d], w2[cIn·grid²][hidden] (torch
    * `view(-1, c, g, g)` row-major: index = c·g² + y·g + x),
    * conv3[cMid][cIn][3][3], head[cMid].
    */
  case class V2IWeights(
      w1: Array[Array[Double]], b1: Array[Double],
      w2: Array[Array[Double]], b2: Array[Double],
      conv3: Array[Array[Array[Array[Double]]]], b3: Array[Double],
      head: Array[Double], headB: Double,
      grid: Int, outSize: Int) {
    def inDim: Int = w1(0).length
    def hidden: Int = w1.length
    def cIn: Int = conv3(0).length
    def cMid: Int = conv3.length
    require(w2.length == cIn * grid * grid,
      s"w2 rows ${w2.length} != cIn*grid^2 ${cIn * grid * grid}")
    require(head.length == cMid && b3.length == cMid)
  }

  object V2IWeights {
    /** Deterministic checkpoint stand-in (splitmix64 over the index
      * space, centered small weights) — the torch stack that would load
      * a real .pt is absent from this container, but the forward pass
      * below is the complete architecture, so swapping these arrays for
      * exported trained weights changes nothing structurally.
      */
    def seeded(inDim: Int = 6, hidden: Int = 32, cIn: Int = 4,
        cMid: Int = 2, grid: Int = 8, outSize: Int = 40): V2IWeights = {
      def sm(x0: Long): Double = { // splitmix64 -> (-0.5, 0.5)
        var z = x0 + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z = z ^ (z >>> 31)
        (z >>> 11).toDouble / (1L << 53).toDouble - 0.5
      }
      var k = 0L
      def next(): Double = { k += 1; sm(k) }
      V2IWeights(
        w1 = Array.fill(hidden, inDim)(next() * 0.5),
        b1 = Array.fill(hidden)(next() * 0.1),
        w2 = Array.fill(cIn * grid * grid, hidden)(next() * 0.3),
        b2 = Array.fill(cIn * grid * grid)(next() * 0.1),
        conv3 = Array.fill(cMid, cIn, 3, 3)(next() * 0.4),
        b3 = Array.fill(cMid)(next() * 0.1),
        head = Array.fill(cMid)(next()),
        headB = next() * 0.1,
        grid = grid, outSize = outSize)
    }
  }

  /** Bilinear resample of a (h, w) plane to (oh, ow), align_corners=false
    * (torch nn.Upsample's default, train.py:40-58): source coordinate of
    * output i is (i+0.5)·h/oh − 0.5, clamped, linearly blended between
    * its floor/ceil neighbors.
    */
  private[ops] def bilinear(src: Array[Double], h: Int, w: Int,
      oh: Int, ow: Int): Array[Double] = {
    val out = new Array[Double](oh * ow)
    var oy = 0
    while (oy < oh) {
      val sy = math.min(math.max((oy + 0.5) * h / oh - 0.5, 0.0), h - 1.0)
      val y0 = sy.toInt; val y1 = math.min(y0 + 1, h - 1); val fy = sy - y0
      var ox = 0
      while (ox < ow) {
        val sx = math.min(math.max((ox + 0.5) * w / ow - 0.5, 0.0), w - 1.0)
        val x0 = sx.toInt; val x1 = math.min(x0 + 1, w - 1); val fx = sx - x0
        out(oy * ow + ox) =
          src(y0 * w + x0) * (1 - fy) * (1 - fx) +
            src(y0 * w + x1) * (1 - fy) * fx +
            src(y1 * w + x0) * fy * (1 - fx) +
            src(y1 * w + x1) * fy * fx
        ox += 1
      }
      oy += 1
    }
    out
  }

  /** The full forward pass, pure and Spark-free (golden-tested against a
    * numpy implementation of the same architecture in MultimodalSpec).
    */
  def v2iForward(wts: V2IWeights, x: Array[Double]): Array[Float] = {
    val g = wts.grid
    // dense stack (train.py:11-18 sans folded BN)
    def dense(w: Array[Array[Double]], b: Array[Double],
        in: Array[Double]): Array[Double] =
      Array.tabulate(w.length) { i =>
        var acc = b(i); var j = 0
        while (j < in.length) { acc += w(i)(j) * in(j); j += 1 }
        math.max(acc, 0.0) // ReLU
      }
    val z2 = dense(wts.w2, wts.b2, dense(wts.w1, wts.b1, x))
    // view(-1, cIn, g, g) + 3x3 same conv + ReLU (train.py:23-25)
    val mid = Array.tabulate(wts.cMid) { co =>
      val plane = new Array[Double](g * g)
      var y = 0
      while (y < g) {
        var xx = 0
        while (xx < g) {
          var acc = wts.b3(co)
          var ci = 0
          while (ci < wts.cIn) {
            var ky = -1
            while (ky <= 1) {
              val sy = y + ky
              if (sy >= 0 && sy < g) {
                var kx = -1
                while (kx <= 1) {
                  val sx = xx + kx
                  if (sx >= 0 && sx < g)
                    acc += wts.conv3(co)(ci)(ky + 1)(kx + 1) *
                      z2(ci * g * g + sy * g + sx)
                  kx += 1
                }
              }
              ky += 1
            }
            ci += 1
          }
          plane(y * g + xx) = math.max(acc, 0.0)
          xx += 1
        }
        y += 1
      }
      plane
    }
    // bilinear x2 then to (out, out) (train.py:40-58), per channel
    val out = wts.outSize
    val up = mid.map { p =>
      bilinear(bilinear(p, g, g, 2 * g, 2 * g), 2 * g, 2 * g, out, out)
    }
    // 1x1 conv head + sigmoid (train.py:59-60)
    Array.tabulate(out * out) { i =>
      var acc = wts.headB; var c = 0
      while (c < wts.cMid) { acc += wts.head(c) * up(c)(i); c += 1 }
      (1.0 / (1.0 + math.exp(-acc))).toFloat
    }
  }

  /** Broadcast-weights + mapPartitions batch inference — the Spark shape
    * for the reference's VectorToImage generator (train.py:5-70: 6-dim
    * pose vector -> (1, 640, 640) image; model-only in the reference, it
    * never ran — run here at a configurable reduced resolution):
    *
    *   - weights ship ONCE per executor via a broadcast variable, not
    *     per task and never per row;
    *   - the model is materialized from the broadcast once per PARTITION
    *     (the `bw.value` inside mapPartitions but outside the row loop —
    *     with torch this is where the module would be rebuilt and moved
    *     to the device);
    *   - rows then stream through the resident model.
    *
    * `initCounter`, when supplied, is bumped once per partition-level
    * model init — the test seam proving per-partition (not per-row) init.
    */
  def inferImages(poses: DataFrame, idCol: String, vecCols: Seq[String],
      weights: V2IWeights = V2IWeights.seeded(),
      initCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[GeneratedImage] = {
    val spark = poses.sparkSession
    import spark.implicits._
    require(weights.inDim == vecCols.length,
      s"model expects ${weights.inDim}-dim input, got ${vecCols.length} cols")
    val bw = spark.sparkContext.broadcast(weights)
    val rows = poses.select(col(idCol).cast("long").as("id"),
      array(vecCols.map(c => col(c).cast("double")): _*).as("v"))
      .as[(Long, Seq[Double])]
    rows.mapPartitions { it =>
      val w = bw.value // one model materialization per partition
      initCounter.foreach(_.add(1))
      it.map { case (id, v) =>
        val px = v2iForward(w, v.toArray)
        var s = 0.0; var i = 0
        while (i < px.length) { s += px(i); i += 1 }
        GeneratedImage(id, w.outSize, w.outSize, s / px.length, px)
      }
    }
  }
}
