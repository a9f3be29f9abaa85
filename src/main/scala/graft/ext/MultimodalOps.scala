package graft.ext

import graft.functions.Kernels
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support (LLM-pipeline pillar #4): image/audio/
  * video payloads travel as opaque `binary` columns beside a typed
  * metadata struct; decode/resize/frame-sample run batch-at-a-time
  * inside partitions (the Scala analog of `mapInPandas` — same batch
  * shape, same executor-side placement, no driver involvement).
  *
  * REAL here: the schema convention, the byte-level feature kernels
  * (native expressions — histograms/stats over the raw bytes are
  * genuine signal and need no media libraries), the partition/batch
  * plumbing, and the frame-sampling index math.
  * STUBBED here: pixel/sample decoding — this container has no
  * image/audio codecs, so [[fakeDecode]] is a clearly-marked
  * deterministic stand-in (documented at each use). Swapping it for a
  * real JNI/javax.imageio decoder changes no schema, partitioning, or
  * call shape.
  *
  * Scale posture: media blobs are large (MB+) — never shuffle them.
  * Every operator below is map-side (scan → decode → project); outputs
  * are small typed columns (features, stats, thumbnails), and any
  * downstream join/group moves those, not the blobs. Partition sizing:
  * media tables want smaller `maxPartitionBytes` so a partition's
  * blobs fit executor memory during decode.
  */
object MultimodalOps {

  /** Typed metadata carried beside every media blob. */
  val metaSchema: StructType = StructType(Seq(
    StructField("modality", StringType, nullable = false),
    StructField("fmt", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false)))

  /** content + meta — the canonical media-table schema. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("content", BinaryType, nullable = false),
    StructField("meta", metaSchema, nullable = false)))

  /** Native resize over an already-decoded pixel column: area-average
    * box filter ([[graft.functions.HashKernels.resizeArea]] — exact
    * integer block bounds, deterministic float accumulation), source
    * dims per ROW (`w`/`h` are expressions — media tables mix sizes),
    * target dims plan-time. Codegen'd; stays inside whole-stage like
    * the byte kernels. Hand-written: three inputs, two of them per-row
    * dimensions, which the kernel table does not declare. */
  case class ResizePixelsExpr(pixels: Expression, w: Expression, h: Expression,
      ow: Int, oh: Int)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
    require(ow >= 1 && oh >= 1, s"target dims must be >= 1, got ${ow}x$oh")
    override def first: Expression = pixels
    override def second: Expression = w
    override def third: Expression = h
    override def dataType: DataType = ArrayType(FloatType, containsNull = false)
    override protected def nullSafeEval(p: Any, ww: Any, hh: Any): Any =
      graft.functions.HashKernels.resizePixels(
        p.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        ww.asInstanceOf[Int], hh.asInstanceOf[Int], ow, oh)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, (p, ww, hh) =>
        s"graft.functions.HashKernels.resizePixels($p, $ww, $hh, $ow, $oh)")
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): ResizePixelsExpr =
      copy(pixels = f, w = s, h = t)
    override def prettyName: String = "graft_resize"
  }

  def resizePixels(px: Column, w: Column, h: Column, ow: Int, oh: Int): Column =
    toColumn(ResizePixelsExpr(toExpression(px), toExpression(w), toExpression(h), ow, oh))

  /** The byte kernels, declared in [[graft.functions.Kernels]]. */
  def byteStats(c: Column): Column = Kernels.ByteStats(c)()
  def byteHist(c: Column, bins: Int): Column = Kernels.ByteHist(c)(bins)
  def byteHistCounts(c: Column, bins: Int): Column = Kernels.ByteHistCounts(c)(bins)
  def byteSegGradHash(c: Column, segs: Int): Column = Kernels.BytePhash(c)(segs)
  def byteLaplacian(c: Column): Column = Kernels.ByteLaplacian(c)()
  def byteRunStats(c: Column): Column = Kernels.ByteRuns(c)()
  def byteBandEnergyHash(c: Column, frames: Int, bands: Int): Column =
    Kernels.ByteBandHash(c)(frames, bands)

  /** DETERMINISTIC FAKE decoder — stands in for libjpeg/ffmpeg (absent
    * in this container). Produces `w*h` floats in [0,1) from a
    * splitmix-style hash of the bytes; bit-reproducible, so tests can
    * assert end-to-end plumbing. A real decoder drops in with the same
    * (Array[Byte], Int, Int) => Array[Float] signature. */
  def fakeDecode(bytes: Array[Byte], w: Int, h: Int): Array[Float] = {
    var seed = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < bytes.length) { seed = (seed ^ (bytes(i) & 0xffL)) * 0x100000001b3L; i += 1 }
    val out = new Array[Float](w * h)
    i = 0
    while (i < out.length) {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      out(i) = ((seed >>> 40).toInt & 0xffffff) / 16777216.0f
      i += 1
    }
    out
  }

  /** Decode each blob to pixel features, batch-at-a-time inside the
    * partition — the `mapInPandas` shape: elements are staged into
    * `batchSize` groups so a real decoder can amortize codec setup
    * (and a vectorized library can process a batch per call). Output:
    * (media_id, pixels: array<float>) — blobs never leave the scan. */
  def decodeToPixels(df: DataFrame, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("pixels", ArrayType(FloatType, containsNull = false), nullable = false)))
    df.select(col("media_id"), col("content"), col("meta.width"), col("meta.height"))
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // one "codec call" per batch (stubbed: fakeDecode per element)
          batch.iterator.map { r =>
            val px = fakeDecode(r.getAs[Array[Byte]](1), r.getInt(2), r.getInt(3))
            Row(r.getLong(0), px.toSeq)
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Decode + resize in ONE partition-local batch pass — the production
    * thumbnail pipeline: the blob is decoded and immediately downsampled
    * inside the same batch loop, so the full-resolution pixel array
    * never rematerializes between operators (at media scale the decoded
    * frame is the big object, not the blob). Output:
    * (media_id, thumb: array<float> of `ow`×`oh`). Same batch shape /
    * stub-decoder contract as [[decodeToPixels]]. */
  def thumbnails(df: DataFrame, ow: Int, oh: Int, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("thumb", ArrayType(FloatType, containsNull = false), nullable = false)))
    df.select(col("media_id"), col("content"), col("meta.width"), col("meta.height"))
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val w = r.getInt(2); val h = r.getInt(3)
            val px = fakeDecode(r.getAs[Array[Byte]](1), w, h)
            Row(r.getLong(0),
              graft.functions.HashKernels.resizeArea(px, w, h, ow, oh).toSeq)
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Deterministic frame sampling for video blobs: every `every`-th
    * frame index plus always the last — the index math is real; the
    * per-frame byte ranges assume fixed-size frames (n_bytes/n_frames),
    * which holds for raw containers and stands in for a demuxer. */
  def sampleFrameIndices(nFrames: Int, every: Int): Seq[Int] = {
    if (nFrames <= 0) Seq.empty
    else ((0 until nFrames by every) ++ Seq(nFrames - 1)).distinct
  }

  /** Explode sampled frames: (media_id, frame_idx, frame_bytes).
    * Pure column expressions end-to-end (round-4 advice: the former
    * index/slice UDFs broke whole-stage codegen on a path that scans
    * every blob): the index set is a stepped `sequence` plus the final
    * frame, first-occurrence-dedup'd by `array_distinct` — exactly
    * [[sampleFrameIndices]] — and the slice is `substr` on the binary
    * column, which clamps at the blob end like `Array.slice`. Slicing
    * is real byte math over the blob; decode of each frame would chain
    * [[decodeToPixels]]. */
  def sampleFrames(df: DataFrame, every: Int): DataFrame = {
    require(every >= 1, s"every must be >= 1, got $every")
    val nf = col("nf")
    val idx = when(nf <= 0, array().cast("array<int>"))
      .otherwise(array_distinct(concat(
        sequence(lit(0), nf - 1, lit(every)), array(nf - 1))))
    val sz = greatest(lit(1),
      floor(length(col("content")) / greatest(nf, lit(1))).cast("int"))
    df.select(col("media_id"), col("content"), col("meta.n_frames").as("nf"))
      .withColumn("frame_idx", explode(idx))
      .select(col("media_id"), col("frame_idx"),
        col("content").substr(col("frame_idx") * sz + lit(1), sz).as("frame_bytes"))
  }
}
