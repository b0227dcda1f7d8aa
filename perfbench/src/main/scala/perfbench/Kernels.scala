package perfbench

import graft.core.{CellId, CvRaster, ImageCodec, Mercator, Pip}
import graft.functions.{GeoKernel, GeoUdfs}

/** The `core` kernels run without Spark, warmed up, over a workload's own
  * tiles, ways and lamps. Each reports ns per operation and the number of
  * operations timed. */
object Kernels {
  final case class Way(lats: Array[Double], lngs: Array[Double])
  final case class Result(name: String, nsPerOp: Double, ops: Long)

  /** Mosaic side of an expand crop's 3x3 viewport, and the crop side
    * (expandPad 88 on each side of a 256 tile). */
  val MosaicSide = 768
  val CropSide = 432

  private var sink = 0L // keeps results observable so no kernel is elided

  /** Repeats `pass` (which performs `opsPerPass` operations) for a warm-up
    * period, then times whole passes for at least `minNs`. */
  def time(name: String, opsPerPass: Int, minNs: Long = 300000000L)(pass: => Long): Result = {
    require(opsPerPass > 0, s"kernel $name has no inputs")
    val warmEnd = System.nanoTime() + minNs / 2
    while (System.nanoTime() < warmEnd) sink += pass
    var ops = 0L
    val t0 = System.nanoTime()
    var t = t0
    while (t - t0 < minNs) { sink += pass; ops += opsPerPass; t = System.nanoTime() }
    Result(name, (t - t0).toDouble / ops, ops)
  }

  def run(jpegs: Seq[Array[Byte]], pngs: Seq[Array[Byte]], roads: Seq[Way],
          buildings: Seq[Way], lamps: Seq[(Double, Double)], ext: GeoUdfs.Extent): Seq[Result] = {
    val raws = jpegs.map(ImageCodec.decode)
    val mosaic = ImageCodec.Raw(MosaicSide, MosaicSide, new Array[Byte](MosaicSide * MosaicSide * 3))
    val slots = for (dy <- 0 until 3; dx <- 0 until 3) yield (dx * 256, dy * 256)
    raws.take(9).zip(slots).foreach { case (r, (px, py)) => ImageCodec.blit(mosaic, r, px, py) }
    def pixels(w: Way): (Array[Int], Array[Int]) = {
      val cells = w.lats.indices.map(i => GeoKernel.cellAtWgs(w.lats(i), w.lngs(i), ext.z, ext.offX, ext.offY))
      (cells.map(c => (CellId.tx(c) - ext.txmin).toInt).toArray,
       cells.map(c => (CellId.ty(c) - ext.tymin).toInt).toArray)
    }
    val roadPx = roads.map(pixels)
    val buildingPx = buildings.map(pixels)
    val polygons = buildings.take(64)

    Seq(
      time("jpeg_decode", jpegs.size) { jpegs.map(b => ImageCodec.decode(b).bgr.length.toLong).sum },
      time("png_decode", pngs.size) { pngs.map(b => ImageCodec.decode(b).bgr.length.toLong).sum },
      time("jpeg_encode", 1) {
        ImageCodec.encode(ImageCodec.centerCrop(mosaic, MosaicSide / 2, MosaicSide / 2,
          CropSide, CropSide), "jpeg").length.toLong
      },
      time("blit", slots.size) {
        slots.zipWithIndex.foreach { case ((px, py), i) => ImageCodec.blit(mosaic, raws(i % raws.size), px, py) }
        mosaic.bgr(0).toLong
      },
      time("phash", raws.size) { raws.map(ImageCodec.phash).sum },
      time("polyline", roadPx.size) {
        roadPx.map { case (xs, ys) =>
          val c = new CvRaster.Canvas(ext.width, ext.height)
          CvRaster.polyLine(c, xs, ys, isClosed = true, 2, 4)
          c.paintedCount.toLong
        }.sum
      },
      time("fill", buildingPx.size) {
        buildingPx.map { case (xs, ys) =>
          val c = new CvRaster.Canvas(ext.width, ext.height)
          CvRaster.fillPoly(c, xs, ys, 4)
          c.paintedCount.toLong
        }.sum
      },
      time("pip", lamps.size * polygons.size) {
        var n = 0L
        lamps.foreach { case (la, ln) => polygons.foreach(p => if (Pip.contains(la, ln, p.lats, p.lngs)) n += 1) }
        n
      },
      time("mercator", lamps.size) {
        lamps.map { case (la, ln) => Mercator.tileAtWgs(la, ln, ext.z, 0.0, 0.0)._1 }.sum
      })
  }
}
