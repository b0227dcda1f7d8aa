package graft.core

/**
 * Tile-canvas painter with the exact extent semantics of the reference's
 * MercatorPainter (lib/helpers.py:36-94): the canvas covers the whole-tile
 * expansion of the bbox — txmin..txmax inclusive where
 * (txmin,tymin)=tile_at_wgs((N,W)) and (txmax,tymax)=tile_at_wgs((S,E)) —
 * width/height include the +1 (lib/helpers.py:53-54; the `area` print at
 * :45-47 excludes it, a documented off-by-one we do not reproduce in any
 * computation). Border-band quirk (make_buildings.py:55-57 FIXME) is thereby
 * preserved: geometry in the expansion band beyond the bbox still paints.
 *
 * The sequential oracle of the tests only: the engine paints per geometry
 * with [[graft.functions.GeoUdfs.rasterizePolyline]] /
 * [[graft.functions.GeoUdfs.rasterizeFill]] and takes the complement with a
 * relational anti-join.
 */
final class Painter(val z: Int, val offsetX: Double, val offsetY: Double,
                    val W: Double, val S: Double, val E: Double, val N: Double) {
  val (txmin, tymin) = Mercator.tileAtWgs(N, W, z, offsetX, offsetY)
  val (txmax, tymax) = Mercator.tileAtWgs(S, E, z, offsetX, offsetY)
  val width: Int = (txmax - txmin + 1).toInt
  val height: Int = (tymax - tymin + 1).toInt
  val canvas = new CvRaster.Canvas(width, height)

  /** lib/helpers.py:61-65 */
  def wgs2px(lat: Double, lng: Double): (Int, Int) = {
    val (tx, ty) = Mercator.tileAtWgs(lat, lng, z, offsetX, offsetY)
    ((tx - txmin).toInt, (ty - tymin).toInt)
  }

  /** lib/helpers.py:73-76 */
  def addDotsWgs(latlngs: Iterable[(Double, Double)]): Unit =
    latlngs.foreach { case (lat, lng) =>
      val (x, y) = wgs2px(lat, lng); canvas.set(x, y)
    }

  /** lib/helpers.py:84-88 — cv2.polylines(closed=True, lineType=4). The
    * closed=True is applied even to open roads in the reference; preserved. */
  def addPolylineWgs(latlngs: Iterable[(Double, Double)], width: Int = 1): Unit = {
    val pts = latlngs.iterator.map { case (lat, lng) => wgs2px(lat, lng) }.toArray
    CvRaster.polyLine(canvas, pts.map(_._1), pts.map(_._2), isClosed = true, width, 4)
  }

  /** lib/helpers.py:90-94 — cv2.fillPoly(lineType=4). */
  def addFillPolyWgs(latlngs: Iterable[(Double, Double)]): Unit = {
    val pts = latlngs.iterator.map { case (lat, lng) => wgs2px(lat, lng) }.toArray
    CvRaster.fillPoly(canvas, pts.map(_._1), pts.map(_._2), 4)
  }

  /** lib/helpers.py:139-155 — membership with outside-default true. */
  def contains(tx: Long, ty: Long, resultOutside: Boolean = true): Boolean = {
    if (tx < txmin || ty < tymin || tx >= txmin + width || ty >= tymin + height) resultOutside
    else canvas.get((tx - txmin).toInt, (ty - tymin).toInt)
  }

  /** Painted cells as packed cell ids. */
  def paintedCells: Array[Long] =
    canvas.paintedPixels.map { case (x, y) => CellId.pack(z, txmin + x, tymin + y) }.toArray

  /** Free (unpainted) cells as packed cell ids. */
  def freeCells: Array[Long] = {
    val out = Array.newBuilder[Long]
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        if (!canvas.get(x, y)) out += CellId.pack(z, txmin + x, tymin + y)
        x += 1
      }
      y += 1
    }
    out.result()
  }
}

/** Ray-casting point-in-polygon over packed coordinate arrays (the
  * north-star PIP: no per-vertex objects, a single pass over two double
  * arrays). Even-odd rule; a point exactly on an edge follows the half-open
  * crossing convention (lower endpoint inclusive), matching the common
  * PNPOLY formulation. Used as the exact refinement after cell-granular
  * containment (reference's coarse form: rasterized canvas membership,
  * lib/helpers.py:90-94 + make_buildings.py:58-59). */
object Pip {
  def contains(lat: Double, lng: Double, lats: Array[Double], lngs: Array[Double]): Boolean = {
    val n = lats.length
    var inside = false
    var i = 0
    var j = n - 1
    while (i < n) {
      val yi = lats(i); val xi = lngs(i)
      val yj = lats(j); val xj = lngs(j)
      if ((yi > lat) != (yj > lat) &&
          lng < (xj - xi) * (lat - yi) / (yj - yi) + xi) inside = !inside
      j = i
      i += 1
    }
    inside
  }
}

/** WKT polygon reader with the reference's exact extraction semantics
  * (lib/helpers.py:217-226): one polygon per line, numbers pulled by the
  * regex `[-]?\d*\.\d+|\d+`, evens are lngs, odds are lats. Note the quirk
  * inherited from the reference: a bare integer matches via the second
  * alternative but a negative integer loses its sign (the `-` is only in
  * the first alternative); goldens pin this. Cross-checked against JTS in
  * tests for the well-formed fixture polygons. */
object Wkt {
  private val Num = """[-]?\d*\.\d+|\d+""".r
  def latlngsFromWkt(s: String): Array[(Array[Double], Array[Double])] = {
    s.linesIterator.filter(_.trim.nonEmpty).map { line =>
      val nums = Num.findAllIn(line).map(_.toDouble).toArray
      val lngs = Array.tabulate(nums.length / 2 + nums.length % 2)(i => nums(2 * i))
      val lats = Array.tabulate(nums.length / 2)(i => nums(2 * i + 1))
      // zip semantics: pairs up to the shorter side (python zip)
      val n = math.min(lats.length, lngs.length)
      (lats.take(n), lngs.take(n))
    }.toArray
  }
}

/** Deterministic 64-bit mixing (splitmix64) for synthetic-data generation
  * and hash-rank sampling. Public-domain constants (Steele et al.,
  * "Fast Splittable Pseudorandom Number Generators", OOPSLA'14). */
object Splitmix {
  @inline def mix(seed: Long): Long = {
    var zv = seed + 0x9E3779B97F4A7C15L
    zv = (zv ^ (zv >>> 30)) * 0xBF58476D1CE4E5B9L
    zv = (zv ^ (zv >>> 27)) * 0x94D049BB133111EBL
    zv ^ (zv >>> 31)
  }
  /** Uniform double in [0,1) from a key. */
  @inline def uniform(key: Long): Double =
    (mix(key) >>> 11) * 1.1102230246251565e-16 // 2^-53
}
