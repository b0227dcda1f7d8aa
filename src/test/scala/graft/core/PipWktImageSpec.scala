package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}

/** PIP checked against JTS (jts-core-1.20.0 from the Spark classpath) as a
  * geometry oracle; WKT parsing pinned to the reference's own __main__
  * golden (lib/helpers.py:243-245); image codec round-trip vs the PSNR bar. */
class PipWktImageSpec extends AnyFunSuite {
  private val gf = new GeometryFactory()

  private def jtsContains(lat: Double, lng: Double, lats: Array[Double], lngs: Array[Double]): Boolean = {
    val coords = (lats.indices.map(i => new Coordinate(lngs(i), lats(i))) :+
      new Coordinate(lngs(0), lats(0))).toArray
    gf.createPolygon(coords).contains(gf.createPoint(new Coordinate(lng, lat)))
  }

  test("ray-cast PIP matches JTS on random polygons (interior/exterior, eps off boundary)") {
    var checked = 0
    for (seed <- 0 until 30) {
      // random star-shaped polygon around a center (no self-intersection)
      val n = 3 + (math.abs(Splitmix.mix(seed)) % 8).toInt
      val cx = Splitmix.uniform(seed * 31 + 1) * 10
      val cy = Splitmix.uniform(seed * 31 + 2) * 10
      val angles = Array.tabulate(n)(i => 2 * math.Pi * i / n)
      val radii = Array.tabulate(n)(i => 0.5 + Splitmix.uniform(seed * 131 + i) * 3)
      val lats = Array.tabulate(n)(i => cy + radii(i) * math.sin(angles(i)))
      val lngs = Array.tabulate(n)(i => cx + radii(i) * math.cos(angles(i)))
      for (k <- 0 until 40) {
        val plat = cy + (Splitmix.uniform(seed * 977 + k) - 0.5) * 9
        val plng = cx + (Splitmix.uniform(seed * 1979 + k) - 0.5) * 9
        val jts = jtsContains(plat, plng, lats, lngs)
        val mine = Pip.contains(plat, plng, lats, lngs)
        if (jts == mine) checked += 1
        else {
          // disagreement allowed only within eps of the boundary (tie rule)
          val poly = gf.createPolygon((lats.indices.map(i => new Coordinate(lngs(i), lats(i))) :+
            new Coordinate(lngs(0), lats(0))).toArray)
          val d = poly.getBoundary.distance(gf.createPoint(new Coordinate(plng, plat)))
          assert(d < 1e-9, s"PIP mismatch off-boundary: seed=$seed k=$k d=$d")
        }
      }
    }
    assert(checked > 1000)
  }

  test("WKT parse matches the reference __main__ golden (lib/helpers.py:243-245)") {
    val s = "POLYGON ((1.1 .2, 1 2.2, 1 -2.2))\n             POLYGON ((1 2, 1 2, 1 2))"
    val polys = Wkt.latlngsFromWkt(s)
    assert(polys.length == 2)
    val (lats0, lngs0) = polys(0)
    assert(lats0.toSeq == Seq(0.2, 2.2, -2.2))
    assert(lngs0.toSeq == Seq(1.1, 1.0, 1.0))
    val (lats1, lngs1) = polys(1)
    assert(lats1.toSeq == Seq(2.0, 2.0, 2.0) && lngs1.toSeq == Seq(1.0, 1.0, 1.0))
    // the regex quirk: a negative integer loses its sign, a decimal keeps it
    val (qlats, qlngs) = Wkt.latlngsFromWkt("POLYGON ((-3 -2.5, -1.5 4))").head
    assert(qlngs.toSeq == Seq(3.0, -1.5) && qlats.toSeq == Seq(-2.5, 4.0))
  }

  test("WKT parse of the reference exclusion fixture cross-checks against JTS") {
    // one POLYGON per line in the reference's make_buildings_except.wkt
    // format: negative and mixed-precision decimals, integer vertices, the
    // ring-closing repeat vertex. Negatives are decimals only: Wkt drops
    // the sign of a negative INTEGER (the quirk pinned by the golden above)
    val src = scala.io.Source.fromResource("exclusion_zones.wkt")
    val txt = try src.mkString finally src.close()
    val polys = Wkt.latlngsFromWkt(txt)
    assert(polys.length == txt.linesIterator.count(_.trim.nonEmpty))
    val reader = new org.locationtech.jts.io.WKTReader()
    for ((line, i) <- txt.linesIterator.filter(_.trim.nonEmpty).zipWithIndex) {
      val jts = reader.read(line.trim)
      val (lats, lngs) = polys(i)
      val ring = jts.asInstanceOf[org.locationtech.jts.geom.Polygon].getExteriorRing
      // the reference keeps every number incl. the ring-closing repeat of
      // the first vertex (lib/helpers.py:221-225), same as the JTS ring
      assert(lats.length == ring.getNumPoints, s"poly $i vertex count")
      for (k <- lats.indices) {
        assert(math.abs(ring.getCoordinateN(k).x - lngs(k)) < 1e-12)
        assert(math.abs(ring.getCoordinateN(k).y - lats(k)) < 1e-12)
      }
    }
  }

  test("image codec: jpeg round-trip deterministic and PSNR >= 40 dB") {
    // deterministic smooth test pattern (flat + gradient compresses well)
    val h = 256; val w = 256
    val bgr = new Array[Byte](h * w * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val i = (y * w + x) * 3
      bgr(i) = ((x / 4 + 60) & 0xFF).toByte
      bgr(i + 1) = ((y / 4 + 90) & 0xFF).toByte
      bgr(i + 2) = (((x + y) / 8 + 120) & 0xFF).toByte
    }
    val raw = ImageCodec.Raw(h, w, bgr)
    val enc1 = ImageCodec.encode(raw, "jpeg")
    val enc2 = ImageCodec.encode(raw, "jpeg")
    assert(java.util.Arrays.equals(enc1, enc2), "deterministic encoder")
    val dec = ImageCodec.decode(enc1)
    assert(dec.h == h && dec.w == w)
    assert(ImageCodec.psnr(raw, dec) >= 40.0, s"psnr=${ImageCodec.psnr(raw, dec)}")
    // png is lossless
    val png = ImageCodec.decode(ImageCodec.encode(raw, "png"))
    assert(java.util.Arrays.equals(png.bgr, raw.bgr))
  }

  test("stitch placement is position-derived (order-independent) and crop clamps") {
    val t1 = ImageCodec.Raw(2, 2, Array[Byte](1, 1, 1, 2, 2, 2, 3, 3, 3, 4, 4, 4))
    val t2 = ImageCodec.Raw(2, 2, Array[Byte](5, 5, 5, 6, 6, 6, 7, 7, 7, 8, 8, 8))
    val a = ImageCodec.Raw(2, 4, new Array[Byte](2 * 4 * 3))
    ImageCodec.blit(a, t1, 0, 0); ImageCodec.blit(a, t2, 2, 0)
    val b = ImageCodec.Raw(2, 4, new Array[Byte](2 * 4 * 3))
    ImageCodec.blit(b, t2, 2, 0); ImageCodec.blit(b, t1, 0, 0)
    assert(java.util.Arrays.equals(a.bgr, b.bgr))
    assert(a.bgr(2 * 3) == 5) // t2 top-left at (2,0)
    // python-slice clamping: negative start clamps to 0
    val c = ImageCodec.crop(a, -1, 5, -2, 3)
    assert(c.h == 2 && c.w == 3)
    val empty = ImageCodec.crop(a, 3, 1, 0, 2)
    assert(empty.h == 0)
  }

  test("phash: deterministic, equal for equal images, far for inverted") {
    val bgr = Array.tabulate(256 * 256 * 3)(i => (Splitmix.mix(i) & 0xFF).toByte)
    val raw = ImageCodec.Raw(256, 256, bgr)
    val p1 = ImageCodec.phash(raw)
    val p2 = ImageCodec.phash(ImageCodec.Raw(256, 256, bgr.clone()))
    assert(p1 == p2)
    val inv = ImageCodec.Raw(256, 256, bgr.map(b => (~b).toByte))
    assert(ImageCodec.hamming(p1, ImageCodec.phash(inv)) > 16)
    assert(ImageCodec.hamming(p1, p1) == 0)
  }
}
