package graft.pipeline

import graft.SparkSuite
import graft.core.{CellId, Mercator, Wkt}
import graft.tables.SyntheticWorld
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Polyfill (polygon -> compacted cover) contracts: the cover equals a
  * sequential center-in-polygon fill, and compact is lossless on the
  * buildings pipeline's painted exclusion set. */
class PolyfillSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  /** Driver-side even-odd ray cast (independent of the engine kernel). */
  def inPoly(lat: Double, lng: Double, lats: Seq[Double], lngs: Seq[Double]): Boolean = {
    var in = false
    var j = lats.length - 1
    for (i <- lats.indices) {
      if ((lats(i) > lat) != (lats(j) > lat) &&
          lng < (lngs(j) - lngs(i)) * (lat - lats(i)) / (lats(j) - lats(i)) + lngs(i))
        in = !in
      j = i
    }
    in
  }

  val diamondLat = Seq(53.8381234, 53.8421234, 53.8461234, 53.8421234)
  val diamondLng = Seq(27.4101234, 27.4401234, 27.4101234, 27.3801234)

  test("coverOfPolygon == sequential center-in-polygon fill, compacted losslessly") {
    val zMax = 17
    val cover = CellOps.coverOfPolygon(spark, diamondLat, diamondLng, zMax, zMin = 14)
      .as[Long].collect().toSet
    // mixed zoom, minimal: some cell coarser than zMax must exist for a
    // solid area this size, and no 4 siblings may survive uncompacted
    assert(cover.exists(c => (c >>> 58) < zMax), s"no coarse cells — compaction did nothing")
    // sequential oracle: scan the bbox grid, keep centers inside, compare
    // against the UNCOMPACTED cover (compact is lossless, spec'd already)
    val scale = (1L << zMax).toDouble
    def tx(lng: Double) = math.floor(Mercator.projectX(lng) * scale / 256.0).toLong
    def ty(lat: Double) = math.floor(Mercator.projectY(lat) * scale / 256.0).toLong
    val expected = (for {
      x <- diamondLng.map(tx).min to diamondLng.map(tx).max
      y <- diamondLat.map(ty).min to diamondLat.map(ty).max
      (clat, clng) = Mercator.wgsAtTile(x, y, zMax)
      if inPoly(clat, clng, diamondLat, diamondLng)
    } yield CellId.pack(zMax, x, y)).toSet
    assert(expected.nonEmpty, "fixture polygon must cover some cells")
    val expanded = CellOps.uncompact(cover.toSeq.toDF("cell_id"), zMax)
      .as[Long].collect().toSet
    assert(expanded == expected, "uncompacted polyfill must equal the sequential fill")
    assert(cover.size < expected.size, "compaction must shrink a solid cover")
  }

  test("random star polygons: polyfill == sequential fill, 5 seeds") {
    // arbitrary simple polygons (angularly-sorted vertices around a
    // center are star-shaped, hence simple) — the diamond fixture pins
    // the twin; this pins the operator on shapes nobody hand-picked
    for (seed <- 0 until 5) {
      val rnd = new scala.util.Random(4000 + seed)
      val n = 5 + rnd.nextInt(5)
      val (cLat, cLng) = (53.84 + rnd.nextDouble() * 0.01, 27.40 + rnd.nextDouble() * 0.02)
      // ONE radius per vertex (independent per-axis radii could cross
      // edges); lat flattened to roughly square cells at this latitude
      val angles = Seq.fill(n)(rnd.nextDouble() * 2 * math.Pi).sorted
      val verts = angles.map { a =>
        val r = 0.003 + rnd.nextDouble() * 0.005
        (cLat + r * math.sin(a) * 0.5, cLng + r * math.cos(a))
      }
      val lats = verts.map(_._1)
      val lngs = verts.map(_._2)
      val zMax = 16
      val cover = CellOps.coverOfPolygon(spark, lats, lngs, zMax, zMin = 13)
      val scale = (1L << zMax).toDouble
      def tx(lng: Double) = math.floor(Mercator.projectX(lng) * scale / 256.0).toLong
      def ty(lat: Double) = math.floor(Mercator.projectY(lat) * scale / 256.0).toLong
      val expected = (for {
        x <- lngs.map(tx).min to lngs.map(tx).max
        y <- lats.map(ty).min to lats.map(ty).max
        (clat, clng) = Mercator.wgsAtTile(x, y, zMax)
        if inPoly(clat, clng, lats, lngs)
      } yield CellId.pack(zMax, x, y)).toSet
      val expanded = CellOps.uncompact(cover, zMax).as[Long].collect().toSet
      assert(expanded == expected, s"seed $seed: polyfill vs sequential fill")
    }
  }

  test("compact is lossless on the buildings exclusion painted set") {
    val w = SyntheticWorld.testWorld
    val nodes = SyntheticWorld.osmNodes(spark, w)
    val ways = SyntheticWorld.osmWays(spark, w)
    val (bw, bs, be, bn) = w.bbox
    val cfg = Pipelines.Config(z = w.z, bbox = (bw, bs, be, bn),
      limit = 60, train = 40, valid = 20)
    // the PipelineGoldenSpec exclusion polygon (a grid block)
    val (xlat0, xlng0) = SyntheticWorld.wgsAtPixel(w.z, w.tx0 + 2, w.ty0 + 2, 0, 0)
    val (xlat1, xlng1) = SyntheticWorld.wgsAtPixel(w.z, w.tx0 + 6, w.ty0 + 6, 255, 255)
    val wkt = s"POLYGON (($xlng0 $xlat0, $xlng1 $xlat0, $xlng1 $xlat1, $xlng0 $xlat1, $xlng0 $xlat0))"

    // painted = building outlines ∪ exclusion fill, exactly as the
    // buildings pipeline builds it (Pipelines.scala buildings())
    val buildingWays = Pipelines.waysPacked(ways, nodes, col("tags").getItem("building").isNotNull)
    val outline = buildingWays.select(
      explode(graft.functions.GeoUdfs.rasterizePolyline(cfg.ext, 1)($"lats", $"lngs")).as("cell_id"))
    val polys = Wkt.latlngsFromWkt(wkt).toSeq.map { case (la, ln) => (la.toSeq, ln.toSeq) }
    val fill = polys.toDF("lats", "lngs")
      .select(explode(graft.functions.GeoUdfs.rasterizeFill(cfg.ext)($"lats", $"lngs")).as("cell_id"))
    val painted = outline.unionByName(fill).distinct().cache()

    // lossless: expanding the compacted cover returns exactly the painted set
    val fine = painted.select($"cell_id").as[Long].collect().toSet
    val cover = CellOps.compact(painted.select($"cell_id"), cfg.z, w.z - 4)
    assert(CellOps.uncompact(cover, cfg.z).as[Long].collect().toSet == fine,
      "uncompact(compact(painted)) must equal painted")
    // and the cover really is the compressed form of the same area
    assert(cover.count() < fine.size,
      "area-shaped exclusions must compact smaller")
  }
}
