package graft.functions

import graft.SparkSuite
import graft.core._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GeoFunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  test("CellAtWgsExpr matches the core kernel under whole-stage codegen") {
    val pts = Seq((53.8306, 27.4026), (53.9739, 27.7003), (0.0001, -0.0001), (-33.865, 151.2094))
    val df = pts.toDF("lat", "lng")
      .withColumn("cell", GeoF.cellAtWgs($"lat", $"lng", 19, Mercator.MaxarOffsetX, Mercator.MaxarOffsetY))
      .withColumn("cell0", GeoF.cellAtWgs($"lat", $"lng", 19))
    val rows = df.collect()
    for ((r, (lat, lng)) <- rows.zip(pts)) {
      val (tx, ty) = Mercator.tileAtWgs(lat, lng, 19, Mercator.MaxarOffsetX, Mercator.MaxarOffsetY)
      assert(r.getLong(2) == CellId.pack(19, tx, ty), s"maxar cell($lat,$lng)")
      val (tx0, ty0) = Mercator.tileAtWgs(lat, lng, 19, 0, 0)
      assert(r.getLong(3) == CellId.pack(19, tx0, ty0), s"zero-offset cell($lat,$lng)")
    }
    // codegen sanity: over a non-local source the projection must stay
    // inside one WholeStageCodegen span (no CodegenFallback in the hot path)
    val ranged = spark.range(1000)
      .withColumn("lat", $"id" * 0.0001 + 53.0)
      .withColumn("lng", $"id" * 0.0001 + 27.0)
      .withColumn("cell", GeoF.cellAtWgs($"lat", $"lng", 19))
      .withColumn("ok", GeoF.edgeOk($"lat", $"lng", 19))
    // "*(1) Project [... cell_at_wgs(...)]" — the * marks a codegen stage
    // containing the custom expressions (no CodegenFallback projection)
    val planStr = ranged.queryExecution.executedPlan.toString
    assert(planStr.contains("*(1) Project"), s"expression must not break codegen:\n$planStr")
    assert(planStr.contains("cell_at_wgs"), "custom expr present in codegen'd project")
    assert(ranged.where($"ok").count() > 0)
  }

  test("EdgeOkExpr reproduces the half-open edge filter") {
    // build points at known in-tile pixels via the world's inverse helper
    val cases = Seq((15.5, false), (16.5, true), (239.5, true), (240.5, false))
    val rows = cases.map { case (rx, _) =>
      val (lat, lng) = graft.tables.SyntheticWorld.wgsAtPixel(19, 302051, 168758, rx, 128.0)
      (lat, lng)
    }
    val got = rows.toDF("lat", "lng")
      .select(GeoF.edgeOk($"lat", $"lng", 19, 0, 0, 16).as("ok")).as[Boolean].collect()
    assert(got.toSeq == cases.map(_._2))
  }

  test("PointInPolyExpr over packed arrays agrees with core Pip") {
    val lats = Array(0.0, 0.0, 10.0, 10.0)
    val lngs = Array(0.0, 10.0, 10.0, 0.0)
    val pts = Seq((5.0, 5.0, true), (15.0, 5.0, false), (-1.0, -1.0, false), (9.99, 9.99, true))
    val df = pts.map(p => (p._1, p._2)).toDF("lat", "lng")
      .withColumn("plats", typedLit(lats.toSeq))
      .withColumn("plngs", typedLit(lngs.toSeq))
      .select(GeoF.pointInPoly($"lat", $"lng", $"plats", $"plngs").as("in"))
    assert(df.as[Boolean].collect().toSeq == pts.map(_._3))
  }

  test("CellCenterExpr returns the tile center (P2)") {
    val cell = CellId.pack(19, 302304L, 168755L)
    val r = Seq(cell).toDF("cell").select(GeoF.cellCenter($"cell").as("c"))
      .select($"c.lat", $"c.lng").as[(Double, Double)].head()
    val (lat, lng) = Mercator.wgsAtTile(302304L, 168755L, 19)
    assert(math.abs(r._1 - lat) < 1e-12 && math.abs(r._2 - lng) < 1e-12)
  }

  test("pack/unpack column math round-trips against CellId") {
    val df = Seq((19, 302051L, 168758L), (18, 151025L, 84379L)).toDF("z", "tx", "ty")
    val rows = df.select(GeoF.packCell(19, $"tx", $"ty").as("cell"),
      $"tx", $"ty").where($"z" === 19)
      .select($"cell", GeoF.cellTx($"cell"), GeoF.cellTy($"cell"), GeoF.cellZ($"cell"))
      .as[(Long, Long, Long, Int)].collect()
    for ((cell, tx, ty, z) <- rows) {
      assert(cell == CellId.pack(19, tx, ty) && z == 19)
    }
  }

  test("rasterize UDFs match the sequential Painter on the test world") {
    val w = graft.tables.SyntheticWorld.testWorld
    val (bw, bs, be, bn) = w.bbox
    val ext = GeoUdfs.Extent.ofBbox(bw, bs, be, bn, w.z)
    assert(ext.txmin == w.tx0 && ext.tymin == w.ty0 &&
      ext.width == w.gridW && ext.height == w.gridH, "extent = exact grid")

    // sequential oracle: Painter over all roads
    val painter = new Painter(w.z, 0, 0, bw, bs, be, bn)
    val verts = graft.tables.SyntheticWorld.wayVertices(w).map(v => v._1 -> (v._2, v._3)).toMap
    val waysLocal = graft.tables.SyntheticWorld.osmWays(spark, w)
      .as[(Long, String, Map[String, String], Seq[Long])].collect()
    for ((_, _, tags, nodeIds) <- waysLocal if tags.contains("highway")) {
      painter.addPolylineWgs(nodeIds.map(verts), width = 2)
    }
    val expected = painter.paintedCells.toSet

    // distributed form: rasterize per way, explode, distinct
    val ways = graft.tables.SyntheticWorld.osmWays(spark, w)
    val nodes = graft.tables.SyntheticWorld.osmNodes(spark, w)
    val packed = ways.where(col("tags").getItem("highway").isNotNull)
      .select($"way_id", posexplode($"node_ids").as(Seq("pos", "node_id")))
      .join(nodes, "node_id")
      .groupBy($"way_id")
      .agg(array_sort(collect_list(struct($"pos", $"lat", $"lng"))).as("pts"))
      .select($"way_id", $"pts.lat".as("lats"), $"pts.lng".as("lngs"))
    val got = packed
      .select(explode(GeoUdfs.rasterizePolyline(ext, 2)($"lats", $"lngs")).as("cell_id"))
      .distinct().as[Long].collect().toSet
    assert(got == expected, s"painted-cell sets differ: got ${got.size}, expected ${expected.size}")

    // geometry that leaves the extent is clipped to it: a way and a fill
    // polygon each crossing the canvas border paint only in-extent cells,
    // the same cells the sequential Painter paints
    def at(tx: Long, ty: Long) = graft.tables.SyntheticWorld.wgsAtPixel(w.z, tx, ty, 128, 128)
    val strayWay = Seq(at(w.tx0 - 5, w.ty0 - 3), at(w.tx0 + 3, w.ty0 + 2),
      at(w.tx0 + w.gridW + 4, w.ty0 + 1))
    val strayFill = Seq(at(w.tx0 - 4, w.ty0 + 2), at(w.tx0 + 3, w.ty0 - 6),
      at(w.tx0 + 5, w.ty0 + 4), at(w.tx0 + 1, w.ty0 + w.gridH + 3))
    def inExtent(cell: Long): Boolean =
      CellId.z(cell) == w.z &&
        CellId.tx(cell) >= ext.txmin && CellId.tx(cell) < ext.txmin + ext.width &&
        CellId.ty(cell) >= ext.tymin && CellId.ty(cell) < ext.tymin + ext.height
    def painted(raster: (Column, Column) => Column, pts: Seq[(Double, Double)]): Set[Long] =
      Seq((pts.map(_._1), pts.map(_._2))).toDF("lats", "lngs")
        .select(explode(raster($"lats", $"lngs")).as("cell_id")).as[Long].collect().toSet
    val wayPainter = new Painter(w.z, 0, 0, bw, bs, be, bn)
    wayPainter.addPolylineWgs(strayWay, width = 2)
    val fillPainter = new Painter(w.z, 0, 0, bw, bs, be, bn)
    fillPainter.addFillPolyWgs(strayFill)
    for ((name, cells, oracle) <- Seq(
        ("way", painted(GeoUdfs.rasterizePolyline(ext, 2), strayWay), wayPainter),
        ("fill", painted(GeoUdfs.rasterizeFill(ext), strayFill), fillPainter))) {
      assert(cells.nonEmpty, s"stray $name paints inside the extent")
      assert(cells.forall(inExtent), s"stray $name painted outside the extent")
      assert(cells == oracle.paintedCells.toSet, s"stray $name differs from Painter")
    }
  }

  test("viewport cells: square quirk (w ignored), count = cover of h px") {
    val (lat, lng) = Mercator.wgsAtTile(302051, 168758, 19)
    def cellCount(h: Int, w: Int): Long = {
      val (txmin, txmax, tymin, tymax, _, _) = Viewport.tilesNearWgs(lat, lng, 19, h, w, 0, 0)
      (txmax - txmin + 1) * (tymax - tymin + 1)
    }
    // 256px viewport centered at a tile center spans 2x2 tiles
    assert(cellCount(256, 256) == 4)
    assert(cellCount(100, 100) == 1)
    // the width argument never changes the cover
    assert(cellCount(256, 100) == 4 && cellCount(100, 256) == 1)
  }
}
