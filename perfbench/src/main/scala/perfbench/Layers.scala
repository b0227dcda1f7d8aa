package perfbench

import graft.SparkEntry
import graft.core.Viewport
import graft.functions.{GeoF, GeoUdfs, ImageUdfs}
import graft.pipeline.{Pipelines, SaltedJoin, StagedOriginalTiles}
import graft.tables.{HashRank, Sinks, StageRunner}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Per-layer probes of the traced run. Each probe calls one public function
  * of a module inside a span named `<module>.<function>`, with its inputs
  * materialized beforehand so the span holds that function's work only. */
final class Layers(ctx: Ctx, wl: Workload, in: Inputs, dir: String) {
  import Layers.Metric

  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val cfg = wl.config(in.world)
  private val expandCfg = Workloads.Expand.config(in.world)
  private val out = mutable.ArrayBuffer.empty[Metric]

  private def put(name: String, value: Double, unit: String): Unit = out += Metric(name, value, unit)

  /** Runs `body` in a span and reports its wall seconds, Spark jobs and
    * process CPU seconds as `<name>_s`, `<name>.jobs`, `<name>.cpu_s`. */
  private def timed[A](layer: String, name: String)(body: => A): A = {
    val cpu0 = Main.processCpuNs()
    val (a, span) = tr.spanned(s"$layer.$name")(body)
    Main.drainListeners(spark)
    put(s"$layer.${name}_s", tr.seconds(span), "s")
    put(s"$layer.$name.jobs", tr.inclusive(span).jobs.toDouble, "count")
    put(s"$layer.$name.cpu_s", (Main.processCpuNs() - cpu0) / 1e9, "s")
    a
  }

  private def cached(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  def core(): Unit = {
    val img = Pipelines.imagesInBbox(in.images, cfg)
    def tiles(fmt: String, n: Int) = img.where(col("fmt") === fmt).orderBy(col("cell_id"))
      .limit(n).select(col("bytes")).collect().map(_.getAs[Array[Byte]](0)).toSeq
    val ways = Pipelines.waysPacked(in.ways, in.nodes, lit(true))
      .select(col("tags"), col("lats"), col("lngs")).collect().toSeq
    def waysWhere(p: Map[String, String] => Boolean) = ways.filter(r => p(r.getMap[String, String](0).toMap))
      .map(r => Kernels.Way(r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray))
    val lamps = Pipelines.lampScan(in.nodes, cfg).select(col("lat"), col("lng"))
      .orderBy(col("lat"), col("lng")).limit(1024).collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    val results = tr.span("core.kernels") {
      Kernels.run(tiles("jpeg", 64), tiles("png", 16), waysWhere(_.contains("highway")),
        waysWhere(_.contains("building")), lamps, cfg.ext)
    }
    results.foreach { r =>
      put(s"core.${r.name}_ns", r.nsPerOp, "ns")
      put(s"core.${r.name}.ops", r.ops.toDouble, "count")
    }
  }

  def functions(): Unit = {
    val img = cached(Pipelines.imagesInBbox(in.images, expandCfg))
    val pts = cached(Pipelines.lampScan(in.nodes, expandCfg).orderBy(col("node_id")).limit(256)
      .select(col("node_id").cast("string").as("key"), col("lat"), col("lng")))
    val h = expandCfg.expandPad * 2 + Pipelines.TileSize
    val crops = timed("functions", "stitch_crop") {
      Workloads.check(Pipelines.cropAroundPoints(pts, img, expandCfg, h)
        .agg(count(lit(1)), bit_xor(crc32(col("bytes")))).collect().head.getLong(0) == pts.count(),
        "stitch/crop dropped a point")
      pts.count()
    }
    val slots = pts.select(col("lat"), col("lng")).collect().map { r =>
      val (x0, x1, y0, y1, _, _) = Viewport.tilesNearWgs(r.getDouble(0), r.getDouble(1), expandCfg.z, h, h,
        expandCfg.offX, expandCfg.offY)
      (x1 - x0 + 1) * (y1 - y0 + 1)
    }.sum
    put("functions.tiles_per_crop", slots.toDouble / crops, "count")

    val roads = cached(Pipelines.waysPacked(in.ways, in.nodes, Pipelines.roadFilter))
    val cells = timed("functions", "rasterize_polyline") {
      roads.select(explode(GeoUdfs.rasterizePolyline(cfg.ext, 2)(col("lats"), col("lngs"))))
        .count()
    }
    put("functions.cells_per_way", cells.toDouble / roads.count(), "count")

    val (w, s, e, n) = cfg.bbox
    val rows = 4000000L
    val pos = spark.range(rows).select(
      (lit(s) + (col("id") % 9973) * lit((n - s) / 9973)).as("lat"),
      (lit(w) + (col("id") % 9967) * lit((e - w) / 9967)).as("lng"))
    val (_, geoSpan) = tr.spanned("functions.geo_exprs") {
      pos.select(GeoF.cellAtWgs(col("lat"), col("lng"), cfg.z).as("c"),
          GeoF.edgeOk(col("lat"), col("lng"), cfg.z).cast("long").as("ok"))
        .agg(bit_xor(col("c")), sum(col("ok"))).collect()
    }
    put("functions.geo_exprs_ns_per_row", tr.seconds(geoSpan) * 1e9 / rows, "ns")

    val tiles = in.images.count()
    val (_, phashSpan) = tr.spanned("functions.phash_udf") {
      in.images.select(ImageUdfs.phashUdf(col("bytes")).as("ph")).agg(bit_xor(col("ph"))).collect()
    }
    put("functions.phash_udf_ns_per_tile", tr.seconds(phashSpan) * 1e9 / tiles, "ns")
  }

  def pipeline(): Unit = {
    val img = timed("pipeline", "images_in_bbox") { cached(Pipelines.imagesInBbox(in.images, cfg)) }
    put("pipeline.images_in_bbox.kept_ratio", img.count().toDouble / in.images.count(), "ratio")
    val lamps = timed("pipeline", "lamp_sample") {
      cached(HashRank.sample(Pipelines.lampScan(in.nodes, cfg), "node_id", cfg.seed, cfg.limit)
        .select("node_id", "lat", "lng"))
    }
    val roads = timed("pipeline", "ways_packed") {
      cached(Pipelines.waysPacked(in.ways, in.nodes, Pipelines.roadFilter))
    }
    val painted = timed("pipeline", "painted_cells") { cached(Pipelines.paintedCells(lamps, roads, cfg)) }
    val negs = timed("pipeline", "negative_cells") {
      cached(Pipelines.negativeCells(spark, painted, cfg, cfg.limit, seedTag = 1))
    }
    put("pipeline.negative_cells.kept_ratio", negs.count().toDouble / cfg.ext.cellCount, "ratio")
    timed("pipeline", "label_join") {
      val pos = lamps.where(GeoF.edgeOk(col("lat"), col("lng"), cfg.z, cfg.offX, cfg.offY, 16))
        .select(GeoF.cellAtWgs(col("lat"), col("lng"), cfg.z, cfg.offX, cfg.offY).as("cell_id"),
          lit("lamp").as("label"))
      val neg = negs.select(col("cell_id"), lit("nolamp").as("label"))
      pos.unionByName(neg).join(img, "cell_id")
        .agg(count(lit(1)), bit_xor(xxhash64(col("cell_id"), col("label")))).collect()
    }

    val eimg = cached(Pipelines.imagesInBbox(in.images, expandCfg))
    val ranked = cached(Pipelines.expandLampsRanked(in.nodes, expandCfg))
    val (train, valid) = timed("pipeline", "expand_split") {
      val (t, v) = Pipelines.expandLampSplit(ranked, expandCfg)
      (cached(t), cached(v))
    }
    val negCells = timed("pipeline", "expand_neg_cells") {
      cached(Pipelines.expandNegCells(spark, ranked, in.nodes, in.ways, expandCfg))
    }
    timed("pipeline", "crop_train_pos") {
      Workloads.expandKeys(Pipelines.expandTrainPos(train, eimg, expandCfg))
    }
    timed("pipeline", "crop_train_neg") {
      Workloads.expandKeys(Pipelines.expandTrainNeg(negCells, eimg, expandCfg))
    }
    timed("pipeline", "valid_tiles") {
      Workloads.expandKeys(Pipelines.expandValidPos(valid, eimg, expandCfg)
        .unionByName(Pipelines.expandValidNeg(negCells, eimg, expandCfg)))
    }
  }

  /** The staged form of the flagship pipeline and the three sinks, in fresh
    * directories: a cold run, the labeled table, the folder tree and its
    * tar, then a resume against the committed stages. Checks that the
    * resumed output and the table read back equal the cold output and that
    * the tree and the tar hold every example. */
  def tables(): Unit = {
    val root = s"$dir/tables"
    val stages = s"$root/stages"
    val (table, tree, tar) = (s"$root/table", s"$root/tree", s"$root/dataset.tar")
    val cold = timed("tables", "staged_cold") {
      StagedOriginalTiles.run(spark, in.nodes, in.ways, in.images, cfg, stages)
    }
    val runner = new StageRunner(spark, stages)
    Seq("lamps_sample", "painted_cells", "negative_cells", "labeled").foreach { s =>
      put(s"tables.stage_wall_ms.$s", runner.manifestObj(s).get.wall_ms.toDouble, "ms")
    }
    timed("tables", "sink_table") { Sinks.writeLabeledTable(cold, table) }
    timed("tables", "folder_tree") { Sinks.writeFolderTree(cold, tree) }
    timed("tables", "tar") { Sinks.tarDirectory(tree, tar) }
    val resumed = timed("tables", "staged_resume") {
      StagedOriginalTiles.run(spark, in.nodes, in.ways, in.images, cfg, stages)
    }

    val coldOut = Workloads.originalKeys(cold)
    Workloads.check(Workloads.originalKeys(resumed) == coldOut, "resumed output != cold output")
    Workloads.check(Workloads.originalKeys(spark.read.parquet(table)) == coldOut,
      "labeled table != cold output")
    val files = Workloads.regularFiles(Paths.get(tree))
    val paths = cold.select(col("label"), col("example_id")).distinct().count()
    Workloads.check(files.size == paths, s"folder tree holds ${files.size} files, expected $paths")
    val tarBytes = files.map(f => 512L + (Files.size(f) + 511) / 512 * 512).sum + 1024L
    Workloads.check(Files.size(Paths.get(tar)) == tarBytes, s"tar is not $tarBytes bytes")

    val payload = cold.agg(sum(length(col("bytes")))).collect().head.getLong(0)
    put("tables.write_amp", Workloads.bytesUnder(Paths.get(root)).toDouble / payload, "ratio")
    put("tables.files_written", Workloads.regularFiles(Paths.get(root)).size.toDouble, "count")
    val pts = spark.read.parquet(runner.dataPath("lamps_sample"))
      .where(GeoF.edgeOk(col("lat"), col("lng"), cfg.z, cfg.offX, cfg.offY, 16))
      .withColumn("cell_id", GeoF.cellAtWgs(col("lat"), col("lng"), cfg.z, cfg.offX, cfg.offY))
    put("tables.hot_cells", SaltedJoin.detectHotCells(pts, threshold = 8.0).size.toDouble, "count")
    Workloads.rmTree(Paths.get(root))
  }

  /** The `SparkEntry.queries` entries that read no sf directory: the image
    * family on the engine's test world and the four pipeline counts. */
  def sparkEntry(): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(Layers.SfFreeQueries.contains)
    val perFamily = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var jobs = 0L
    names.foreach { q =>
      val (_, span) = tr.spanned(s"SparkEntry.$q") {
        SparkEntry.queries(q)(spark, "").count()
        spark.sqlContext.clearCache()
      }
      Main.drainListeners(spark)
      perFamily(Layers.family(q)) += tr.seconds(span)
      jobs += tr.inclusive(span).jobs
    }
    put("SparkEntry.queries", names.size.toDouble, "count")
    put("SparkEntry.jobs_per_query", jobs.toDouble / names.size, "count")
    Seq("image", "pipeline").foreach(f => put(s"SparkEntry.family_s.$f", perFamily(f), "s"))
  }

  def metrics: Seq[Metric] = out.toSeq
}

object Layers {
  final case class Metric(name: String, value: Double, unit: String)

  /** Registered queries that ignore their sf directory argument. */
  val SfFreeQueries: Set[String] = Set("q_i1_decode_meta", "q_image_quality", "q_a3_minimap",
    "q_tile_pyramid", "q_crossmodal_audit", "q_image_pyramid", "q_phash_neardup",
    "q_phash_resolve", "q_i_resize", "q_pipeline_original", "q_pipeline_expand",
    "q_pipeline_buildings", "q_pipeline_roofshapes")

  def family(q: String): String = if (q.startsWith("q_pipeline_")) "pipeline" else "image"
}
