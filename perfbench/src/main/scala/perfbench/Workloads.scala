package perfbench

import graft.pipeline.{Pipelines, StagedExpand, StagedOriginalTiles}
import graft.tables.{SyntheticWorld, World}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import java.nio.file.{Files, Path, Paths}

/** A generated world read back from parquet, as the engine's users read
  * their inputs. */
final case class Inputs(world: World, images: DataFrame, nodes: DataFrame, ways: DataFrame,
                        inputHash: String)

/** What a job produced: row count and an order-independent xxhash of the
  * output keys (the hash `graft.Bench` reports for the same pipeline). */
final case class Outcome(rows: Long, hash: Long) {
  override def toString: String = s"rows=$rows hash=$hash"
}

final case class Ctx(spark: SparkSession, tracer: Tracer)

/** One benchmark workload: the world it runs on, one timed job, and an
  * independent path to the same output used as a cross-check. */
abstract class Workload(val name: String, val side: Int) {
  /** `graft.Bench`'s section-2 world, scaled to `side`, seeded by `seed`. */
  def world(seed: Long): World = World(z = 18, tx0 = 151000L, ty0 = 84350L,
    gridW = side, gridH = side, lamps = side * side / 4, roads = side / 2,
    buildings = side, seed = seed, hotCellSkew = 0.2)

  /** `graft.Bench`'s flagship configuration. */
  def config(w: World): Pipelines.Config = Pipelines.Config(z = w.z, bbox = w.bbox,
    limit = w.lamps / 2, train = w.lamps / 4, valid = w.lamps / 8)

  /** One job, from the public pipeline call through its verified result;
    * `jobDir` is a fresh directory the job may write into. */
  def job(ctx: Ctx, in: Inputs, jobDir: String): Outcome

  /** Items a job delivers, for `items_per_s`. */
  def items(in: Inputs, o: Outcome): Long = o.rows

  /** The same output computed along another code path of the engine. */
  def reference(ctx: Ctx, in: Inputs, dir: String): Outcome
}

object Workloads {
  /** The key hash of `graft.Bench`'s `output_xxhash`. */
  def originalKeys(df: DataFrame): Outcome =
    outcome(df, xxhash64(col("example_id"), col("label"), col("cell_id")))

  /** The key hash of `graft.Bench`'s `expand_xxhash` (covers the pixels). */
  def expandKeys(df: DataFrame): Outcome =
    outcome(df, xxhash64(col("example_id"), col("label"), col("split"),
      coalesce(col("cell_id"), lit(0L)), crc32(col("bytes"))))

  /** Runs through the DataFrame's own QueryExecution (collect), so the
    * executed plan seen by the plan census is this query's plan. */
  private def outcome(df: DataFrame, h: Column): Outcome = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(h), lit(0L))).collect().head
    Outcome(r.getLong(0), r.getLong(1))
  }

  object Original extends Workload("original", 64) {
    def job(ctx: Ctx, in: Inputs, jobDir: String): Outcome = {
      val df = ctx.tracer.span("pipeline.originalTiles") {
        Pipelines.originalTiles(ctx.spark, in.nodes, in.ways, in.images, config(in.world))
      }
      ctx.tracer.span("spark.execute") { originalKeys(df) }
    }
    override def items(in: Inputs, o: Outcome): Long = in.world.tileCount + o.rows
    def reference(ctx: Ctx, in: Inputs, dir: String): Outcome = originalKeys(
      StagedOriginalTiles.run(ctx.spark, in.nodes, in.ways, in.images, config(in.world), dir))
  }

  object Expand extends Workload("expand", 32) {
    override def config(w: World): Pipelines.Config =
      super.config(w).copy(train = w.lamps / 3, valid = w.lamps / 8, expandPad = 88)
    def job(ctx: Ctx, in: Inputs, jobDir: String): Outcome = {
      val df = ctx.tracer.span("pipeline.expandedCrops") {
        Pipelines.expandedCrops(ctx.spark, in.nodes, in.ways, in.images, config(in.world))
      }
      ctx.tracer.span("spark.execute") { expandKeys(df) }
    }
    def reference(ctx: Ctx, in: Inputs, dir: String): Outcome = expandKeys(
      StagedExpand.run(ctx.spark, in.nodes, in.ways, in.images, config(in.world), dir))
  }

  val all: Seq[Workload] = Seq(Original, Expand)
  def named(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$n' (${all.map(_.name).mkString(", ")})"))

  def check(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new IllegalStateException(msg)

  def regularFiles(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path]).toSeq
    finally walk.close()
  }

  def bytesUnder(root: Path): Long =
    if (Files.exists(root)) regularFiles(root).map(Files.size).sum else 0L

  def rmTree(root: Path): Unit = if (Files.exists(root)) {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }

  /** Writes the world as parquet under `dir`, reads it back, and hashes the
    * content of its three tables (so a generator change shows as an input
    * change, not as a speed-up). */
  def stage(spark: SparkSession, w: World, dir: String): Inputs = {
    SyntheticWorld.write(spark, w, dir)
    val images = spark.read.parquet(s"$dir/images.parquet")
    val nodes = spark.read.parquet(s"$dir/osm_nodes.parquet")
    val ways = spark.read.parquet(s"$dir/osm_ways.parquet")
    Inputs(w, images, nodes, ways,
      Seq(images, nodes, ways).map(contentHash).mkString("/"))
  }

  /** Row count and order-independent hash of every column (maps as JSON). */
  def contentHash(df: DataFrame): String = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(cols.toIndexedSeq: _*)), lit(0L)))
      .collect().head
    f"${r.getLong(0)}:${r.getLong(1)}%016x"
  }
}
