package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.algo.GeoAlgo
import graft.geo.index.HexCell
import graft.geo.join.SpatialJoins
import graft.geo.sql.GeoFunctions._
import graft.pipeline.{GeoImagePipeline, ImageGen}

/** The flagship: synthetic images with seeded positions → point-in-polygon
  * join against the fixture polygons (translated by seeded offsets) → tile
  * assignment at z=12 → noop sink. */
final class PipTile(seed: Long, cpus: Int, val rowsPerJob: Long = 2000000L) extends Workload {
  val name = "pip_tile"
  private val Res = 5
  private val Z = 12
  private val SampleImages = 20000L

  private val rng = new SplittableRandom(seed)
  // seeded rotation of the image lattice and translation of the polygons
  private val imgDLng  = rng.nextDouble() * 360.0
  private val imgDLat  = rng.nextDouble() * 168.0
  private val polyDLng = rng.nextDouble() * 360.0 - 180.0
  private val polyDLat = rng.nextDouble() * 10.0 - 5.0

  private lazy val fixtureDocs: IndexedSeq[String] =
    Seq("polygon.json", "multi_polygon.json", "geo_with_bbox.json").map { n =>
      val in = getClass.getResourceAsStream(s"/geo-fixtures/$n")
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }.toIndexedSeq

  private def images(spark: SparkSession, n: Long): DataFrame =
    ImageGen.withLngLat(ImageGen.table(spark, n, partitions = cpus * 2))
      .withColumn("lng", pmod(col("lng") + lit(180.0 + imgDLng), lit(360.0)) - 180.0)
      .withColumn("lat", pmod(col("lat") + lit(84.0 + imgDLat), lit(168.0)) - 84.0)

  private def polys(spark: SparkSession): DataFrame = {
    val p = GeoImagePipeline.fixturePolygons(spark)
    p.withColumn("geom", GeoImagePipeline.translate_geom(col("geom"), lit(polyDLng), lit(polyDLat)))
  }

  private def chain(spark: SparkSession, n: Long, t: Tracer): DataFrame = {
    val imgs   = t.span("pipeline.imagegen")(images(spark, n))
    val ps     = t.span("geo.json.fixtures")(polys(spark))
    val joined = t.span("geo.join.pip")(SpatialJoins.pipJoin(imgs, "lng", "lat", ps, "geom", res = Res))
    t.span("geo.join.tiles")(SpatialJoins.assignTiles(joined, "lng", "lat", Z))
      .select(col("image_id"), col("poly_id"), col("tile_key"), col("phash"))
  }

  def job(spark: SparkSession, t: Tracer): Unit = {
    val out = chain(spark, rowsPerJob, t)
    t.span("action")(Workload.noop(t.analyzed(out)))
  }

  def check(spark: SparkSession): Seq[String] = {
    val sample = images(spark, SampleImages)
    val ps = polys(spark)
    def pairs(df: DataFrame): Set[(String, String)] =
      df.select("image_id", "poly_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val engine = pairs(SpatialJoins.pipJoin(sample, "lng", "lat", ps, "geom", res = Res))
    val brute  = pairs(sample.crossJoin(ps).where(st_contains(col("geom"), col("lng"), col("lat"))))
    val pip =
      if (brute.isEmpty) Seq("pip gate is vacuous: the brute-force join found no hit")
      else if (engine != brute)
        Seq(s"pipJoin differs from brute force: ${(engine -- brute).size} extra, ${(brute -- engine).size} missing")
      else Nil
    // tiles: the slippy-map formula, allowing a point within 1e-9 of a tile edge
    val tiled = SpatialJoins.assignTiles(sample.limit(5000), "lng", "lat", Z)
      .select("lng", "lat", "tile_z", "tile_x", "tile_y").collect()
    val n = 1L << Z
    val badTiles = tiled.count { r =>
      val (lng, lat) = (r.getDouble(0), r.getDouble(1))
      val fx = (lng + 180.0) / 360.0 * n
      val lr = math.toRadians(lat)
      val fy = (1.0 - math.log(math.tan(lr) + 1.0 / math.cos(lr)) / math.Pi) / 2.0 * n
      def ok(f: Double, got: Long) = got == math.floor(f).toLong ||
        math.abs(f - math.rint(f)) < 1e-9 && math.abs(got - f) <= 1.0
      !(r.getInt(2) == Z && ok(fx, r.getLong(3)) && ok(fy, r.getLong(4)))
    }
    pip ++ (if (badTiles > 0) Seq(s"$badTiles of ${tiled.length} tiles differ from the slippy-map formula") else Nil)
  }

  def layers(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val n = rowsPerJob
    val prefix = Workload.prefixTimes(3, Seq(
      // only what the join reads from every row: the engine computes the
      // other image columns for join hits alone
      "imagegen" -> (() => Workload.noop(images(spark, n).select("lng", "lat"))),
      "pip"      -> (() => Workload.noop(SpatialJoins.pipJoin(images(spark, n), "lng", "lat", polys(spark),
                      "geom", res = Res).select("image_id", "poly_id", "lng", "lat", "phash"))),
      "full"     -> (() => job(spark, t))))

    // counters from the public cell functions: cover cells, then the points
    // whose cell is one of them (candidate pairs before the refine)
    val cover = polys(spark).select(col("poly_id"), explode(hex_cover(col("geom"), lit(Res))).as("cell"))
    val coverCells = cover.count()
    val candidates = images(spark, n).select(hex_cell(col("lng"), col("lat"), lit(Res)).as("cell"))
      .join(broadcast(cover), "cell").count()
    val hits = SpatialJoins.pipJoin(images(spark, n), "lng", "lat", polys(spark), "geom", res = Res).count()

    // kernels, single-threaded on this workload's own inputs
    val pts = images(spark, 2000).select("lng", "lat").collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val geoms = polys(spark).select(
      col("geom.gtype"), col("geom.coords"), col("geom.pos_offsets"),
      col("geom.ring_offsets"), col("geom.part_offsets")).collect().map { r =>
        (r.getByte(0).toInt, r.getSeq[Double](1).toArray, r.getSeq[Int](2).toArray,
         r.getSeq[Int](3).toArray, r.getSeq[Int](4).toArray)
      }
    val hexNs = Host.nsPerCall(200000) { i =>
      val p = pts(i % pts.length); HexCell.cellId(p._1, p._2, Res)
    }
    val containsNs = Host.nsPerCall(200000) { i =>
      val p = pts(i % pts.length); val g = geoms(i % geoms.length)
      if (GeoAlgo.contains(g._1, g._2, g._3, g._4, g._5, p._1, p._2)) 1L else 0L
    }
    Map(
      "pipeline.imagegen_s"     -> prefix("imagegen"),
      "join.pip_s"              -> (prefix("pip") - prefix("imagegen")),
      "join.tiles_s"            -> (prefix("full") - prefix("pip")),
      "index.cover_cells"       -> coverCells.toDouble,
      "index.hex_cell_ns"       -> hexNs,
      "join.pip_candidates"     -> candidates.toDouble,
      "join.pip_hits"           -> hits.toDouble,
      "join.pip_refine_ratio"   -> (if (candidates == 0) 0.0 else hits.toDouble / candidates),
      "algo.contains_ns"        -> containsNs) ++ Workload.codecKernelNs(fixtureDocs)
  }
}
