package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.gen.GeoGen
import graft.geo.gen.GeoGen._
import graft.geo.json.{GeoJsonCodec, JNum, JObj, JStr}
import graft.geo.model.GeoModel._
import graft.geo.sources.GeoJsonWriter
import graft.geo.sql.GeoFunctions._
import graft.streaming.GeoStreams

/** The codec path: seeded FeatureCollection files → `geojson` source →
  * map_props + map_geometry → FeatureCollection writer.
  *
  * The rewrite: properties keep `name` (upper-cased) and `pop`; geometries
  * get their axis order swapped and their positions reversed — one
  * `reverse` of the flat coordinate array, which for 2-D positions is
  * exactly that. */
final class GeojsonRewrite(seed: Long, cpus: Int, work: Path, files: Int = 8) extends Workload {
  val name = "geojson_rewrite"
  private val PerFile = 3000
  val rowsPerJob: Long = files.toLong * PerFile
  private val LargeShare = 0.01
  private val LargePositions = 987

  private val inDir  = work.resolve(s"geojson-$seed/in")
  private val outDir = work.resolve(s"geojson-$seed/out")
  private lazy val features: Array[Feature] = generate()
  private lazy val texts: Array[String] = features.map(f => GeoJsonCodec.render(GeoJson(GFeature(f))))

  private def generate(): Array[Feature] = {
    val rng = new SplittableRandom(seed)
    val kinds = Array("road", "parcel", "river", "site", "zone")
    Array.tabulate(rowsPerJob.toInt) { i =>
      var state = GeoGen.splitmix(seed ^ GeoGen.splitmix(i.toLong))
      val f = () => { state = GeoGen.splitmix(state); ((state >>> 11) % 36000L - 18000L) / 100.0 }
      val skel: RGeometry =
        if (rng.nextDouble() < LargeShare) RPolygon(LargePositions)
        else rng.nextInt(6) match {
          case 0 => RPoint
          case 1 => RLineString(4)
          case 2 => RPolygon(5)
          case 3 => RMultiPoint(3)
          case 4 => RMultiPolygon(2, 4)
          case _ => RMultiLineString(2, 3)
        }
      val geom = GeoGen.random(RG(skel), f).body match {
        case GGeometry(g) => g
        case other        => sys.error(s"generator returned $other")
      }
      val props = JObj(Vector("name" -> JStr(s"site_$i"), "pop" -> JNum(rng.nextInt(1000000).toDouble),
        "kind" -> JStr(kinds(rng.nextInt(kinds.length)))))
      Feature(Some(geom), Some(props), id = Some(NumId(i.toDouble)))
    }
  }

  override def prepare(): Unit = {
    Files.createDirectories(inDir)
    texts.grouped(PerFile).zipWithIndex.foreach { case (fs, k) =>
      Files.write(inDir.resolve(f"part-$k%02d.geojson"),
        fs.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
          .getBytes(StandardCharsets.UTF_8))
    }
  }

  private def read(spark: SparkSession): DataFrame =
    spark.read.format("geojson").load(inDir.toString).select("feature_json")

  private def props(p: Column): Column =
    concat(lit("""{"name":""""), upper(get_json_object(p, "$.name")),
      lit("""","pop":"""), get_json_object(p, "$.pop"), lit("}"))

  private def geometry(g: Column): Column = g.withField("coords", reverse(g.getField("coords")))

  private def mapped(spark: SparkSession, t: Tracer): DataFrame = {
    val in = t.span("geo.sources.read")(read(spark))
    t.span("streaming.map")(
      GeoStreams.mapGeometry(GeoStreams.mapProps(in, "feature_json", props), "feature_json", geometry))
  }

  def job(spark: SparkSession, t: Tracer): Unit = {
    val out = t.analyzed(mapped(spark, t))
    t.span("action")(t.span("geo.sources.write")(
      GeoJsonWriter.writeFeatureCollections(out, "feature_json", outDir.toString, cpus)))
  }

  /** The same rewrite on the driver, through the codec model. */
  private def expected(f: Feature): String = {
    val p = f.properties.get.asInstanceOf[JObj].fields.toMap
    val name = p("name").asInstanceOf[JStr].s.toUpperCase(java.util.Locale.ROOT)
    def flip(ps: Vector[Position]): Vector[Position] = ps.map(q => Array(q(1), q(0)))
    val g = f.geometry.get
    // reverse every position of the geometry, keeping the nesting sizes
    def reshape(sizes: Seq[Int], flat: Vector[Position]): Vector[Vector[Position]] = {
      var off = 0
      sizes.map { n => val v = flat.slice(off, off + n); off += n; v }.toVector
    }
    val shape = g.shape match {
      case Point(q)            => Point(Array(q(1), q(0)))
      case MultiPoint(ps)      => MultiPoint(flip(ps.reverse))
      case LineString(ps)      => LineString(flip(ps.reverse))
      case MultiLineString(ls) => MultiLineString(reshape(ls.map(_.size), flip(ls.flatten.reverse)))
      case Polygon(rs)         => Polygon(reshape(rs.map(_.size), flip(rs.flatten.reverse)))
      case MultiPolygon(pp)    =>
        val rings = reshape(pp.flatMap(_.map(_.size)), flip(pp.flatten.flatten.reverse))
        var off = 0
        MultiPolygon(pp.map { poly => val v = rings.slice(off, off + poly.size); off += poly.size; v })
      case other => sys.error(s"unexpected generated shape $other")
    }
    val np = JObj(Vector("name" -> JStr(name), "pop" -> p("pop")))
    GeoJsonCodec.render(GeoJson(GFeature(f.copy(geometry = Some(g.copy(shape = shape)), properties = Some(np)))))
  }

  def check(spark: SparkSession): Seq[String] = {
    val out = spark.read.format("geojson").load(outDir.resolve("part-*").toString).select("feature_json")
      .collect().map(_.getString(0))
    // the reader re-emits each feature's text (numbers in shortest form), so
    // features are compared as parsed values: both sides re-rendered
    val byId = out.flatMap { s =>
      GeoJsonCodec.parse(s).toOption.collect {
        case g @ GeoJson(GFeature(f), _) => f.id.collect { case NumId(d) => d.toInt -> GeoJsonCodec.render(g) }
      }.flatten
    }.toMap
    val rng = new SplittableRandom(seed ^ 0x5eedL)
    val sample = Seq.fill(400)(rng.nextInt(features.length)).distinct
    val wrong = sample.filterNot(i => byId.get(i).contains(expected(features(i))))
    wrong.headOption.foreach { i =>
      System.err.println(s"feature $i: engine ${byId.get(i).map(_.take(400))}\n  driver ${expected(features(i)).take(400)}")
    }
    Seq(
      if (out.length != features.length) Some(s"wrote ${out.length} features, expected ${features.length}") else None,
      if (byId.size != features.length) Some(s"${features.length - byId.size} feature ids lost or duplicated") else None,
      if (wrong.nonEmpty) Some(s"${wrong.size} of ${sample.size} sampled features differ from the driver-side rewrite") else None
    ).flatten
  }

  private def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith(".")).map(Files.size(_)).sum

  def layers(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val prefix = Workload.prefixTimes(3, Seq(
      "read"  -> (() => Workload.noop(read(spark))),
      "parse" -> (() => Workload.noop(read(spark).select(from_geojson(col("feature_json")).as("top")))),
      "map"   -> (() => Workload.noop(mapped(spark, t))),
      "full"  -> (() => job(spark, t))))
    val step = math.max(1, texts.length / 2000)
    val docs = texts.indices.by(step).map(texts(_))
    Map(
      "sources.read_s"       -> prefix("read"),
      "sql.parse_s"          -> (prefix("parse") - prefix("read")),
      "streams.map_s"        -> (prefix("map") - prefix("read")),
      "sources.write_s"      -> (prefix("full") - prefix("map")),
      "sources.out_in_ratio" -> bytesUnder(outDir).toDouble / math.max(1L, bytesUnder(inDir))
    ) ++ Workload.codecKernelNs(docs)
  }
}
