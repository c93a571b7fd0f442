package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions.{call_function, expr, lit}

import graft.geo.sql.GeoFunctions

/** Every engine kernel generates real code: a projection of all functions
  * `GeoFunctions.register` installs, plus the text and PQ kernels that share
  * their base, plans with no CodegenFallback expression, stays inside
  * whole-stage codegen, and returns the same rows as the interpreted path.
  */
class KernelCodegenSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def t(s: String) = s"CASE WHEN k = 0 THEN '$s' END"
  private val poly = """{"type":"Polygon","coordinates":[[[10.0,10.0],[20.0,10.0],[20.0,20.0],[15.0,25.0],[10.0,20.0],[10.0,10.0]]]}"""
  private val tri  = """{"type":"Polygon","coordinates":[[[12.0,5.0],[30.0,15.0],[12.0,28.0],[12.0,5.0]]]}"""
  private val coll = """{"type":"GeometryCollection","geometries":[""" + poly +
    """,{"type":"LineString","coordinates":[[0.0,0.0],[15.0,15.0],[40.0,12.0]]},{"type":"Point","coordinates":[14.0,14.0]}]}"""
  private val doc  = s"""{"type":"Feature","geometry":$poly,"properties":{"a":1,"b":[2,3]}}"""
  private val books = Array.tabulate(2 * 256 * 2)(j => ((j * 37) % 101) / 50.0f - 1.0f)

  /** (registered name, call) — every argument derives from the column
    * k = id % 1: zero, but not foldable, so constant folding cannot
    * evaluate a kernel on the driver (CLAUDE.md). */
  private def calls: Seq[(String, Column)] = {
    def e(s: String) = expr(s)
    val vec = "array(CAST(d + 0.25 AS FLOAT), CAST(d - 0.5 AS FLOAT), CAST(d + 1.0 AS FLOAT), CAST(d AS FLOAT))"
    Seq(
      "from_geojson"          -> e("from_geojson(doc)"),
      "geojson_error"         -> e(s"geojson_error(${t("""{"type":""")})"),
      "to_geojson"            -> e("to_geojson(from_geojson(doc))"),
      "to_geojson_pretty"     -> e("to_geojson_pretty(from_geojson(doc))"),
      "from_geojson_geom"     -> e("from_geojson_geom(poly)"),
      "to_geojson_geom"       -> e("to_geojson_geom(gc)"),
      "with_feature_props"    -> e(s"with_feature_props(doc, ${t("""{"c":4}""")})"),
      "with_feature_geometry" -> e("with_feature_geometry(doc, g2)"),
      "random_geojson"        -> e("random_geojson(id, k + 7)"),
      "json_update"           -> e(s"json_update(doc, ${t("properties.a")}, ${t("[5]")})"),
      "json_remove"           -> e(s"json_remove(doc, ${t("properties.b")})"),
      "st_contains"           -> e("st_contains(g, d + 15.0, d + 15.0)"),
      "st_intersects"         -> e("st_intersects(gc, g2)"),
      "st_distance_deg"       -> e("st_distance_deg(g, d + 40.0, d)"),
      "st_bbox"               -> e("st_bbox(gc)"),
      "st_centroid"           -> e("st_centroid(g)"),
      "st_area"               -> e("st_area(gc)"),
      "st_area_m2"            -> e("st_area_m2(gc)"),
      "st_simplify"           -> e("st_simplify(gc, d + 3.0)"),
      "st_clip_box"           -> e("st_clip_box(gc, d + 12.0, d + 12.0, d + 18.0, d + 30.0)"),
      "st_erase_box"          -> e("st_erase_box(gc, d + 12.0, d + 12.0, d + 18.0, d + 30.0)"),
      "st_clip_convex"        -> e("st_clip_convex(gc, g2)"),
      "st_intersection"       -> e("st_intersection(g, g2)"),
      "st_difference"         -> e("st_difference(gc, g2)"),
      "st_union"              -> e("st_union(g, g2)"),
      "st_buffer_deg"         -> e("st_buffer_deg(g, d + 0.5)"),
      "st_rings"              -> e("st_rings(g)"),
      "st_is_valid"           -> e("st_is_valid(gc)"),
      "st_valid_reason"       -> e("st_valid_reason(g)"),
      "st_union_rings"        -> e("st_union_rings(st_rings(g))"),
      "st_convex_hull"        -> e("st_convex_hull(gc)"),
      "st_parts"              -> e("st_parts(gc)"),
      "st_length_m"           -> e("st_length_m(gc)"),
      "st_geometry_type"      -> e("st_geometry_type(gc)"),
      "haversine"             -> e("haversine(d, d, d + 1.0, d + 1.0)"),
      "hex_cell"              -> e("hex_cell(d + 15.0, d + 15.0, i + 5)"),
      "hex_kring"             -> e("hex_kring(hex_cell(d + 15.0, d + 15.0, i + 5), i + 1)"),
      "hex_cover"             -> e("hex_cover(gc, i + 4)"),
      "s2_cell"               -> e("s2_cell(d + 15.0, d + 15.0, i + 10)"),
      "s2_cover"              -> e("s2_cover(gc, i + 6)"),
      "s2_cover_multi"        -> e("s2_cover_multi(g, i + 4, i + 8)"),
      "s2_ancestors"          -> e("s2_ancestors(d + 15.0, d + 15.0, i + 4, i + 8)"),
      "s2_cover_box"          -> e("s2_cover_box(d + 10.0, d + 10.0, d + 20.0, d + 20.0, i + 4, i + 8)"),
      "s2_cell_ancestors"     -> e("s2_cell_ancestors(s2_cell(d + 15.0, d + 15.0, i + 10), i + 4)"),
      "tile_key"              -> e("tile_key(d + 15.0, d + 15.0, i + 6)"),
      "tile_bounds"           -> e("tile_bounds(tile_key(d + 15.0, d + 15.0, i + 6))"),
      "tile_cover"            -> e("tile_cover(gc, i + 5)"),
      "tile_cover_box"        -> e("tile_cover_box(d + 10.0, d + 10.0, d + 20.0, d + 20.0, i + 5)"),
      "ngram_jaccard"         -> e(s"ngram_jaccard(${t("hello world")}, ${t("hello there")}, i + 3)"),
      "common_substring"      -> e(s"common_substring(${t("a shared run")}, ${t("the shared r")}, i + 8)"),
      "pq_encode"             -> call_function("pq_encode", e(vec), lit(books), e("i + 2"), e("i + 2")),
      "pq_encode"             -> call_function("pq_encode", e(vec), lit(books), e("i + 2"), e("i + 2"),
        e("array(CAST(d AS FLOAT), CAST(d + 1.0 AS FLOAT), CAST(d - 1.0 AS FLOAT), CAST(d AS FLOAT))")),
      "pq_lut"                -> call_function("pq_lut", e(vec), lit(books), e("i + 2"), e("i + 2")))
  }

  private def inputs: DataFrame = spark.range(4)
    .selectExpr("id", "id % 1 AS k")
    .selectExpr("id", "k", "CAST(k AS DOUBLE) AS d", "CAST(k AS INT) AS i",
      s"${t(doc)} AS doc", s"${t(poly)} AS poly", s"${t(coll)} AS coll", s"${t(tri)} AS tri")
    .selectExpr("*", "from_geojson_geom(poly) AS g", "from_geojson_geom(coll) AS gc",
      "from_geojson_geom(tri) AS g2")

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("every registered geo, text and PQ kernel generates code and matches the interpreted path") {
    val names = calls.map(_._1).toSet
    val missing = GeoFunctions.builders.map(_._1).filterNot(names)
    assert(missing.isEmpty, s"functions without a codegen case: $missing")
    // small groups: a projection wider than spark.sql.codegen.maxFields
    // (nested fields count) is planned outside whole-stage codegen anyway
    calls.grouped(6).foreach { group =>
      def query = inputs.select(group.zipWithIndex.map { case ((n, c), j) => c.as(s"${n}_$j") }: _*)
      val label = group.map(_._1).mkString(", ")
      val plan  = query.queryExecution.executedPlan
      val fallbacks = plan.collect { case p => p.expressions }.flatten
        .flatMap(_.collect { case f: CodegenFallback => f.prettyName })
      assert(fallbacks.isEmpty, s"[$label] CodegenFallback in the plan: ${fallbacks.distinct}\n$plan")
      val projects = plan.collect { case p: ProjectExec => p }
      val staged = plan.collect { case w: WholeStageCodegenExec =>
        w.child.collect { case p: ProjectExec => p } }.flatten
      assert(projects.nonEmpty && projects.forall(p => staged.exists(_ eq p)),
        s"[$label] a kernel projection fell out of whole-stage codegen:\n$plan")
      val generated = query.collect().toSeq
      val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false")(query.collect().toSeq)
      assert(generated.length == 4 && generated.forall(r => (0 until r.length).forall(!r.isNullAt(_))),
        s"[$label] every kernel must return a value:\n${generated.head}")
      assert(generated == interpreted, s"[$label] codegen and interpreted rows differ")
    }
  }
}
