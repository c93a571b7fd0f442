package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.geo.sql.GeoFunctions._

/** `st_clip_box` — the construction half of the tiling story. Closed-form
  * axis-aligned cases, a JTS differential on random (concave, holed)
  * polygons x boxes, antimeridian splits, lineal stitching/splitting,
  * point filtering, collections, and the area monotonicity invariant.
  */
class ClipSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ringJson(pts: Seq[(Double, Double)]): String =
    (pts :+ pts.head).map { case (x, y) => s"[$x,$y]" }.mkString("[", ",", "]")

  private def polyJson(shell: Seq[(Double, Double)], holes: Seq[Seq[(Double, Double)]] = Nil): String =
    s"""{"type":"Polygon","coordinates":[${(ringJson(shell) +: holes.map(ringJson)).mkString(",")}]}"""

  private def boxPts(w: Double, s: Double, e: Double, n: Double) =
    Seq((w, s), (e, s), (e, n), (w, n))

  test("axis-aligned box clipped by a box is exact interval arithmetic") {
    // (w0..e0 x s0..n0) clip (w1..e1 x s1..n1): bbox = (max/min of bounds),
    // synthesized crossings land EXACTLY on the clip bounds (shPass sets
    // the clipped coordinate verbatim)
    val cases = Seq(
      (polyJson(boxPts(-10, -5, 30, 25)), 0.0, 0.0, 20.0, 20.0, true),
      (polyJson(boxPts(-10, -5, 30, 25)), -40.0, -30.0, -10.5, -6.0, false), // disjoint
      (polyJson(boxPts(-10, -5, 30, 25)), 30.0, 25.0, 50.0, 60.0, false),    // corner touch -> zero area
      (polyJson(boxPts(-10, -5, 30, 25)), -20.0, -10.0, 50.0, 40.0, true))   // box contains subject
    val rows = cases.map { case (j, w, s, e, n, _) => (j, w, s, e, n) }
      .toDF("json", "w", "s", "e", "n")
      .select(st_clip_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n").as("c"),
        $"w", $"s", $"e", $"n")
      .select($"c".isNotNull.as("hit"), st_bbox($"c").as("bb"), st_area($"c").as("area"))
      .collect()
    assert(rows.map(_.getBoolean(0)).toSeq == cases.map(_._6))
    val full = rows(0)
    assert(full.getSeq[Double](1) == Seq(0.0, 0.0, 20.0, 20.0))
    assert(full.getDouble(2) == 400.0)
    val contained = rows(3)
    assert(contained.getSeq[Double](1) == Seq(-10.0, -5.0, 30.0, 25.0))
    assert(contained.getDouble(2) == 40.0 * 30.0)
  }

  test("differential vs JTS intersection: 300 random star polygons (holes) x boxes, area-exact") {
    import org.locationtech.jts.geom.{Coordinate, GeometryFactory, Envelope}
    val gf  = new GeometryFactory()
    val rnd = new scala.util.Random(20260817L)
    def star(cx: Double, cy: Double, rMin: Double, rMax: Double, k: Int): Seq[(Double, Double)] =
      (0 until k).map { i =>
        val a = 2 * math.Pi * i / k
        val r = rMin + rnd.nextDouble() * (rMax - rMin)
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
    val cases = (0 until 300).map { i =>
      val cx = rnd.nextDouble() * 100 - 50; val cy = rnd.nextDouble() * 60 - 30
      val shell = star(cx, cy, 4.0, 12.0, 5 + rnd.nextInt(12)) // concave star, simple
      val holes = if (i % 3 == 0) Seq(star(cx, cy, 0.5, 1.8, 4 + rnd.nextInt(5)).reverse) else Nil
      val bw = cx - 14 + rnd.nextDouble() * 20; val bs = cy - 10 + rnd.nextDouble() * 14
      (polyJson(shell, holes), shell, holes, bw, bs, bw + 3 + rnd.nextDouble() * 16,
        bs + 3 + rnd.nextDouble() * 12)
    }
    val got = cases.map { case (j, _, _, w, s, e, n) => (j, w, s, e, n) }
      .toDF("json", "w", "s", "e", "n")
      .select(coalesce(st_area(st_clip_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n")),
        lit(0.0)).as("area"))
      .as[Double].collect()
    cases.zip(got).zipWithIndex.foreach { case (((_, shell, holes, w, s, e, n), area), i) =>
      def ring(pts: Seq[(Double, Double)]) =
        gf.createLinearRing((pts :+ pts.head).map { case (x, y) => new Coordinate(x, y) }.toArray)
      val subject = gf.createPolygon(ring(shell), holes.map(ring).toArray)
      val want = subject.intersection(gf.toGeometry(new Envelope(w, e, s, n))).getArea
      // SH emits multi-piece concave clips as one bridged ring — the bridge
      // edges cancel, so the AREA is the exact intersection area
      assert(math.abs(area - want) <= 1e-9 * math.max(1.0, want),
        s"case $i: clip area $area vs JTS $want (box [$w,$s,$e,$n])")
    }
  }

  test("st_area_m2(clip) <= st_area_m2(geom), vertices inside the box") {
    val rnd = new scala.util.Random(7L)
    val rows = (0 until 60).map { _ =>
      val cx = rnd.nextDouble() * 100 - 50; val cy = rnd.nextDouble() * 80 - 40
      val shell = (0 until 9).map { i =>
        val a = 2 * math.Pi * i / 9
        val r = 2.0 + rnd.nextDouble() * 8.0
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
      (polyJson(shell), cx - 6, cy - 5, cx + 4 + rnd.nextDouble() * 8, cy + 3 + rnd.nextDouble() * 8)
    }
    val out = rows.toDF("json", "w", "s", "e", "n")
      .select(st_area_m2(from_geojson_geom($"json")).as("a0"),
        st_area_m2(st_clip_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n")).as("a1"),
        st_bbox(st_clip_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n")).as("bb"),
        $"w", $"s", $"e", $"n")
      .where($"a1".isNotNull).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getDouble(1) <= r.getDouble(0) * (1 + 1e-12),
        s"clip area ${r.getDouble(1)} exceeds subject area ${r.getDouble(0)}")
      val bb = r.getSeq[Double](2)
      assert(bb(0) >= r.getDouble(3) - 1e-9 && bb(2) <= r.getDouble(5) + 1e-9 &&
        bb(1) >= r.getDouble(4) - 1e-9 && bb(3) <= r.getDouble(6) + 1e-9,
        s"clip bbox $bb escapes the box")
    }
  }

  test("antimeridian: a crossing polygon clips to exact pieces on both sides") {
    // ring over lngs 170 -> -170 (= 190 unwrapped), lats 0..10
    val j = """{"type":"Polygon","coordinates":[[[170.0,0.0],[-170.0,0.0],[-170.0,10.0],[170.0,10.0],[170.0,0.0]]]}"""
    val out = Seq(
      (j, 170.0, 0.0, 180.0, 10.0),   // east side: 10 x 10
      (j, -180.0, 0.0, -170.0, 10.0), // west side: 10 x 10
      (j, -180.0, -90.0, 180.0, 90.0) // whole world: split into both pieces
    ).toDF("json", "w", "s", "e", "n")
      .select(st_clip_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n").as("c"))
      .select(st_area($"c").as("area"), st_geometry_type($"c").as("t"), st_bbox($"c").as("bb"))
      .collect()
    assert(out(0).getDouble(0) == 100.0 && out(0).getString(1) == "Polygon")
    assert(out(0).getSeq[Double](2) == Seq(170.0, 0.0, 180.0, 10.0))
    assert(out(1).getDouble(0) == 100.0 && out(1).getString(1) == "Polygon")
    assert(out(1).getSeq[Double](2) == Seq(-180.0, 0.0, -170.0, 10.0))
    // the full-world clip splits the crossing ring at ±180: two pieces
    assert(out(2).getString(1) == "MultiPolygon" && out(2).getDouble(0) == 200.0)
  }

  test("lineal: stitching, split promotion, and length monotonicity") {
    // W-shaped line dipping out of the box bottom: two disjoint runs survive
    val zig = """{"type":"LineString","coordinates":[[0.0,5.0],[2.0,5.0],[4.0,-5.0],[6.0,5.0],[8.0,5.0]]}"""
    val r = Seq((zig, 0.0, 0.0, 8.0, 10.0)).toDF("json", "w", "s", "e", "n")
      .select(st_clip_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n").as("c"))
      .select(st_geometry_type($"c").as("t"), to_geojson_geom($"c").as("j"),
        st_length_m($"c").as("len")).head()
    assert(r.getString(0) == "MultiLineString", r.getString(1))
    // y = -5 dips below y = 0 between x=2..4 and x=4..6: exits at (3,0),
    // re-enters at (5,0) — two stitched runs
    assert(r.getString(1) ==
      """{"type":"MultiLineString","coordinates":[[[0,5],[2,5],[3,0]],[[5,0],[6,5],[8,5]]]}""",
      r.getString(1))
    // fully inside: pass-through, type preserved, same vertices
    val in = Seq((zig, -10.0, -10.0, 20.0, 20.0)).toDF("json", "w", "s", "e", "n")
      .select(to_geojson_geom(st_clip_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n")))
      .as[String].head()
    assert(in == zig.replace(".0", ""))
    // length never grows
    val lens = Seq((zig, 1.0, 1.0, 7.0, 9.0)).toDF("json", "w", "s", "e", "n")
      .select(st_length_m(from_geojson_geom($"json")).as("l0"),
        st_length_m(st_clip_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n")).as("l1"))
      .head()
    assert(lens.getDouble(1) <= lens.getDouble(0))
  }

  test("points, collections, null propagation, inverted box") {
    val mp = """{"type":"MultiPoint","coordinates":[[1.0,1.0],[5.0,5.0],[9.0,9.0],[-175.0,2.0]]}"""
    val kept = Seq((mp, 0.0, 0.0, 6.0, 6.0)).toDF("json", "w", "s", "e", "n")
      .select(to_geojson_geom(st_clip_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n")))
      .as[String].head()
    assert(kept == """{"type":"MultiPoint","coordinates":[[1,1],[5,5]]}""")
    // wrapped containment: box east of the antimeridian catches -175 via +360
    val wrapped = Seq((mp, 180.0, 0.0, 190.0, 6.0)).toDF("json", "w", "s", "e", "n")
      .select(to_geojson_geom(st_clip_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n")))
      .as[String].head()
    assert(wrapped == """{"type":"MultiPoint","coordinates":[[-175,2]]}""")
    val cases = Seq(
      // collection: point inside + polygon outside -> only the point survives
      ("""{"type":"GeometryCollection","geometries":[{"type":"Point","coordinates":[1.0,1.0]},{"type":"Polygon","coordinates":[[[50.0,50.0],[60.0,50.0],[60.0,60.0],[50.0,50.0]]]}]}""",
        0.0, 0.0, 6.0, 6.0),
      ("""{"type":"Point","coordinates":[99.0,0.0]}""", 0.0, 0.0, 6.0, 6.0), // miss -> null
      ("""{"type":"Point","coordinates":[1.0,1.0]}""", 6.0, 6.0, 0.0, 0.0)) // inverted box -> null
      .toDF("json", "w", "s", "e", "n")
      .select(to_geojson_geom(st_clip_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n")))
      .as[String].collect()
    assert(cases(0) == """{"type":"GeometryCollection","geometries":[{"type":"Point","coordinates":[1,1]}]}""")
    assert(cases(1) == null && cases(2) == null)
    // null geometry propagates
    val nulls = Seq(Option.empty[String]).toDF("json")
      .select(st_clip_box(from_geojson_geom($"json"), lit(0), lit(0), lit(1), lit(1)))
      .collect()
    assert(nulls(0).isNullAt(0))
  }

  test("holes: clipped hole subtracts; hole outside the box vanishes") {
    import org.locationtech.jts.geom.{Coordinate, GeometryFactory, Envelope}
    val gf = new GeometryFactory()
    val shell = boxPts(0, 0, 20, 20)
    val hole  = boxPts(4, 4, 8, 8).reverse // holes wind opposite
    val j = polyJson(shell, Seq(hole))
    val rows = Seq(
      (j, 2.0, 2.0, 12.0, 12.0),  // hole partially relevant: fully inside clip
      (j, 10.0, 10.0, 30.0, 30.0) // hole outside the clip window entirely
    ).toDF("json", "w", "s", "e", "n")
      .select(st_area(st_clip_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n")).as("a"),
        $"w", $"s", $"e", $"n").collect()
    rows.foreach { r =>
      def ring(pts: Seq[(Double, Double)]) =
        gf.createLinearRing((pts :+ pts.head).map { case (x, y) => new Coordinate(x, y) }.toArray)
      val subject = gf.createPolygon(ring(shell), Array(ring(hole)))
      val want = subject.intersection(gf.toGeometry(
        new Envelope(r.getDouble(1), r.getDouble(3), r.getDouble(2), r.getDouble(4)))).getArea
      assert(math.abs(r.getDouble(0) - want) <= 1e-9, s"got ${r.getDouble(0)} want $want")
    }
  }

  test("tilePolygons: exact per-tile pieces partition each polygon along tile seams") {
    import graft.geo.join.SpatialJoins
    val polys = (0 until 6).map { i =>
      val w = -170.0 + i * 55.3; val s = -60.0 + i * 17.1
      (i.toLong, polyJson(boxPts(w, s, w + 47.0, s + 29.0)))
    }.toDF("pid", "json").select($"pid", from_geojson_geom($"json").as("geom"))
    val tiled = SpatialJoins.tilePolygons(polys, "geom", z = 3)
      .select($"pid", $"tile_key",
        st_area($"tile_geom").as("a"), st_bbox($"tile_geom").as("bb"),
        tile_bounds($"tile_key").as("tb"))
      .collect()
    assert(tiled.nonEmpty)
    // every piece stays inside its tile
    tiled.foreach { r =>
      val bb = r.getSeq[Double](3); val tb = r.getSeq[Double](4)
      assert(bb(0) >= tb(0) && bb(2) <= tb(2) && bb(1) >= tb(1) && bb(3) <= tb(3),
        s"piece bbox $bb escapes tile $tb")
    }
    // the pieces partition the polygon: per-pid area sum == polygon area
    val pieceSums = tiled.groupBy(_.getLong(0)).view.mapValues(_.map(_.getDouble(2)).sum).toMap
    val areas = polys.select($"pid", st_area($"geom")).as[(Long, Double)].collect().toMap
    areas.foreach { case (pid, a) =>
      assert(math.abs(pieceSums(pid) - a) <= 1e-9 * a,
        s"pid $pid: piece sum ${pieceSums(pid)} != area $a")
    }
    // antimeridian-crossing polygon: pieces land on both sides
    val cross = Seq((0L, """{"type":"Polygon","coordinates":[[[170.0,0.0],[-170.0,0.0],[-170.0,10.0],[170.0,10.0],[170.0,0.0]]]}"""))
      .toDF("pid", "json").select($"pid", from_geojson_geom($"json").as("geom"))
    val cp = SpatialJoins.tilePolygons(cross, "geom", z = 2)
      .select(element_at(st_bbox($"tile_geom"), 1).as("w"), st_area($"tile_geom").as("a"))
      .as[(Double, Double)].collect()
    assert(cp.exists(_._1 >= 170.0) && cp.exists(_._1 < -169.0), cp.toSeq.toString)
    assert(math.abs(cp.map(_._2).sum - 200.0) <= 1e-9)
  }

  // ------------------------------------------------------- st_clip_convex

  test("convex: a rectangle clip ring reproduces st_clip_box (any winding / start corner)") {
    // parity with the box path across the JTS differential corpus (concave,
    // holed stars), for a CW-wound ring started at a non-(w,s) corner
    // (exercises convexShell's reorientation). Generic-segment crossings
    // interpolate in RING-EDGE order (W,S,E,N here) vs clipBox's fixed
    // W,E,S,N, so values agree to ~1 ulp, not bit-for-bit — the bit-exact
    // claim is the axis-aligned-subject case below, where every crossing is
    // PINNED to a bound and pass order cancels out (what q65's oracle uses)
    val rnd = new scala.util.Random(555L)
    def star(cx: Double, cy: Double, rMin: Double, rMax: Double, k: Int): Seq[(Double, Double)] =
      (0 until k).map { i =>
        val a = 2 * math.Pi * i / k
        val r = rMin + rnd.nextDouble() * (rMax - rMin)
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
    val cases = (0 until 120).map { i =>
      val cx = rnd.nextDouble() * 100 - 50; val cy = rnd.nextDouble() * 60 - 30
      val shell = star(cx, cy, 4.0, 12.0, 5 + rnd.nextInt(12))
      val holes = if (i % 3 == 0) Seq(star(cx, cy, 0.5, 1.8, 4 + rnd.nextInt(5)).reverse) else Nil
      val w = cx - 14 + rnd.nextDouble() * 20; val s = cy - 10 + rnd.nextDouble() * 14
      (polyJson(shell, holes), w, s, w + 3 + rnd.nextDouble() * 16, s + 3 + rnd.nextDouble() * 12)
    }
    // CW winding, starting at the NE corner
    def rectCw(w: Double, s: Double, e: Double, n: Double) =
      polyJson(Seq((e, n), (e, s), (w, s), (w, n)))
    val rows = cases.map { case (j, w, s, e, n) => (j, w, s, e, n, rectCw(w, s, e, n)) }
      .toDF("json", "w", "s", "e", "n", "clipJson")
      .select(
        st_clip_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n").as("b"),
        st_clip_convex(from_geojson_geom($"json"), from_geojson_geom($"clipJson")).as("c"))
      .select($"b".isNull.as("bn"), $"c".isNull.as("cn"),
        st_area($"b").as("ab"), st_area($"c").as("ac"),
        st_bbox($"b").as("bb"), st_bbox($"c").as("bc"),
        st_geometry_type($"b").as("tb"), st_geometry_type($"c").as("tc"))
      .collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getBoolean(0) == r.getBoolean(1), s"case $i: null-ness diverges")
      if (!r.getBoolean(0)) {
        assert(math.abs(r.getDouble(2) - r.getDouble(3)) <= 1e-12 * math.max(1.0, r.getDouble(2)),
          s"case $i: area ${r.getDouble(2)} != ${r.getDouble(3)}")
        // bbox parity is NOT asserted here: multi-piece concave clips keep
        // their (pass-order-dependent) bridge edges along the window
        // boundary; single-spur artifacts are stripped (stripSpurs), which
        // the JTS differentials below validate by area
        assert(r.getString(6) == r.getString(7), s"case $i: type diverges")
      }
    }
    // AXIS-ALIGNED subjects: every crossing pins to a clip bound, so the
    // VERTEX SET is pass-order independent — bboxes BIT-equal (min/max is
    // order-free); the area's shoelace sum runs from a different start
    // corner (ring rotation), so it agrees to ~1 ulp, which q65's
    // round(x*1e6)-to-BIGINT oracle absorbs
    val exact = (0 until 60).map { _ =>
      val w0 = rnd.nextDouble() * 100 - 50; val s0 = rnd.nextDouble() * 60 - 30
      val (e0, n0) = (w0 + 3 + rnd.nextDouble() * 20, s0 + 3 + rnd.nextDouble() * 15)
      val cw = w0 - 5 + rnd.nextDouble() * 15; val cs = s0 - 5 + rnd.nextDouble() * 12
      (polyJson(boxPts(w0, s0, e0, n0)), cw, cs, cw + 2 + rnd.nextDouble() * 18,
        cs + 2 + rnd.nextDouble() * 14)
    }
    val er = exact.map { case (j, w, s, e, n) => (j, w, s, e, n, rectCw(w, s, e, n)) }
      .toDF("json", "w", "s", "e", "n", "clipJson")
      .select(
        st_clip_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n").as("b"),
        st_clip_convex(from_geojson_geom($"json"), from_geojson_geom($"clipJson")).as("c"))
      .select($"b".isNull.as("bn"), $"c".isNull.as("cn"),
        st_area($"b").as("ab"), st_area($"c").as("ac"),
        st_bbox($"b").as("bb"), st_bbox($"c").as("bc"))
      .collect()
    er.zipWithIndex.foreach { case (r, i) =>
      assert(r.getBoolean(0) == r.getBoolean(1), s"exact case $i: null-ness diverges")
      if (!r.getBoolean(0)) {
        assert(math.abs(r.getDouble(2) - r.getDouble(3)) <= 1e-12 * math.max(1.0, r.getDouble(2)),
          s"exact case $i: area ${r.getDouble(2)} vs ${r.getDouble(3)}")
        assert(r.getSeq[Double](4) == r.getSeq[Double](5), s"exact case $i: bbox not bit-equal")
      }
    }
  }

  test("convex: differential vs JTS intersection on random convex clips x star polygons") {
    import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
    val gf  = new GeometryFactory()
    val rnd = new scala.util.Random(99117L)
    def star(cx: Double, cy: Double, rMin: Double, rMax: Double, k: Int): Seq[(Double, Double)] =
      (0 until k).map { i =>
        val a = 2 * math.Pi * i / k
        val r = rMin + rnd.nextDouble() * (rMax - rMin)
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
    def ring(gfp: GeometryFactory, pts: Seq[(Double, Double)]) =
      gfp.createLinearRing((pts :+ pts.head).map { case (x, y) => new Coordinate(x, y) }.toArray)
    val cases = (0 until 300).map { i =>
      val cx = rnd.nextDouble() * 100 - 50; val cy = rnd.nextDouble() * 60 - 30
      val shell = star(cx, cy, 4.0, 12.0, 5 + rnd.nextInt(12)) // concave subject
      val holes = if (i % 4 == 0) Seq(star(cx, cy, 0.5, 1.8, 4 + rnd.nextInt(5)).reverse) else Nil
      // convex clip: JTS hull of a random cloud near the subject
      val cloud = (0 until 6 + rnd.nextInt(10)).map { _ =>
        new Coordinate(cx - 12 + rnd.nextDouble() * 24, cy - 9 + rnd.nextDouble() * 18)
      }
      val hull = gf.createMultiPointFromCoords(cloud.toArray).convexHull()
      val hullPts = hull.getCoordinates.toSeq.dropRight(1).map(c => (c.x, c.y))
      (polyJson(shell, holes), shell, holes, polyJson(hullPts), hull)
    }.filter(_._5.getGeometryType == "Polygon") // degenerate clouds (collinear) drop
    assert(cases.size > 250)
    val got = cases.map { case (j, _, _, cj, _) => (j, cj) }
      .toDF("json", "clipJson")
      .select(coalesce(st_area(
        st_clip_convex(from_geojson_geom($"json"), from_geojson_geom($"clipJson"))),
        lit(0.0)).as("area"))
      .as[Double].collect()
    cases.zip(got).zipWithIndex.foreach { case (((_, shell, holes, _, hull), area), i) =>
      val subject = gf.createPolygon(ring(gf, shell), holes.map(h => ring(gf, h)).toArray)
      val want = subject.intersection(hull).getArea
      assert(math.abs(area - want) <= 1e-9 * math.max(1.0, want),
        s"case $i: clip area $area vs JTS $want")
    }
  }

  test("convex: non-convex, holed, or non-Polygon clip throws loudly") {
    val subject = polyJson(boxPts(0, 0, 10, 10))
    def clipWith(clipJson: String): Unit =
      Seq((subject, clipJson)).toDF("j", "c")
        .select(st_clip_convex(from_geojson_geom($"j"), from_geojson_geom($"c")))
        .collect()
    // concave chevron
    val concave = polyJson(Seq((0.0, 0.0), (10.0, 0.0), (5.0, 3.0), (10.0, 10.0), (0.0, 10.0)))
    val e1 = intercept[Exception](clipWith(concave))
    assert(exMsg(e1).contains("not convex"), exMsg(e1))
    val holed = polyJson(boxPts(0, 0, 10, 10), Seq(boxPts(2, 2, 4, 4).reverse))
    val e2 = intercept[Exception](clipWith(holed))
    assert(exMsg(e2).contains("must not have holes"), exMsg(e2))
    val notPoly = """{"type":"LineString","coordinates":[[0.0,0.0],[5.0,5.0]]}"""
    val e3 = intercept[Exception](clipWith(notPoly))
    assert(exMsg(e3).contains("must be a Polygon"), exMsg(e3))
    val degenerate = polyJson(Seq((0.0, 0.0), (5.0, 0.0), (10.0, 0.0))) // zero area
    val e4 = intercept[Exception](clipWith(degenerate))
    assert(exMsg(e4).contains("degenerate"), exMsg(e4))
  }

  private def exMsg(e: Throwable): String = {
    var t: Throwable = e
    val sb = new StringBuilder
    while (t != null) { sb.append(t.getMessage).append(" | "); t = t.getCause }
    sb.toString
  }

  test("convex: diagonal-edge closed forms (triangle clip of a line and a box)") {
    // triangle (0,0)(10,0)(0,10): hypotenuse x + y = 10
    val tri = polyJson(Seq((0.0, 0.0), (10.0, 0.0), (0.0, 10.0)))
    // the diagonal y = x crosses the hypotenuse at exactly (5, 5): t = 0.5
    val line = """{"type":"LineString","coordinates":[[0.0,0.0],[10.0,10.0]]}"""
    val got = Seq((line, tri)).toDF("j", "c")
      .select(to_geojson_geom(st_clip_convex(from_geojson_geom($"j"), from_geojson_geom($"c"))))
      .as[String].head()
    assert(got == """{"type":"LineString","coordinates":[[0,0],[5,5]]}""", got)
    // box [4,0]x[8,8] clip: quad (4,0)(8,0)(8,2)(4,6) — area by shoelace = 16
    val box = polyJson(boxPts(4, 0, 8, 8))
    val area = Seq((box, tri)).toDF("j", "c")
      .select(st_area(st_clip_convex(from_geojson_geom($"j"), from_geojson_geom($"c"))))
      .as[Double].head()
    assert(area == 16.0, area.toString)
    // point filtering under a diamond clip |x|+|y| <= 4 centred at origin
    val diamond = polyJson(Seq((4.0, 0.0), (0.0, 4.0), (-4.0, 0.0), (0.0, -4.0)))
    val mp = """{"type":"MultiPoint","coordinates":[[0.0,0.0],[3.0,3.0],[2.0,1.0],[4.0,0.0]]}"""
    val keptPts = Seq((mp, diamond)).toDF("j", "c")
      .select(to_geojson_geom(st_clip_convex(from_geojson_geom($"j"), from_geojson_geom($"c"))))
      .as[String].head()
    // (3,3) is outside (sum 6 > 4); boundary vertex (4,0) survives (inclusive)
    assert(keptPts == """{"type":"MultiPoint","coordinates":[[0,0],[2,1],[4,0]]}""", keptPts)
  }

  test("convex: antimeridian translates land subject pieces on the clip's side") {
    // subject ring crosses 180: lngs 170 -> -170 (= 190 unwrapped), lats 0..10
    val j = """{"type":"Polygon","coordinates":[[[170.0,0.0],[-170.0,0.0],[-170.0,10.0],[170.0,10.0],[170.0,0.0]]]}"""
    // clip triangle ON the west side of the antimeridian
    val west = polyJson(Seq((-180.0, 0.0), (-172.0, 0.0), (-180.0, 8.0)))
    val r = Seq((j, west)).toDF("j", "c")
      .select(st_clip_convex(from_geojson_geom($"j"), from_geojson_geom($"c")).as("g"))
      .select(st_area($"g").as("a"), st_bbox($"g").as("bb"),
        st_geometry_type($"g").as("t")).head()
    // triangle legs 8 x 8 fully inside the subject's lat band up to y=8: area 32
    assert(r.getDouble(0) == 32.0, r.toString)
    val bb = r.getSeq[Double](1)
    assert(bb(0) == -180.0 && bb(2) == -172.0 && r.getString(2) == "Polygon")
    // and a clip on the east side catches the east sliver
    val east = polyJson(boxPts(175, 2, 179, 6))
    val a2 = Seq((j, east)).toDF("j", "c")
      .select(st_area(st_clip_convex(from_geojson_geom($"j"), from_geojson_geom($"c"))))
      .as[Double].head()
    assert(a2 == 16.0, a2.toString)
  }

  test("erase: subject minus box — closed forms, identity, coverage null") {
    val subj = polyJson(boxPts(-10, -5, 30, 25)) // 40 x 30 = 1200
    val cases = Seq(
      (subj, 0.0, 0.0, 10.0, 10.0, true, 4, 1100.0),   // interior: 4 slabs
      (subj, 40.0, 40.0, 60.0, 70.0, true, 1, 1200.0), // disjoint: identity
      (subj, -20.0, -10.0, 50.0, 40.0, false, 0, 0.0), // covering: null
      (subj, -20.0, -10.0, 0.0, 40.0, true, 1, 900.0), // west strip cut
      (subj, -10.0, -5.0, 0.0, 5.0, true, 2, 1100.0))  // SW corner: 2 slabs
    val rows = cases.map { case (j, w, s, e, n, _, _, _) => (j, w, s, e, n) }
      .toDF("json", "w", "s", "e", "n")
      .select(st_erase_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n").as("g"))
      .select($"g".isNotNull.as("hit"),
        (size($"g".getField("part_offsets")) - 1).as("np"), st_area($"g").as("area"))
      .collect()
    cases.zip(rows).foreach { case ((_, w, s, e, n, hit, np, area), r) =>
      assert(r.getBoolean(0) == hit, s"box [$w,$s,$e,$n]")
      if (hit) {
        assert(r.getInt(1) == np, s"parts for box [$w,$s,$e,$n]: ${r.getInt(1)} != $np")
        assert(r.getDouble(2) == area, s"area for box [$w,$s,$e,$n]")
      }
    }
    // the disjoint erase is a byte-identical pass-through
    val idJson = Seq((subj, 40.0, 40.0, 60.0, 70.0)).toDF("json", "w", "s", "e", "n")
      .select(to_geojson_geom(st_erase_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n")).as("a"),
        to_geojson_geom(from_geojson_geom($"json")).as("b")).head()
    assert(idJson.getString(0) == idJson.getString(1))
  }

  test("erase: differential vs JTS difference + clip/erase additivity on random stars") {
    import org.locationtech.jts.geom.{Coordinate, GeometryFactory, Envelope}
    val gf  = new GeometryFactory()
    val rnd = new scala.util.Random(20260818L)
    def star(cx: Double, cy: Double, rMin: Double, rMax: Double, k: Int): Seq[(Double, Double)] =
      (0 until k).map { i =>
        val a = 2 * math.Pi * i / k
        val r = rMin + rnd.nextDouble() * (rMax - rMin)
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
    val cases = (0 until 300).map { i =>
      val cx = rnd.nextDouble() * 100 - 50; val cy = rnd.nextDouble() * 60 - 30
      val shell = star(cx, cy, 4.0, 12.0, 5 + rnd.nextInt(12))
      val holes = if (i % 3 == 0) Seq(star(cx, cy, 0.5, 1.8, 4 + rnd.nextInt(5)).reverse) else Nil
      val bw = cx - 14 + rnd.nextDouble() * 20; val bs = cy - 10 + rnd.nextDouble() * 14
      (polyJson(shell, holes), shell, holes, bw, bs, bw + 3 + rnd.nextDouble() * 16,
        bs + 3 + rnd.nextDouble() * 12)
    }
    val got = cases.map { case (j, _, _, w, s, e, n) => (j, w, s, e, n) }
      .toDF("json", "w", "s", "e", "n")
      .select(
        coalesce(st_area(st_erase_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n")), lit(0.0)).as("er"),
        coalesce(st_area(st_clip_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n")), lit(0.0)).as("cl"),
        st_area(from_geojson_geom($"json")).as("full"))
      .as[(Double, Double, Double)].collect()
    cases.zip(got).zipWithIndex.foreach { case (((_, shell, holes, w, s, e, n), (er, cl, full)), i) =>
      def ring(pts: Seq[(Double, Double)]) =
        gf.createLinearRing((pts :+ pts.head).map { case (x, y) => new Coordinate(x, y) }.toArray)
      val subject = gf.createPolygon(ring(shell), holes.map(ring).toArray)
      val want = subject.difference(gf.toGeometry(new Envelope(w, e, s, n))).getArea
      assert(math.abs(er - want) <= 1e-9 * math.max(1.0, want),
        s"case $i: erase area $er vs JTS $want (box [$w,$s,$e,$n])")
      // clip and erase exactly tile the subject
      assert(math.abs(cl + er - full) <= 1e-9 * math.max(1.0, full),
        s"case $i: clip $cl + erase $er != subject $full")
    }
  }

  test("erase: lineal cuts, point complement, antimeridian additivity") {
    // horizontal line cut by a middle box: two runs, length = total - inside
    val line = """{"type":"LineString","coordinates":[[0.0,5.0],[20.0,5.0]]}"""
    val lr = Seq((line, 8.0, 0.0, 12.0, 10.0)).toDF("json", "w", "s", "e", "n")
      .select(st_erase_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n").as("g"))
      .select(st_geometry_type($"g"), to_geojson_geom($"g")).head()
    assert(lr.getString(0) == "MultiLineString", lr.getString(1))
    assert(lr.getString(1) ==
      """{"type":"MultiLineString","coordinates":[[[0,5],[8,5]],[[12,5],[20,5]]]}""",
      lr.getString(1))
    // points: inside AND boundary drop (closed-box complement), outside kept
    val mp = """{"type":"MultiPoint","coordinates":[[1.0,1.0],[5.0,5.0],[10.0,5.0],[15.0,15.0]]}"""
    val pr = Seq((mp, 5.0, 0.0, 10.0, 10.0)).toDF("json", "w", "s", "e", "n")
      .select(to_geojson_geom(st_erase_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n")))
      .as[String].head()
    assert(pr == """{"type":"MultiPoint","coordinates":[[1,1],[15,15]]}""", pr)
    // antimeridian-crossing subject: clip + erase areas tile the subject
    val cross = """{"type":"Polygon","coordinates":[[[170.0,0.0],[-170.0,0.0],[-170.0,10.0],[170.0,10.0],[170.0,0.0]]]}"""
    val boxes = Seq((cross, 175.0, 2.0, 180.0, 8.0),   // east-side window
      (cross, -180.0, 2.0, -172.0, 8.0),               // west-side window
      (cross, 168.0, -2.0, 172.0, 12.0))               // window over the seam-adjacent edge
    // the subject's area measured in the SAME split frame the pieces live
    // in: raw shoelace on a crossing ring is meaningless (340-wide planar
    // span), the world-clip splits it at ±180 into its true 2x(10x10)
    val ar = boxes.toDF("json", "w", "s", "e", "n")
      .select(
        coalesce(st_area(st_erase_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n")), lit(0.0)).as("er"),
        coalesce(st_area(st_clip_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n")), lit(0.0)).as("cl"),
        st_area(st_clip_box(from_geojson_geom($"json"), lit(-180.0), lit(-90.0), lit(180.0), lit(90.0))).as("full"))
      .as[(Double, Double, Double)].collect()
    ar.zipWithIndex.foreach { case ((er, cl, full), i) =>
      assert(cl > 0.0, s"case $i expected a real clip")
      assert(math.abs(cl + er - full) <= 1e-9, s"case $i: $cl + $er != $full")
    }
  }

  test("clip round-trips through the codec and composes with st_parts") {
    val j = """{"type":"Polygon","coordinates":[[[170.0,0.0],[-170.0,0.0],[-170.0,10.0],[170.0,10.0],[170.0,0.0]]]}"""
    val split = Seq((j, -180.0, -90.0, 180.0, 90.0)).toDF("json", "w", "s", "e", "n")
      .select(st_clip_box(from_geojson_geom($"json"), $"w", $"s", $"e", $"n").as("c"))
    val txt = split.select(to_geojson_geom($"c")).as[String].head()
    val back = Seq(txt).toDF("t")
      .select(st_area(from_geojson_geom($"t")).as("a"), st_geometry_type(from_geojson_geom($"t")).as("ty"))
      .head()
    assert(back.getDouble(0) == 200.0 && back.getString(1) == "MultiPolygon")
    val parts = split.select(explode(st_parts($"c")).as("p"))
      .select(st_area($"p")).as[Double].collect().toSeq
    assert(parts.sorted == Seq(100.0, 100.0))
  }

  test("Int, Long and decimal-literal arguments give the DOUBLE-argument result") {
    // a 24-vertex star: simplify, clip, erase and buffer all change it
    val star = (0 until 24).map { i =>
      val a = 2 * math.Pi * i / 24
      val r = if (i % 2 == 0) 10.0 else 9.5
      (r * math.cos(a), r * math.sin(a))
    }
    val df = Seq(polyJson(star)).toDF("json").select(from_geojson_geom($"json").as("g"))
    def same(calls: String*): Unit = {
      val row  = df.selectExpr(calls.map(c => s"to_geojson_geom($c)"): _*).head()
      val outs = calls.indices.map(row.getString)
      assert(outs.head != null && outs.head != df.selectExpr("to_geojson_geom(g)").as[String].head(),
        s"${calls.head} must change the star")
      assert(outs.forall(_ == outs.head), calls.zip(outs).mkString("\n"))
    }
    same("st_simplify(g, 2.0d)", "st_simplify(g, 2)", "st_simplify(g, CAST(2 AS BIGINT))",
      "st_simplify(g, 2.0)")
    same("st_simplify(g, 0.5d)", "st_simplify(g, 0.5)")
    same("st_clip_box(g, -5.0d, -4.0d, 6.0d, 3.0d)", "st_clip_box(g, -5, -4, 6, 3)",
      "st_clip_box(g, CAST(-5 AS BIGINT), CAST(-4 AS BIGINT), CAST(6 AS BIGINT), CAST(3 AS BIGINT))",
      "st_clip_box(g, -5.0, -4.0, 6.0, 3.0)")
    same("st_clip_box(g, -5.5d, -4.25d, 6.1d, 3.3d)", "st_clip_box(g, -5.5, -4.25, 6.1, 3.3)")
    same("st_erase_box(g, -5.0d, -4.0d, 6.0d, 3.0d)", "st_erase_box(g, -5, -4, 6, 3)",
      "st_erase_box(g, CAST(-5 AS BIGINT), CAST(-4 AS BIGINT), CAST(6 AS BIGINT), CAST(3 AS BIGINT))",
      "st_erase_box(g, -5.0, -4.0, 6.0, 3.0)")
    same("st_erase_box(g, -5.5d, -4.25d, 6.1d, 3.3d)", "st_erase_box(g, -5.5, -4.25, 6.1, 3.3)")
    same("st_buffer_deg(g, 1.0d)", "st_buffer_deg(g, 1)", "st_buffer_deg(g, CAST(1 AS BIGINT))",
      "st_buffer_deg(g, 1.0)")
    same("st_buffer_deg(g, 0.3d)", "st_buffer_deg(g, 0.3)")
  }
}
