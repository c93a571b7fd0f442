package graft.geo.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.geo.algo.GeoAlgo
import graft.geo.json.{GeoJsonCodec, JValue}
import graft.geo.model.GeoModel._
import graft.geo.model.GeoModel.Geometry

/** The engine's packed geometry row format (SURVEY.md §1.4) and the
  * converters between it and the GeoJSON ADT.
  *
  * Layout mirrors the reference's flat `float array` positions
  * (/root/reference/src/geojson/geojson.ml:42-43) generalized to all types:
  *  - coords       flat [x0,y0(,z0),x1,...] doubles
  *  - pos_offsets  start index in coords per position (len = nPos+1) —
  *                 positions may be ragged (2-D and 3-D mixed), which the
  *                 reference permits (any float array is a position)
  *  - ring_offsets start position-index per ring/line (len = nRings+1)
  *  - part_offsets start ring-index per polygon/line part (len = nParts+1)
  *  - children     GeometryCollection members as GeoJSON text (the recursion
  *                 escape hatch; Spark structs cannot recurse)
  *  - fm           foreign members as ordered (key, minified-json) pairs —
  *                 an array, not a map, to preserve order and duplicates for
  *                 exact round-trips (geojson_intf.ml:204-206)
  */
object GeoStruct {

  val fmType: ArrayType = ArrayType(
    StructType(Seq(StructField("k", StringType, nullable = false),
                   StructField("v", StringType, nullable = false))),
    containsNull = false)

  val geometryType: StructType = StructType(Seq(
    StructField("gtype", ByteType, nullable = false),
    StructField("coords", ArrayType(DoubleType, containsNull = false), nullable = true),
    StructField("pos_offsets", ArrayType(IntegerType, containsNull = false), nullable = true),
    StructField("ring_offsets", ArrayType(IntegerType, containsNull = false), nullable = true),
    StructField("part_offsets", ArrayType(IntegerType, containsNull = false), nullable = true),
    StructField("children", ArrayType(StringType, containsNull = false), nullable = true),
    StructField("fm", fmType, nullable = true)))

  val featureType: StructType = StructType(Seq(
    StructField("id_s", StringType, nullable = true),
    StructField("id_n", DoubleType, nullable = true),
    StructField("geometry", geometryType, nullable = true),
    StructField("properties", StringType, nullable = true),
    StructField("fm", fmType, nullable = true)))

  /** kind: 0 = bare Geometry, 1 = Feature, 2 = FeatureCollection
    * (geojson.ml:468-471). Exactly one of geometry/feature/features set. */
  val topType: StructType = StructType(Seq(
    StructField("kind", ByteType, nullable = false),
    StructField("bbox", ArrayType(DoubleType, containsNull = false), nullable = true),
    StructField("geometry", geometryType, nullable = true),
    StructField("feature", featureType, nullable = true),
    StructField("features", ArrayType(featureType, containsNull = false), nullable = true),
    StructField("fm", fmType, nullable = true)))

  // ---------------------------------------------------------------- pack

  private def packFm(fm: Vector[(String, JValue)]): ArrayData =
    new GenericArrayData(fm.map { case (k, v) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(k), UTF8String.fromString(v.render)))
    }.toArray[Any])

  def packGeometry(g: Geometry): InternalRow = {
    val out = new GenericInternalRow(7)
    out.update(0, GType.of(g.shape).toByte)
    out.update(6, packFm(g.foreignMembers))
    g.shape match {
      case GeometryCollection(children) =>
        out.update(5, new GenericArrayData(
          children.map(c => UTF8String.fromString(GeoJsonCodec.geometryToJson(c).render)).toArray[Any]))
      case shape =>
        // normalize to parts -> rings -> positions
        val parts: Vector[Vector[Vector[Position]]] = shape match {
          case Point(p)             => Vector(Vector(Vector(p)))
          case MultiPoint(ps)       => Vector(Vector(ps))
          case LineString(ps)       => Vector(Vector(ps))
          case MultiLineString(ls)  => Vector(ls)
          case Polygon(rs)          => Vector(rs)
          case MultiPolygon(ps)     => ps
          case _: GeometryCollection => throw new IllegalStateException("unreachable")
        }
        val nPos   = parts.iterator.flatten.map(_.length).sum
        val nRings = parts.iterator.map(_.length).sum
        val coordsB = Array.newBuilder[Double]
        val posOff  = new Array[Int](nPos + 1)
        val ringOff = new Array[Int](nRings + 1)
        val partOff = new Array[Int](parts.length + 1)
        var pi = 0; var ri = 0; var ci = 0
        parts.zipWithIndex.foreach { case (rings, pIdx) =>
          partOff(pIdx) = ri
          rings.foreach { ring =>
            ringOff(ri) = pi; ri += 1
            ring.foreach { pos =>
              posOff(pi) = ci; pi += 1
              coordsB ++= pos; ci += pos.length
            }
          }
        }
        partOff(parts.length) = ri
        ringOff(nRings) = pi
        posOff(nPos) = ci
        out.update(1, new GenericArrayData(coordsB.result()))
        out.update(2, new GenericArrayData(posOff))
        out.update(3, new GenericArrayData(ringOff))
        out.update(4, new GenericArrayData(partOff))
    }
    out
  }

  /** Pack a construction result carrying `src`'s foreign members (the
    * clip-family convention; a null `src` packs none). A null result — an
    * empty construction — stays null. */
  def packClipped(c: GeoAlgo.Clipped, src: InternalRow): InternalRow =
    if (c == null) null
    else {
      val out = new GenericInternalRow(7)
      out.update(0, c.gtype.toByte)
      out.update(1, new GenericArrayData(c.coords))
      out.update(2, new GenericArrayData(c.posOff))
      out.update(3, new GenericArrayData(c.ringOff))
      out.update(4, new GenericArrayData(c.partOff))
      if (src != null) out.update(6, src.get(6, fmType))
      out
    }

  /** A GeometryCollection of packed `kids` (re-rendered to their JSON child
    * texts) carrying `src`'s foreign members. */
  def packCollection(kids: Seq[InternalRow], src: InternalRow): InternalRow = {
    val out = new GenericInternalRow(7)
    out.update(0, GType.Collection.toByte)
    out.update(5, new GenericArrayData(kids.map(k =>
      UTF8String.fromString(GeoJsonCodec.geometryToJson(unpackGeometry(k)).render): Any).toArray))
    out.update(6, src.get(6, fmType))
    out
  }

  def packFeature(f: Feature): InternalRow = {
    val out = new GenericInternalRow(5)
    f.id.foreach {
      case StringId(s) => out.update(0, UTF8String.fromString(s))
      case NumId(d)    => out.update(1, d)
    }
    f.geometry.foreach(g => out.update(2, packGeometry(g)))
    f.properties.foreach(p => out.update(3, UTF8String.fromString(p.render)))
    out.update(4, packFm(f.foreignMembers))
    out
  }

  def packTop(g: GeoJson): InternalRow = {
    val out = new GenericInternalRow(6)
    g.bbox.foreach(b => out.update(1, new GenericArrayData(b)))
    g.body match {
      case GGeometry(geom) =>
        out.update(0, 0.toByte); out.update(2, packGeometry(geom))
      case GFeature(f) =>
        out.update(0, 1.toByte); out.update(3, packFeature(f))
      case GCollection(fc) =>
        out.update(0, 2.toByte)
        out.update(4, new GenericArrayData(fc.features.map(packFeature).toArray[Any]))
        out.update(5, packFm(fc.foreignMembers))
    }
    out
  }

  // -------------------------------------------------------------- unpack

  private def unpackFm(a: ArrayData): Vector[(String, JValue)] =
    if (a == null) Vector.empty
    else (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 2)
      r.getUTF8String(0).toString -> JValue.parseUnsafe(r.getUTF8String(1).toString)
    }.toVector

  def unpackGeometry(row: InternalRow): Geometry = {
    val gtype = row.getByte(0).toInt
    val fm    = unpackFm(if (row.isNullAt(6)) null else row.getArray(6))
    if (gtype == GType.Collection) {
      val kids = row.getArray(5)
      val children = (0 until kids.numElements()).map { i =>
        GeoJsonCodec.geometryOfJson(JValue.parseUnsafe(kids.getUTF8String(i).toString))
          .fold(e => throw new IllegalArgumentException(e), identity)
      }.toVector
      Geometry(GeometryCollection(children), fm)
    } else {
      val coords  = row.getArray(1).toDoubleArray()
      val posOff  = row.getArray(2).toIntArray()
      val ringOff = row.getArray(3).toIntArray()
      val partOff = row.getArray(4).toIntArray()
      def position(i: Int): Position = java.util.Arrays.copyOfRange(coords, posOff(i), posOff(i + 1))
      def ring(r: Int): Vector[Position] = (ringOff(r) until ringOff(r + 1)).map(position).toVector
      def part(p: Int): Vector[Vector[Position]] = (partOff(p) until partOff(p + 1)).map(ring).toVector
      val shape = gtype match {
        case GType.Point           => Point(position(0))
        case GType.MultiPoint      => MultiPoint(ring(0))
        case GType.LineString      => LineString(ring(0))
        case GType.MultiLineString => MultiLineString(part(0))
        case GType.Polygon         => Polygon(part(0))
        case GType.MultiPolygon    => MultiPolygon((0 until partOff.length - 1).map(part).toVector)
        case other                 => throw new IllegalArgumentException(s"bad gtype $other")
      }
      Geometry(shape, fm)
    }
  }

  def unpackFeature(row: InternalRow): Feature = {
    val id =
      if (!row.isNullAt(0)) Some(StringId(row.getUTF8String(0).toString))
      else if (!row.isNullAt(1)) Some(NumId(row.getDouble(1)))
      else None
    val geom  = if (row.isNullAt(2)) None else Some(unpackGeometry(row.getStruct(2, 7)))
    val props = if (row.isNullAt(3)) None else Some(JValue.parseUnsafe(row.getUTF8String(3).toString))
    val fm    = unpackFm(if (row.isNullAt(4)) null else row.getArray(4))
    Feature(geom, props, fm, id)
  }

  def unpackTop(row: InternalRow): GeoJson = {
    val bbox = if (row.isNullAt(1)) None else Some(row.getArray(1).toDoubleArray())
    val body = row.getByte(0).toInt match {
      case 0 => GGeometry(unpackGeometry(row.getStruct(2, 7)))
      case 1 => GFeature(unpackFeature(row.getStruct(3, 5)))
      case 2 =>
        val fs = row.getArray(4)
        val features = (0 until fs.numElements()).map(i => unpackFeature(fs.getStruct(i, 5))).toVector
        GCollection(FeatureCollection(features, unpackFm(if (row.isNullAt(5)) null else row.getArray(5))))
      case k => throw new IllegalArgumentException(s"bad kind $k")
    }
    GeoJson(body, bbox)
  }
}
