package graft.spatial

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Mixed-geometry Shape <-> struct column codec.
  *
  * The reference stores heterogeneous geometry columns as a
  * `UserDefinedType[Shape]` over Kryo-serialized bytes with a hand-rolled
  * tag byte (reference: ShapeType.scala:27-41,
  * util/KryoShapeSerializer.scala:33-123 — tag 0=Point, 1=MBR, 2=Circle,
  * 3=Polygon, 4=LineSegment). UDTs are private API on Spark 4, so the
  * rebuild encodes the same tagged union as a PLAIN STRUCT column
  * `struct<tag: int, coords: array<double>>` (SURVEY.md §1.4): fully
  * Tungsten-native, parquet-storable, and readable by any engine — the
  * oracle can re-derive the geometry from the struct fields in SQL.
  *
  * Layouts (dimensionality is implied by the tag + length):
  *  - Point:        [x1..xd]
  *  - MBR:          [low1..lowd, high1..highd]
  *  - Circle:       [c1..cd, radius]
  *  - Polygon:      [x0,y0, x1,y1, ...]   (2-D vertex ring, NO holes)
  *  - Segment:      [ax,ay, bx,by]        (2-D)
  *  - PolygonHoles: [nRings, n0, x,y...(n0 outer pairs), n1, x,y..., ...]
  *    (tag 5, layout v2 — added for interior rings; hole-free polygons
  *    KEEP tag 3 so every at-rest shape column written before v2 decodes
  *    unchanged, and a tag-5 value is self-describing for new readers)
  *  - Collection:   [nParts, tag0, len0, coords0..., tag1, len1, ...]
  *    (tag 6, layout v3 — OGC Multi* and GeometryCollection; each part is
  *    its own tagged block with `len` = its coords length, so parts
  *    nest recursively and the value is self-describing. Single shapes
  *    KEEP their leaf tags — same at-rest compatibility rule as tag 5)
  */
object ShapeCodec {

  val TagPoint = 0
  val TagMBR = 1
  val TagCircle = 2
  val TagPolygon = 3
  val TagSegment = 4
  val TagPolygonHoles = 5
  val TagCollection = 6

  /** The struct type of an encoded shape column. */
  val sqlType: StructType = StructType(Seq(
    StructField("tag", IntegerType, nullable = false),
    StructField("coords", ArrayType(DoubleType, containsNull = false),
      nullable = false)))

  def encode(s: Shape): (Int, Array[Double]) = s match {
    case Point(c)          => (TagPoint, c)
    case MBR(lo, hi)       => (TagMBR, lo.coord ++ hi.coord)
    case Circle(c, r)      => (TagCircle, c.coord :+ r)
    case p: Polygon        =>
      if (p.holes.isEmpty) (TagPolygon, p.flat)
      else (TagPolygonHoles, p.flatRings)
    case LineSegment(a, b) => (TagSegment, a.coord ++ b.coord)
    case ShapeCollection(parts) =>
      val b = Array.newBuilder[Double]
      b += parts.length.toDouble
      parts.foreach { part =>
        val (t, c) = encode(part)
        b += t.toDouble
        b += c.length.toDouble
        b ++= c
      }
      (TagCollection, b.result())
  }

  def decode(tag: Int, coords: Array[Double]): Shape = tag match {
    case TagPoint => Point(coords)
    case TagMBR =>
      val d = coords.length / 2
      MBR(Point(coords.take(d)), Point(coords.drop(d)))
    case TagCircle => Circle(Point(coords.init), coords.last)
    case TagPolygon =>
      Polygon(Array.tabulate(coords.length / 2)(i =>
        Point(coords(2 * i), coords(2 * i + 1))))
    case TagSegment =>
      LineSegment(Point(coords(0), coords(1)), Point(coords(2), coords(3)))
    case TagPolygonHoles =>
      val nRings = coords(0).toInt
      require(nRings >= 1 && coords.length > 1,
        s"malformed tag-5 polygon: $nRings rings, ${coords.length} doubles")
      var off = 1
      val rings = Array.tabulate(nRings) { _ =>
        val n = coords(off).toInt
        off += 1
        val ring = Array.tabulate(n)(i =>
          Point(coords(off + 2 * i), coords(off + 2 * i + 1)))
        off += 2 * n
        ring
      }
      require(off == coords.length,
        s"malformed tag-5 polygon: ${coords.length - off} trailing doubles")
      Polygon(rings.head, rings.tail)
    case TagCollection =>
      require(coords.nonEmpty, "malformed tag-6 collection: empty coords")
      val nParts = coords(0).toInt
      require(nParts >= 1, s"malformed tag-6 collection: $nParts parts")
      var off = 1
      val parts = Array.tabulate(nParts) { _ =>
        require(off + 2 <= coords.length,
          s"malformed tag-6 collection: truncated part header at $off")
        val t = coords(off).toInt
        val len = coords(off + 1).toInt
        off += 2
        require(len >= 0 && off + len <= coords.length,
          s"malformed tag-6 collection: part of length $len overruns ${coords.length}")
        val part = decode(t, java.util.Arrays.copyOfRange(coords, off, off + len))
        off += len
        part
      }
      require(off == coords.length,
        s"malformed tag-6 collection: ${coords.length - off} trailing doubles")
      ShapeCollection(parts)
    case other => throw new IllegalArgumentException(s"unknown shape tag: $other")
  }

  /** Decode from a struct value. Row-at-a-time object construction is the
    * same cost class as the reference's per-row Kryo deserialization; the
    * shapes are small and short-lived (scalar-replaceable). */
  def fromRow(r: InternalRow): Shape =
    decode(r.getInt(0), r.getArray(1).toDoubleArray())

  // Static kernels called from generated code (whole-stage codegen keeps
  // the call inside the produced loop).
  def intersectsRows(a: InternalRow, b: InternalRow): Boolean =
    fromRow(a).intersects(fromRow(b))

  def minDistRows(a: InternalRow, b: InternalRow): Double =
    fromRow(a).minDist(fromRow(b))

  /** Low (`hi` false) or high edge of the decoded shape's bbox on `axis`. */
  def bboxEdgeRow(r: InternalRow, axis: Int, hi: Boolean): Double = {
    val m = fromRow(r).mbr
    (if (hi) m.high else m.low).coord(axis)
  }
}
