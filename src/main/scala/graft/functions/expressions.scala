package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Nondeterministic,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector/spatial surface.
  *
  * All of these implement `doGenCode` so they stay inside whole-stage
  * codegen (the reference's expressions are CodegenFallback — reference:
  * expression/InRange.scala:32 — which would break codegen spans; we emit
  * a static kernel call instead).
  */

/** `cosine_similarity(array<float>, array<float>) -> double` */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosineF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels.cosineF($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `dot_product(array<float>, array<float>) -> double` */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dotF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels.dotF($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `vector_norm(array<float>) -> double` — cosineF's per-side norm
  * factor, hoistable to one pass per ROW so all-pairs cosine joins pay
  * only the dot product per PAIR (bit-identical composition; see
  * VectorKernels.normF). */
case class VectorNorm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vector_norm"

  override def nullSafeEval(a: Any): Any =
    VectorKernels.normF(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorKernels.normF($a)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `l2_distance(array<float>, array<float>) -> double` */
case class L2Distance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "l2_distance"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.l2F(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels.l2F($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `pivot_argmin(vec) -> struct<cell:int, dist:double>` — nearest-pivot
  * cell (1-based, ties to lowest index) and true Euclidean distance,
  * the Voronoi kNN joins' assignment step. The flattened p×d pivot
  * matrix rides the plan as ONE reference object and the per-row loop
  * is [[VectorKernels.pivotArgmin]] — compiled, in contrast to the
  * interpreted `transform(pivotsLit, …)` HOF it replaced (ArrayTransform
  * is CodegenFallback; at d=64 the boxed per-element evaluation was the
  * join's dominant cost). `isFloat` is baked at plan time from the
  * vector column's element type. */
case class PivotArgmin(child: Expression, pivots: Array[Double], dim: Int,
                       isFloat: Boolean) extends UnaryExpression {
  require(pivots.nonEmpty && dim >= 1 && pivots.length % dim == 0,
    s"flattened pivot matrix must be a multiple of dim=$dim, got ${pivots.length}")

  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pivot_argmin"

  override def nullSafeEval(a: Any): Any =
    VectorKernels.pivotArgmin(a.asInstanceOf[ArrayData], pivots, dim, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pivotMatrix", pivots, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VectorKernels.pivotArgmin($a, $ref, $dim, $isFloat);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `pivot_admitted(vec) -> array<int>` — the 1-based pivot cells whose
  * admission band accepts this vector; the Voronoi joins' right-side
  * replication step ([[VectorKernels.pivotAdmitted]]). Exploding this
  * array replaces a posexplode over ALL p pivots + band filter: the
  * p−|admitted| rejected rows are never materialized. */
case class PivotAdmitted(child: Expression, pivots: Array[Double],
                         bands: Array[Double], dim: Int,
                         isFloat: Boolean) extends UnaryExpression {
  require(pivots.nonEmpty && dim >= 1 && pivots.length % dim == 0 &&
    bands.length * dim == pivots.length,
    s"need one band per pivot row (dim=$dim, ${pivots.length} doubles, ${bands.length} bands)")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pivot_admitted"

  override def nullSafeEval(a: Any): Any =
    VectorKernels.pivotAdmitted(a.asInstanceOf[ArrayData], pivots, bands, dim, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val refP = ctx.addReferenceObj("pivotMatrix", pivots, "double[]")
    val refB = ctx.addReferenceObj("pivotBands", bands, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VectorKernels.pivotAdmitted($a, $refP, $refB, $dim, $isFloat);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `hier_pivot_argmin(vec) -> struct<cell:int, dist:double>` — the
  * two-level form of [[PivotArgmin]]: route through the nearest of G
  * coarse centers, then argmin over only that group's fine pivots
  * ([[VectorKernels.hierPivotArgmin]] — O((G+|group|)·d) per row, the
  * p ∝ n pivot-budget scale path). All three layout arrays ride the
  * plan as reference objects; generated code stays O(1) in p. */
case class HierPivotArgmin(child: Expression, coarse: Array[Double],
                           pivots: Array[Double], offsets: Array[Int],
                           dim: Int, isFloat: Boolean) extends UnaryExpression {
  require(coarse.nonEmpty && pivots.nonEmpty && dim >= 1 &&
    coarse.length % dim == 0 && pivots.length % dim == 0 &&
    offsets.length == coarse.length / dim + 1 &&
    offsets.head == 0 && offsets.last == pivots.length / dim,
    s"hier pivot layout mismatch: |coarse|=${coarse.length} |pivots|=${pivots.length} " +
      s"|offsets|=${offsets.length} dim=$dim")

  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hier_pivot_argmin"

  override def nullSafeEval(a: Any): Any =
    VectorKernels.hierPivotArgmin(a.asInstanceOf[ArrayData], coarse, pivots,
      offsets, dim, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val refC = ctx.addReferenceObj("coarseMatrix", coarse, "double[]")
    val refP = ctx.addReferenceObj("pivotMatrix", pivots, "double[]")
    val refO = ctx.addReferenceObj("groupOffsets", offsets, "int[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VectorKernels.hierPivotArgmin($a, $refC, " +
        s"$refP, $refO, $dim, $isFloat);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `hier_pivot_admitted(vec) -> array<int>` — the two-level form of
  * [[PivotAdmitted]]: coarse groups whose group band rejects the vector
  * are skipped whole; emitted cells equal the flat kernel's set exactly
  * ([[VectorKernels.hierPivotAdmitted]]). */
case class HierPivotAdmitted(child: Expression, coarse: Array[Double],
                             pivots: Array[Double], offsets: Array[Int],
                             groupBands: Array[Double], bands: Array[Double],
                             dim: Int, isFloat: Boolean) extends UnaryExpression {
  require(coarse.nonEmpty && pivots.nonEmpty && dim >= 1 &&
    coarse.length % dim == 0 && pivots.length % dim == 0 &&
    offsets.length == coarse.length / dim + 1 &&
    offsets.head == 0 && offsets.last == pivots.length / dim &&
    groupBands.length * dim == coarse.length &&
    bands.length * dim == pivots.length,
    s"hier admission layout mismatch: |coarse|=${coarse.length} " +
      s"|pivots|=${pivots.length} |offsets|=${offsets.length} " +
      s"|groupBands|=${groupBands.length} |bands|=${bands.length} dim=$dim")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hier_pivot_admitted"

  override def nullSafeEval(a: Any): Any =
    VectorKernels.hierPivotAdmitted(a.asInstanceOf[ArrayData], coarse, pivots,
      offsets, groupBands, bands, dim, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val refC = ctx.addReferenceObj("coarseMatrix", coarse, "double[]")
    val refP = ctx.addReferenceObj("pivotMatrix", pivots, "double[]")
    val refO = ctx.addReferenceObj("groupOffsets", offsets, "int[]")
    val refG = ctx.addReferenceObj("groupBands", groupBands, "double[]")
    val refB = ctx.addReferenceObj("pivotBands", bands, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VectorKernels.hierPivotAdmitted($a, $refC, " +
        s"$refP, $refO, $refG, $refB, $dim, $isFloat);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `knn_rescue(vec) -> struct<theta:double, cells:array<int>>` — a
  * starved left's proven k-th-distance bound and the pivot cells it
  * replicates to ([[VectorKernels.knnRescue]]). The sample, its exact
  * reaches and the pivots ride the plan as reference objects.
  *
  * Declared [[Nondeterministic]] (Spark's idiom for an expensive
  * expression, like `asNondeterministic` on a UDF) so it is evaluated
  * only where it is placed: on the starved lefts. Otherwise the filters
  * Catalyst infers from its consumers (`size(cells) > 0`,
  * `isnotnull(theta)`) hold copies of it and are pushed below the
  * starved split, running the O(|sample|·d) loop on every left row. */
case class KnnRescue(child: Expression, sample: Array[Double], reach: Array[Double],
                     pivots: Array[Double], dim: Int,
                     isFloat: Boolean) extends UnaryExpression with Nondeterministic {
  require(reach.nonEmpty && sample.length == reach.length * dim &&
    pivots.nonEmpty && pivots.length % dim == 0,
    s"rescue layout mismatch: |sample|=${sample.length} |reach|=${reach.length} " +
      s"|pivots|=${pivots.length} dim=$dim")

  override def dataType: DataType = StructType(Seq(
    StructField("theta", DoubleType, nullable = false),
    StructField("cells", ArrayType(IntegerType, containsNull = false), nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "knn_rescue"

  override protected def initializeInternal(partitionIndex: Int): Unit = ()

  override protected def evalInternal(input: InternalRow): Any = {
    val a = child.eval(input)
    if (a == null) null
    else VectorKernels.knnRescue(a.asInstanceOf[ArrayData], sample, reach, pivots, dim, isFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val refS = ctx.addReferenceObj("rescueSample", sample, "double[]")
    val refR = ctx.addReferenceObj("rescueReach", reach, "double[]")
    val refP = ctx.addReferenceObj("pivotMatrix", pivots, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VectorKernels.knnRescue($a, $refS, $refR, " +
        s"$refP, $dim, $isFloat);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `box_reach(array<double>[lx, ly, hx, hy]) -> double` — a starved
  * left shape's proven k-th-distance bound ([[VectorKernels.boxReach]]);
  * [[Nondeterministic]] for the reason [[KnnRescue]] gives. */
case class BoxReach(child: Expression, boxes: Array[Double],
                    reach: Array[Double]) extends UnaryExpression with Nondeterministic {
  require(reach.nonEmpty && boxes.length == 4 * reach.length,
    s"need one box per reach: |boxes|=${boxes.length} |reach|=${reach.length}")

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "box_reach"

  override protected def initializeInternal(partitionIndex: Int): Unit = ()

  override protected def evalInternal(input: InternalRow): Any = {
    val a = child.eval(input)
    if (a == null) null else VectorKernels.boxReach(a.asInstanceOf[ArrayData], boxes, reach)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val refB = ctx.addReferenceObj("rescueBoxes", boxes, "double[]")
    val refR = ctx.addReferenceObj("rescueReach", reach, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VectorKernels.boxReach($a, $refB, $refR);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `hyperplane_sketch(array<float>) -> long` — 64-bit random-hyperplane
  * LSH signature for cosine-similarity bucketing. Deterministic in
  * (seed, planes). */
case class HyperplaneSketch(child: Expression, planes: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hyperplane_sketch"

  override def nullSafeEval(a: Any): Any =
    VectorKernels.hyperplaneSketch(a.asInstanceOf[ArrayData], planes, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.VectorKernels.hyperplaneSketch($a, $planes, ${seed}L)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `sign_project(array<float>) -> array<double>` — Achlioptas ±1
  * Johnson–Lindenstrauss projection to `outDim` coordinates, the
  * projection matrix generated from a hashed key (engine-replayable)
  * instead of stored. Deterministic in (outDim, seed). */
case class SignProject(child: Expression, outDim: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sign_project"

  override def nullSafeEval(a: Any): Any =
    VectorKernels.signProject(a.asInstanceOf[ArrayData], outDim, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VectorKernels.signProject($a, $outDim, ${seed}L);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `zorder(int, int, ...) -> long` — Morton code of quantized cell
  * ordinates (graft.spatial.ZValue). Children must already be
  * non-negative ints (use ZValue.quantize / the zorder() helper in
  * GraftFunctions to build them from doubles). */
case class ZOrder(children: Seq[Expression], bits: Int) extends Expression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "zorder"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val coords = new Array[Int](children.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      coords(i) = v.asInstanceOf[Int]
      i += 1
    }
    graft.spatial.ZValue.interleave(coords, bits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evals = children.map(_.genCode(ctx))
    val arr = ctx.freshName("zcoords")
    val anyNull = ctx.freshName("zAnyNull")
    val fill = evals.zipWithIndex.map { case (e, i) =>
      s"""
         |${e.code}
         |if (${e.isNull}) { $anyNull = true; } else { $arr[$i] = ${e.value}; }
       """.stripMargin
    }.mkString("\n")
    ev.copy(code =
      code"""
         |int[] $arr = new int[${children.length}];
         |boolean $anyNull = false;
         |$fill
         |boolean ${ev.isNull} = $anyNull;
         |long ${ev.value} = ${ev.isNull} ? -1L :
         |  graft.spatial.ZValue.interleave($arr, $bits);
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** Shared analysis-time validation for shape-struct inputs: the full
  * field layout must match [[graft.spatial.ShapeCodec.sqlType]]
  * (tag: int, coords: array<double>) — a field-count-only check would
  * admit e.g. struct<a:string,b:string> and fail at runtime with a
  * ClassCastException inside generated code instead of a clean
  * AnalysisException. Field NAMES are not compared (aliases are legal);
  * nullability of coords elements must be false like the codec's. */
private[functions] object ShapeExprChecks {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  private def shaped(dt: DataType): Boolean = dt match {
    case s: StructType =>
      s.length == 2 &&
        s.fields(0).dataType == IntegerType &&
        (s.fields(1).dataType match {
          case ArrayType(DoubleType, _) => true
          case _ => false
        })
    case _ => false
  }

  def check(name: String, left: Expression, right: Expression): TypeCheckResult =
    if (shaped(left.dataType) && shaped(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects struct<tag:int, coords:array<double>> inputs, " +
        s"got ${left.dataType.simpleString} / ${right.dataType.simpleString}")

  def checkOne(name: String, child: Expression): TypeCheckResult =
    if (shaped(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects a struct<tag:int, coords:array<double>> input, " +
        s"got ${child.dataType.simpleString}")
}

/** `shape_to_wkt(shape) -> string` — WKT text of a struct-encoded shape
  * (the reference formats geometry through JTS's WKTWriter,
  * reference: spatial/Polygon.scala:106-124; see [[graft.spatial.Wkt]]
  * for the mapping, including the non-standard CIRCLE extension). */
case class ShapeAsWkt(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shape_to_wkt"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ShapeExprChecks.checkOne(prettyName, child)

  override def nullSafeEval(a: Any): Any =
    graft.spatial.Wkt.formatRow(a.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.spatial.Wkt.formatRow($a);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `shape_to_wkb(shape) -> binary` — OGC WKB bytes of a struct-encoded
  * shape (little-endian, standard types for point/segment/polygon, the
  * documented 0xF002 extension for circles; boxes emit their polygon
  * ring — see [[graft.spatial.Wkb]]). The byte-level interop surface a
  * PostGIS / GeoParquet exchange reads. */
case class ShapeAsWkb(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shape_to_wkb"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ShapeExprChecks.checkOne(prettyName, child)

  override def nullSafeEval(a: Any): Any =
    graft.spatial.Wkb.formatRow(a.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.spatial.Wkb.formatRow($a);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `wkb_to_shape(binary) -> shape` — parse WKB (either endianness) into
  * the struct encoding. Strict: malformed bytes throw with a hex
  * prefix (JTS-style), no silent nulls. */
case class WkbToShape(child: Expression) extends UnaryExpression {
  override def dataType: DataType = graft.spatial.ShapeCodec.sqlType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "wkb_to_shape"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a binary input, got ${child.dataType.simpleString}")

  override def nullSafeEval(a: Any): Any =
    graft.spatial.Wkb.parseToRow(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.spatial.Wkb.parseToRow($a);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `wkt_to_shape(string) -> shape` — parse WKT into the struct encoding.
  * Strict: malformed text throws with the offending string (JTS-style),
  * no silent nulls. */
case class WktToShape(child: Expression) extends UnaryExpression {
  override def dataType: DataType = graft.spatial.ShapeCodec.sqlType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "wkt_to_shape"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string input, got ${child.dataType.simpleString}")

  override def nullSafeEval(a: Any): Any =
    graft.spatial.Wkt.parseToRow(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.spatial.Wkt.parseToRow($a);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `shape_intersects(shape, shape) -> boolean` over struct-encoded
  * mixed-geometry columns (graft.spatial.ShapeCodec) — the rebuild of the
  * reference's `InRange`/`InCircleRange` working "for any Shape, not just
  * points" (reference: expression/InRange.scala:31-46), with `doGenCode`
  * instead of the reference's CodegenFallback. */
case class ShapeIntersects(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shape_intersects"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ShapeExprChecks.check(prettyName, left, right)

  override def nullSafeEval(a: Any, b: Any): Any =
    graft.spatial.ShapeCodec.intersectsRows(
      a.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow],
      b.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.spatial.ShapeCodec.intersectsRows($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `shape_min_dist(shape, shape) -> double` — minimum Euclidean distance
  * between two struct-encoded shapes (0 when they intersect); the shape
  * contract of reference spatial/Shape.scala:28-36 as a column function. */
case class ShapeMinDist(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shape_min_dist"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ShapeExprChecks.check(prettyName, left, right)

  override def nullSafeEval(a: Any, b: Any): Any =
    graft.spatial.ShapeCodec.minDistRows(
      a.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow],
      b.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.spatial.ShapeCodec.minDistRows($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `shape_bbox_edge(shape) -> double` — the low or high edge on `axis`
  * of a struct-encoded shape's bbox, read from the DECODED shape: the
  * layouts with headers in their coords (tag-5 ring counts, tag-6 part
  * headers) have no fixed stride to read the edge from. */
case class ShapeBBoxEdge(child: Expression, axis: Int, hi: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shape_bbox_edge"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ShapeExprChecks.checkOne(prettyName, child)

  override def nullSafeEval(a: Any): Any =
    graft.spatial.ShapeCodec.bboxEdgeRow(
      a.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow], axis, hi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.spatial.ShapeCodec.bboxEdgeRow($a, $axis, $hi);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `point_in_polygon(x: double, y: double)` against a literal 2-D polygon
  * ring — boundary-inclusive even-odd test. The vertex ring rides along
  * as a referenced object so the per-row kernel call stays inside
  * whole-stage codegen (the reference evaluates polygon predicates via
  * JTS under CodegenFallback instead — reference: spatial/Polygon.scala,
  * expression/InRange.scala:32). */
case class PointInPolygon(left: Expression, right: Expression, verts: Array[Double])
    extends BinaryExpression {
  require(verts.length >= 6 && verts.length % 2 == 0, "need a flat 2-D vertex ring")

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "point_in_polygon"

  override def nullSafeEval(x: Any, y: Any): Any =
    graft.spatial.Dist.pointInPolygon(
      x.asInstanceOf[Double], y.asInstanceOf[Double], verts)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("polyVerts", verts, "double[]")
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.spatial.Dist.pointInPolygon($x, $y, $ref);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** [[PointInPolygon]]'s sibling for polygons WITH interior rings: the
  * literal rides along in the multi-ring flat encoding
  * `[nRings, n0, x,y..., n1, x,y...]` (see `Polygon.flatRings`) and the
  * per-row kernel is [[graft.spatial.Dist.pointInPolygonRings]] —
  * boundary-inclusive on every ring, strict-hole-interior excluded.
  * Kept separate from the hole-free expression so the common no-holes
  * path pays no ring-header decode per row. */
case class PointInPolygonRings(left: Expression, right: Expression,
                               rings: Array[Double])
    extends BinaryExpression {
  require(rings.length >= 2 && rings(0).toInt >= 1,
    "need the multi-ring flat encoding [nRings, n0, coords...]")

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "point_in_polygon_rings"

  override def nullSafeEval(x: Any, y: Any): Any =
    graft.spatial.Dist.pointInPolygonRings(
      x.asInstanceOf[Double], y.asInstanceOf[Double], rings)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("polyRings", rings, "double[]")
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.spatial.Dist.pointInPolygonRings($x, $y, $ref);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `nearest_cells(qv)` — 1-based ids of the `np` nearest coarse
  * centroids to an integer-quantized vector, by (squared L2, index).
  * The centroid matrix rides the plan as ONE reference object
  * (deserialized once per executor plan, not per row), replacing the
  * former `nlist x dim` LITERAL expression matrix whose optimization +
  * codegen cost grew superlinearly with nlist — at nlist=800 the
  * at-rest ANN join spent minutes in planning (the r12 100x annjoin
  * trend's first reading), where 2^16-cell layouts live. Arithmetic
  * and tie-break replicate the literal form bit-for-bit
  * ([[VectorKernels.nearestCellsQ]]). */
case class NearestCells(child: Expression, centroids: Array[Array[Double]],
                        np: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_cells"

  override def nullSafeEval(v: Any): Any =
    VectorKernels.nearestCellsQ(v.asInstanceOf[ArrayData], centroids, np)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftCentroids", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.VectorKernels.nearestCellsQ($v, $ref, $np);")
  }

  // Array[Array[Double]] compares by reference in a case class — content
  // equality keeps canonicalization/subexpression reuse working (the
  // BloomMightContainLong lesson)
  override def equals(other: Any): Boolean = other match {
    case o: NearestCells => child == o.child && np == o.np &&
      java.util.Arrays.deepEquals(centroids.asInstanceOf[Array[AnyRef]],
        o.centroids.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * child.hashCode() + np) +
      java.util.Arrays.deepHashCode(centroids.asInstanceOf[Array[AnyRef]])

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `pq_encode(qv)` — per-subspace PQ codes (0-based, as one
  * `array<int>`) against codebooks riding as ONE reference object:
  * the literal form was `m x ksub` codeword-distance columns over
  * `subDim` literals each = `dim x ksub` expression nodes, the same
  * planning bomb [[NearestCells]] defused for the coarse step
  * (196k nodes at a production dim=768/ksub=256). Arithmetic and
  * tie-break replicate the literal form bit-for-bit
  * ([[VectorKernels.pqCodes]]). */
case class PqEncode(child: Expression, books: Array[Array[Array[Double]]],
                    subDim: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(v: Any): Any =
    VectorKernels.pqCodes(v.asInstanceOf[ArrayData], books, subDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBooks", books, "double[][][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.VectorKernels.pqCodes($v, $ref, $subDim);")
  }

  override def equals(other: Any): Boolean = other match {
    case o: PqEncode => child == o.child && subDim == o.subDim &&
      java.util.Arrays.deepEquals(books.asInstanceOf[Array[AnyRef]],
        o.books.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * child.hashCode() + subDim) +
      java.util.Arrays.deepHashCode(books.asInstanceOf[Array[AnyRef]])

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `centroid_shift_l(qv, cell0)` — the encode-side residual shift
  * `qv - centers(cell)` over longs, centers as a reference object (the
  * literal form was an `nlist x dim` matrix). */
case class CentroidShiftL(left: Expression, right: Expression,
                          centers: Array[Array[Long]])
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "centroid_shift_l"

  override def nullSafeEval(qv: Any, cell: Any): Any =
    VectorKernels.centroidShiftL(qv.asInstanceOf[ArrayData],
      cell.asInstanceOf[Int], centers)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftCentersL", centers, "long[][]")
    nullSafeCodeGen(ctx, ev, (qv, cell) =>
      s"${ev.value} = graft.functions.VectorKernels.centroidShiftL($qv, $cell, $ref);")
  }

  override def equals(other: Any): Boolean = other match {
    case o: CentroidShiftL => left == o.left && right == o.right &&
      java.util.Arrays.deepEquals(centers.asInstanceOf[Array[AnyRef]],
        o.centers.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * left.hashCode() + right.hashCode()) +
      java.util.Arrays.deepHashCode(centers.asInstanceOf[Array[AnyRef]])

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `centroid_shift_d(qv, cell0)` — the query-side residual shift to
  * doubles (long quantized vector minus double centroid), centers as a
  * reference object. */
case class CentroidShiftD(left: Expression, right: Expression,
                          centers: Array[Array[Double]])
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "centroid_shift_d"

  override def nullSafeEval(qv: Any, cell: Any): Any =
    VectorKernels.centroidShiftD(qv.asInstanceOf[ArrayData],
      cell.asInstanceOf[Int], centers)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftCentersD", centers, "double[][]")
    nullSafeCodeGen(ctx, ev, (qv, cell) =>
      s"${ev.value} = graft.functions.VectorKernels.centroidShiftD($qv, $cell, $ref);")
  }

  override def equals(other: Any): Boolean = other match {
    case o: CentroidShiftD => left == o.left && right == o.right &&
      java.util.Arrays.deepEquals(centers.asInstanceOf[Array[AnyRef]],
        o.centers.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * left.hashCode() + right.hashCode()) +
      java.util.Arrays.deepHashCode(centers.asInstanceOf[Array[AnyRef]])

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `pq_adc(qv, codes)` — ADC distance of a (possibly residual-shifted)
  * query vector against a row's PQ codes, codebooks as a reference
  * object; `longInput` is derived from the query child's element type
  * and mirrors the literal form's long->double coercion. */
case class PqAdc(left: Expression, right: Expression,
                 books: Array[Array[Array[Double]]], subDim: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_adc"

  private def longInput: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(qv: Any, codes: Any): Any =
    VectorKernels.pqAdc(qv.asInstanceOf[ArrayData], longInput,
      codes.asInstanceOf[ArrayData], books, subDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBooks", books, "double[][][]")
    nullSafeCodeGen(ctx, ev, (qv, codes) =>
      s"${ev.value} = graft.functions.VectorKernels.pqAdc($qv, $longInput, " +
        s"$codes, $ref, $subDim);")
  }

  override def equals(other: Any): Boolean = other match {
    case o: PqAdc => left == o.left && right == o.right &&
      subDim == o.subDim &&
      java.util.Arrays.deepEquals(books.asInstanceOf[Array[AnyRef]],
        o.books.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * (31 * left.hashCode() + right.hashCode()) + subDim) +
      java.util.Arrays.deepHashCode(books.asInstanceOf[Array[AnyRef]])

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `bloom_might_contain(h: long)` against a literal serialized
  * `org.apache.spark.util.sketch.BloomFilter` — the wave-side
  * pre-filter of the at-rest digest index. The filter rides the plan
  * as a referenced object (deserialized once per executor plan, not
  * per row), so the probe is one static call inside whole-stage
  * codegen. Never a correctness gate on its own: a `true` is a MAYBE
  * the digest equi-join confirms, a `false` is a definite no. */
case class BloomMightContainLong(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bloom_might_contain"

  @transient private lazy val bloom: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(bloomBytes)

  override def nullSafeEval(v: Any): Any = bloom.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", bloom,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    defineCodeGen(ctx, ev, v => s"$ref.mightContainLong($v)")
  }

  // Array[Byte] in a case class compares by REFERENCE, so two
  // semantically identical probes would never canonicalize equal and
  // Catalyst's subexpression reuse could not merge them (ADVICE r11) —
  // compare the serialized filter by content instead
  override def equals(other: Any): Boolean = other match {
    case b: BloomMightContainLong =>
      child == b.child && java.util.Arrays.equals(bloomBytes, b.bloomBytes)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(bloomBytes)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `project_fold(vec) -> double` — weighted sum of a float/double array
  * against a literal direction, the PCA scorer's per-row fold compiled
  * ([[VectorKernels.projectFold]] replicates the former
  * aggregate(zip_with(...)) HOF chain bit-for-bit; the HOF form is
  * CodegenFallback). The direction rides the plan as ONE reference
  * object. Null element / length-mismatch inputs yield null, exactly
  * the HOF chain's null cascade. */
case class ProjectFold(child: Expression, weights: Array[Double])
    extends UnaryExpression {
  require(weights.nonEmpty, "project_fold needs a non-empty direction")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "project_fold"

  private def floatInput: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects an array<float> or array<double> input, got ${t.simpleString}")
    }

  override def nullSafeEval(v: Any): Any =
    VectorKernels.projectFold(v.asInstanceOf[ArrayData], floatInput, weights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftFoldDir", weights, "double[]")
    val tmp = ctx.freshName("graftPf")
    nullSafeCodeGen(ctx, ev, v => s"""
      java.lang.Double $tmp = graft.functions.VectorKernels.projectFold($v, $floatInput, $ref);
      ${ev.isNull} = ($tmp == null);
      if (!${ev.isNull}) { ${ev.value} = $tmp.doubleValue(); }
    """)
  }

  override def equals(other: Any): Boolean = other match {
    case o: ProjectFold => child == o.child &&
      java.util.Arrays.equals(weights, o.weights)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(weights)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `two_level_assign_f(qv)` — two-level IVF cell assignment of a float
  * vector against super/child codebooks riding as reference objects
  * (0-based global cell). Replaces the literal-matrix form of the
  * approximate vector kNN join's right-side assign, whose
  * O(nlist·dim) literals PushProjectionThroughUnion multiplied into
  * every union leg (multi-GB explain strings / driver OOM at the 100x
  * slice) — the r12 planning-bomb rule applied to this path.
  * Arithmetic and tie-breaks replicate the literal form bit-for-bit
  * ([[VectorKernels.twoLevelAssignF]]). */
case class TwoLevelAssignF(child: Expression, sup: Array[Array[Float]],
                           kids: Array[Array[Array[Float]]], childK: Int)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "two_level_assign_f"

  override def nullSafeEval(v: Any): Any =
    VectorKernels.twoLevelAssignF(v.asInstanceOf[ArrayData], sup, kids, childK)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val supRef = ctx.addReferenceObj("graftSupF", sup, "float[][]")
    val kidsRef = ctx.addReferenceObj("graftKidsF", kids, "float[][][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.VectorKernels.twoLevelAssignF($v, $supRef, $kidsRef, $childK);")
  }

  override def equals(other: Any): Boolean = other match {
    case o: TwoLevelAssignF => child == o.child && childK == o.childK &&
      java.util.Arrays.deepEquals(sup.asInstanceOf[Array[AnyRef]],
        o.sup.asInstanceOf[Array[AnyRef]]) &&
      java.util.Arrays.deepEquals(kids.asInstanceOf[Array[AnyRef]],
        o.kids.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * child.hashCode() + childK) +
      java.util.Arrays.deepHashCode(sup.asInstanceOf[Array[AnyRef]])

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `two_level_probes_f(qv)` — the probe set (first `nprobe` 0-based
  * global cells by (dist, id) across the two nearest supercells'
  * children) of a float vector, codebooks as reference objects; null
  * when fewer than two supercells exist (the literal form's
  * element_at null cascade). See [[VectorKernels.twoLevelProbesF]]. */
case class TwoLevelProbesF(child: Expression, sup: Array[Array[Float]],
                           kids: Array[Array[Array[Float]]], childK: Int,
                           nprobe: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "two_level_probes_f"

  override def nullSafeEval(v: Any): Any =
    VectorKernels.twoLevelProbesF(v.asInstanceOf[ArrayData], sup, kids,
      childK, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val supRef = ctx.addReferenceObj("graftSupF", sup, "float[][]")
    val kidsRef = ctx.addReferenceObj("graftKidsF", kids, "float[][][]")
    nullSafeCodeGen(ctx, ev, v => s"""
      ${ev.value} = graft.functions.VectorKernels.twoLevelProbesF($v, $supRef, $kidsRef, $childK, $nprobe);
      ${ev.isNull} = (${ev.value} == null);
    """)
  }

  override def equals(other: Any): Boolean = other match {
    case o: TwoLevelProbesF => child == o.child && childK == o.childK &&
      nprobe == o.nprobe &&
      java.util.Arrays.deepEquals(sup.asInstanceOf[Array[AnyRef]],
        o.sup.asInstanceOf[Array[AnyRef]]) &&
      java.util.Arrays.deepEquals(kids.asInstanceOf[Array[AnyRef]],
        o.kids.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * (31 * child.hashCode() + childK) + nprobe) +
      java.util.Arrays.deepHashCode(sup.asInstanceOf[Array[AnyRef]])

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
