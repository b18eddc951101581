package graft.operators

import org.apache.spark.sql.{types, Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions._

/** Spatial query verbs as Dataset extension methods.
  *
  * The reference attaches these verbs by subclassing `Dataset`
  * (reference: DataSet.scala:37-241 — `range`, `circleRange`, `knn`,
  * `distanceJoin`, `knnJoin`); on Spark 4.x the idiomatic carrier is an
  * implicit ops class, so every verb returns a plain `DataFrame` whose
  * logical plan is built from stock operators (filters, top-k, equi-joins)
  * that Catalyst can optimize — no custom planner code on this path.
  *
  * Scale notes (100 TB discipline):
  *  - `range` / `circleRange` compile to pushdown-able conjunctions.
  *  - `knn` compiles to TakeOrderedAndProject (no global sort).
  *  - `distanceJoin` is a grid equi-join: one shuffle per side on cell id,
  *    3^d-way replication of the right side only, AQE-skew-join friendly —
  *    the DataFrame-native analogue of the reference's SJMR grid join
  *    (reference: execution/join/DJSpark.scala:36-117).
  *  - `knnJoin` (exact) = bounded-radius grid candidates + windowed top-k
  *    + one exact rescue pass for starved rows — the bound-then-refine
  *    shape of the reference's RKJSpark (reference: RKJSpark.scala:37-145)
  *    with sampling capped on the driver like RangePartitioner.sketch.
  */
object SpatialOps {

  private val CELL = "__graft_cell"
  private val DIST = "__graft_dist"

  implicit class DatasetSpatialOps[T](private val ds: Dataset[T]) extends AnyVal {

    /** Rows whose point lies in the box [low, high] (inclusive). */
    def boxRange(keys: Seq[String], low: Seq[Double], high: Seq[Double]): DataFrame =
      ds.toDF.filter(inBox(keys.map(col), low, high))

    // Array-typed aliases matching the reference verb signatures verbatim
    // (reference: DataSet.scala:56-78 `range`, :84-96 `knn`, :105-126
    // `circleRange`, :131-170 joins) so reference call sites port 1:1.
    def range(keys: Array[String], point1: Array[Double], point2: Array[Double]): DataFrame =
      boxRange(keys.toSeq, point1.toSeq, point2.toSeq)
    def circleRange(keys: Array[String], center: Array[Double], r: Double): DataFrame =
      circleRange(keys.toSeq, center.toSeq, r)
    def knn(keys: Array[String], center: Array[Double], k: Int): DataFrame =
      knn(keys.toSeq, center.toSeq, k)
    def distanceJoin(right: Dataset[_], leftKeys: Array[String],
                     rightKeys: Array[String], r: Double): DataFrame =
      distanceJoin(right, leftKeys.toSeq, rightKeys.toSeq, r)
    def knnJoin(right: Dataset[_], leftKeys: Array[String], rightKeys: Array[String],
                k: Int, leftId: String): DataFrame =
      knnJoin(right, leftKeys.toSeq, rightKeys.toSeq, k, leftId, Nil)

    /** Reference-parity kNN join with NO caller-supplied left id
      * (reference `DataSet.scala:154-170` — its verb takes only keys and
      * k): every physical left row keeps its own top-k, identified by a
      * generated id that never leaves the plan. Deliberate deviation on
      * byte-identical duplicate rows: the reference's reduceByKey merges
      * them and the merged candidate list can then rank the SAME
      * neighbor twice (CKJSpark.scala:33-59 concatenates each copy's
      * list) — here each copy simply gets its own correct k neighbors.
      * Callers with a real key column should pass it instead. */
    def knnJoin(right: Dataset[_], leftKeys: Array[String], rightKeys: Array[String],
                k: Int): DataFrame = {
      val l = ds.toDF
      // localCheckpoint pins the generated ids: the inner join evaluates
      // its left in TWO plan branches (candidates and the starved
      // anti-join), and monotonically_increasing_id is only stable per
      // evaluation — a shuffled left could otherwise number the branches
      // differently and duplicate or drop rows
      val withId = l.withColumn("__graft_lid", monotonically_increasing_id())
        .localCheckpoint()
      new DatasetSpatialOps(withId)
        .knnJoin(right, leftKeys.toSeq, rightKeys.toSeq, k, "__graft_lid", Nil)
        .drop("__graft_lid")
    }

    // Typed point-column verbs: queries addressing a Point-UDT column of
    // a case-class Dataset, PRESERVING the element type T — the
    // reference's class-inference surface (reference:
    // examples/SpatialClassInference.scala:29-40; Point carries
    // @SQLUserDefinedType there, here registration is by class name via
    // graft.spatial.SpatialUDT.register / Graft.install, which must run
    // before the first Dataset[T] with a Point field is created).
    // Coordinates are read through UnwrapUDT + element_at — pure column
    // arithmetic, no per-row Point objects.

    /** Rows whose `pointCol` lies in the box [low, high] (inclusive). */
    def range(pointCol: String, low: Array[Double], high: Array[Double]): Dataset[T] = {
      val keys = low.indices.map(i => graft.functions.pointCoord(ds(pointCol), i))
      ds.filter(inBox(keys, low.toSeq, high.toSeq))
    }

    /** Rows whose `pointCol` is within distance r of center (inclusive). */
    def circleRange(pointCol: String, center: Array[Double], r: Double): Dataset[T] = {
      val keys = center.indices.map(i => graft.functions.pointCoord(ds(pointCol), i))
      ds.filter(inCircle(keys, center.toSeq, r))
    }

    /** The k rows whose `pointCol` is nearest to `center` (null points
      * excluded; ties in distance unordered, like the reference). */
    def knn(pointCol: String, center: Array[Double], k: Int): Dataset[T] = {
      val keys = center.indices.map(i => graft.functions.pointCoord(ds(pointCol), i))
      val d = pointDistance(keys, center.toSeq.map(lit))
      ds.filter(d.isNotNull).orderBy(d.asc).limit(k)
    }

    /** Point-UDT-column distance join (reference `DataSet.scala:141-149`
      * single-key form): expands both Point columns into coordinate
      * columns (dimensionality probed from the data, one `head` job) and
      * rides the grid join. */
    def distanceJoin(right: Dataset[_], leftKey: String, rightKey: String,
                     r: Double): DataFrame = {
      val dims = SpatialOps.pointDims(ds.toDF, leftKey, right.toDF, rightKey)
      val (lt, lCols) = SpatialOps.expandPoint(ds.toDF, leftKey, "l", dims)
      val (rt, rCols) = SpatialOps.expandPoint(right.toDF, rightKey, "r", dims)
      new DatasetSpatialOps(lt).distanceJoin(rt, lCols, rCols, r)
        .drop(lCols ++ rCols: _*)
    }

    /** Point-UDT-column kNN join (reference `DataSet.scala:163-170`
      * single-key form): per physical left row, like the id-less verb. */
    def knnJoin(right: Dataset[_], leftKey: String, rightKey: String,
                k: Int): DataFrame = {
      val dims = SpatialOps.pointDims(ds.toDF, leftKey, right.toDF, rightKey)
      val (lt, lCols) = SpatialOps.expandPoint(ds.toDF, leftKey, "l", dims)
      val (rt, rCols) = SpatialOps.expandPoint(right.toDF, rightKey, "r", dims)
      // localCheckpoint: same generated-id stability argument as the
      // id-less coordinate verb above
      val withId = lt.withColumn("__graft_lid", monotonically_increasing_id())
        .localCheckpoint()
      new DatasetSpatialOps(withId)
        .knnJoin(rt, lCols, rCols, k, "__graft_lid", Nil)
        .drop("__graft_lid" +: (lCols ++ rCols): _*)
    }

    /** Rows within distance r of center (inclusive). */
    def circleRange(keys: Seq[String], center: Seq[Double], r: Double): DataFrame =
      ds.toDF.filter(inCircle(keys.map(col), center, r))

    /** Rows within distance r of the 2-D segment [a, b] (inclusive). The
      * segment's r-inflated bounding box rides along as pushdown-able
      * conjuncts (same discipline as circleRange). */
    def segmentRange(keys: Seq[String], a: (Double, Double), b: (Double, Double),
                     r: Double): DataFrame = {
      require(keys.length == 2, "segmentRange is 2-D only")
      val (x, y) = (col(keys(0)), col(keys(1)))
      val bbox = inBox(Seq(x, y),
        Seq(math.min(a._1, b._1) - r, math.min(a._2, b._2) - r),
        Seq(math.max(a._1, b._1) + r, math.max(a._2, b._2) + r))
      ds.toDF.filter(bbox &&
        distanceToSegment(x, y, a._1, a._2, b._1, b._2) <= r)
    }

    /** Rows whose 2-D point lies inside the polygon (boundary inclusive). */
    def polygonRange(keys: Seq[String], poly: graft.spatial.Polygon): DataFrame = {
      require(keys.length == 2, "polygonRange is 2-D only")
      ds.toDF.filter(inPolygon(col(keys(0)), col(keys(1)), poly))
    }

    /** Rows whose mixed-geometry shape column intersects the query shape —
      * the reference's `range` "for any Shape, not just points"
      * (reference: expression/InRange.scala:31-46, DataSet.scala:56-78)
      * over a struct-encoded shape column. At 100 TB, store the shape's
      * bbox as plain sibling columns too and add them as pushdown-able
      * conjuncts; the struct predicate itself runs codegen'd post-scan.
      *
      * Contract (also for [[shapeKnn]]): every shape in the column must
      * share the QUERY shape's dimensionality — the distance kernels
      * require() it per row, so a mixed 2-D/3-D column fails mid-job by
      * design rather than silently returning partial results (same
      * documented-contract discipline as unique leftId on kNN joins). */
    def shapeRange(shapeCol: String, query: graft.spatial.Shape): DataFrame =
      ds.toDF.filter(stIntersects(col(shapeCol), stShape(query)))

    /** k rows whose shapes are nearest the query shape (minDist order,
      * ties broken by `tieBreak`). Plans as TakeOrderedAndProject.
      * Null shapes are excluded — Spark ranks nulls FIRST under asc, so
      * without the filter a null row would pose as the nearest. */
    def shapeKnn(shapeCol: String, query: graft.spatial.Shape, k: Int,
                 tieBreak: Seq[String] = Nil): DataFrame = {
      val out = ds.toDF
      out.withColumn(DIST, stDistance(col(shapeCol), stShape(query)))
        .filter(col(DIST).isNotNull)
        .orderBy((col(DIST) +: tieBreak.map(col)).map(_.asc): _*)
        .limit(k)
        .drop(DIST)
    }

    /** k nearest rows to a query point; ties broken by `tieBreak` columns
      * so results are deterministic (the reference leaves ties arbitrary).
      * Plans as TakeOrderedAndProject: per-partition top-k, then a k-row
      * merge on the driver — no global sort, safe at any scale.
      * Null-coordinate rows are excluded (their distance is null, and
      * Spark ranks nulls FIRST under asc — without the filter they would
      * pose as the nearest rows). */
    def knn(keys: Seq[String], center: Seq[Double], k: Int,
            tieBreak: Seq[String] = Nil): DataFrame = {
      val out = ds.toDF
      out.withColumn(DIST, pointDistance(keys.map(col), center.map(lit)))
        .filter(col(DIST).isNotNull)
        .orderBy((col(DIST) +: tieBreak.map(col)).map(_.asc): _*)
        .limit(k)
        .drop(DIST)
    }

    /** Filter by a boolean predicate tree in which kNN membership is a
      * first-class leaf — the reference's knn-inside-filter surface,
      * evaluated by the same set algebra its FilterExec uses
      * (reference: execution/FilterExec.scala:48-65). See
      * [[graft.operators.SpatialPredicate]]. */
    def spatialFilter(p: SpatialPredicate): DataFrame =
      SpatialPredicate.compile(ds.toDF, p)

    /** Distance join of this POLYGON table against a point table: every
      * (polygon, point) pair with minDist(polygon, point) <= `r`
      * (r = 0 keeps containment and boundary contact). The PBSM core
      * ([[SpatialOps.pbsmJoin]]) with an EXTENSIVE left: a polygon
      * covers every cell its r-dilated bbox intersects, a point is a
      * degenerate box in exactly ONE cell (so the reference-point rule
      * never drops a true pair), and the exact polygon test
      * ([[graft.functions.stDistance]] — point-in-polygon else min
      * segment distance, codegen'd) refines. Closes the last Simba
      * shape-join the surface lacked (ref Polygon.scala:32-38).
      *
      * `shapeCol` is a [[graft.spatial.ShapeCodec]] struct column of
      * 2-D shapes (polygon, MBR, segment, circle — bboxes through
      * [[SpatialOps.shapeBox]]). The cell side comes from bounded
      * samples of both sides ([[SpatialOps.pbsmSide]]), so a polygon
      * explodes to O(1) cells whatever its size — at 100 TB the fan-out
      * per polygon stays bounded and the shuffle carries each point
      * once. */
    def polygonDistanceJoin(points: Dataset[_], shapeCol: String,
                            pKeys: Seq[String], r: Double,
                            sampleCap: Int = 512): DataFrame = {
      require(r >= 0, s"distance must be >= 0, got $r")
      require(pKeys.length == 2, "polygonDistanceJoin is 2-D only")
      val (polys, pts) = (ds.toDF, points.toDF)
      SpatialOps.requireDisjoint("polygonDistanceJoin", polys, pts)
      val (lB, lN) = SpatialOps.sampleBoxes(polys, shapeCol, sampleCap, seed = 7)
      val rS = SpatialOps.pointStats(pts, pKeys, sampleCap)
      val rB = rS.sample.map(p => Array(p(0), p(1), p(0), p(1)))
      val (x, y) = (col(pKeys(0)), col(pKeys(1)))
      SpatialOps.pbsmJoin(polys, SpatialOps.shapeBox(col(shapeCol)), pts, Seq(x, y, x, y),
        r, SpatialOps.pbsmSide(lB, lN, rB, rS.count, r),
        stDistance(col(shapeCol), stPoint(x, y)) <= r)
    }

    /** Spatial INTERSECTION join of two mixed-shape tables: every
      * (left, right) pair whose shapes intersect — the classic spatial
      * join, partition-based (PBSM, [[SpatialOps.pbsmJoin]]): BOTH
      * sides are extensive, so each row explodes to the grid cells its
      * bbox covers, the cell equi-join proposes pairs, the
      * reference-point rule keeps each pair in exactly one shared cell,
      * and the exact codegen'd [[graft.functions.stIntersects]] test
      * decides.
      *
      * Shape columns are [[graft.spatial.ShapeCodec]] structs of any
      * 2-D shape (point, MBR, circle, polygon, segment — bboxes come
      * from the coords layout, circles from center ± radius). The cell
      * side comes from bounded samples of both sides
      * ([[SpatialOps.pbsmSide]]), so per-row fan-out stays O(1)
      * whatever the shapes' size — the 100-TB shape: one shuffle keyed
      * by locality, pair work proportional to true bbox overlaps,
      * never a cross product. */
    def shapeIntersectsJoin(right: Dataset[_], lShapeCol: String,
                            rShapeCol: String,
                            sampleCap: Int = 512): DataFrame = {
      val (l, rt) = (ds.toDF, right.toDF)
      SpatialOps.requireDisjoint("shapeIntersectsJoin", l, rt)
      val (lB, lN) = SpatialOps.sampleBoxes(l, lShapeCol, sampleCap, seed = 7)
      val (rB, rN) = SpatialOps.sampleBoxes(rt, rShapeCol, sampleCap, seed = 42)
      SpatialOps.pbsmJoin(l, SpatialOps.shapeBox(col(lShapeCol)),
        rt, SpatialOps.shapeBox(col(rShapeCol)),
        0.0, SpatialOps.pbsmSide(lB, lN, rB, rN, 0.0),
        stIntersects(col(lShapeCol), col(rShapeCol)))
    }

    /** Distance join over MIXED-GEOMETRY ShapeCodec columns: every
      * (left, right) pair whose shapes sit within `minDist <= r` — the
      * reference's any-Shape join surface (its joins accept any Shape
      * key via util/ShapeUtils.scala:54-71; the rebuild's point-keyed
      * [[distanceJoin]] and polygon form covered only part of that).
      * The [[shapeIntersectsJoin]] PBSM core with the LEFT bbox dilated
      * by `r` per axis, and the exact codegen'd
      * [[graft.functions.stDistance]] deciding. Same 100-TB shape as the
      * intersects join: one locality-keyed shuffle, never a cross
      * product. */
    def shapeDistanceJoin(right: Dataset[_], lShapeCol: String,
                          rShapeCol: String, r: Double,
                          sampleCap: Int = 512): DataFrame = {
      require(r >= 0, s"distance must be >= 0, got $r")
      val (l, rt) = (ds.toDF, right.toDF)
      SpatialOps.requireDisjoint("shapeDistanceJoin", l, rt)
      val (lB, lN) = SpatialOps.sampleBoxes(l, lShapeCol, sampleCap, seed = 7)
      val (rB, rN) = SpatialOps.sampleBoxes(rt, rShapeCol, sampleCap, seed = 42)
      SpatialOps.pbsmJoin(l, SpatialOps.shapeBox(col(lShapeCol)),
        rt, SpatialOps.shapeBox(col(rShapeCol)),
        r, SpatialOps.pbsmSide(lB, lN, rB, rN, r),
        stDistance(col(lShapeCol), col(rShapeCol)) <= r)
    }

    /** kNN join over MIXED-GEOMETRY ShapeCodec columns: per left shape,
      * the `k` right shapes minimizing exact `minDist` — closing the
      * reference's any-Shape join surface on the kNN side (its join
      * operators accept any Shape key via util/ShapeUtils.scala:54-71;
      * the point-keyed [[knnJoin]] and single-query `shapeKnn` covered
      * the rest). The grid join's bound-then-refine discipline over
      * shapes:
      *  1. one stats pass per side ([[SpatialOps.shapeStats]]): a
      *     bounded sample and exact count of each, and — carried by the
      *     right pass — each sampled left's exact k-th smallest shape
      *     distance against the FULL right column; theta = quantile *
      *     safety of those radii (an over-estimate only widens the
      *     candidate grid — exactness never depends on the sample);
      *  2. candidates = the [[shapeDistanceJoin]] PBSM core at
      *     r = theta, its cell side sized from the SAME samples (no
      *     second draw) — dilated-bbox grid, reference-point dedup,
      *     exact refine;
      *  3. per-left windowed top-k over candidates (satisfied = lefts
      *     with >= k candidates inside theta), counted by its own
      *     checkpoint job;
      *  4. starved lefts — the left's row count minus the satisfied,
      *     no job of its own — take the one rescue pass
      *     ([[SpatialOps.rescueShapes]]) at each left's proven bound;
      *     none starved, no rescue is built at all.
      * Output: every left column + the matched right columns, k rows
      * per left (fewer only if |right| < k). */
    def shapeKnnJoin(right: Dataset[_], lShapeCol: String, rShapeCol: String,
                     k: Int, leftId: String, tieBreak: Seq[String],
                     sampleCap: Int = 500, quantile: Double = 0.95,
                     safety: Double = 2.0): DataFrame = {
      require(k >= 1, s"k must be >= 1, got $k")
      val (l, rt) = (ds.toDF, right.toDF)
      SpatialOps.requireDisjoint("shapeKnnJoin", l, rt)
      val lS = SpatialOps.shapeStats(l, lShapeCol, sampleCap, seed = 7)
      val lShapes = lS.sample
      // Radii are exact: the right side's stats pass carries the left
      // sample as probes, so each sampled left's k-th shape distance
      // comes from the FULL right column in the scan that counts and
      // samples it. (A former sqrt(rFrac) subset correction
      // extrapolated with a fixed 2-D exponent; on effectively
      // lower-dimensional shape data — roads, coastlines — it
      // misestimated theta the way the d=4 point slice measured, 627 vs
      // ~280, a 1.3e9-pair candidate set.) EXTENSIVE shapes make the
      // plain quantile degenerate: a box CONTAINING k points has k-th
      // distance exactly 0, so when most sampled boxes are
      // point-saturated the 0.95-quantile collapses to ~0, the grid
      // pass satisfies almost nothing, and every point-starved box falls
      // to the starved route (as a cross fallback, the 10x trend
      // measured 80 GB of shuffle). The boxes that NEED reach are
      // exactly the positive-radius samples, so theta also consults the
      // quantile of the POSITIVE radii — zero-radius lefts only gain
      // already-matching candidates from the wider grid.
      val rS = SpatialOps.shapeStats(rt, rShapeCol, sampleCap, seed = 42,
        probes = lShapes, k = k, extent = true)
      val rB = rS.sample.map(SpatialOps.sampleBox)
      val theta: Double =
        if (lShapes.isEmpty || rS.count < k) 0.0
        else {
          // sorts a copy: `rS.kth` stays aligned with `lShapes` for the rescue
          def quant(xs: Array[Double]): Double =
            if (xs.isEmpty) 0.0
            else {
              val s = xs.sorted
              s(math.min(s.length - 1, math.ceil(quantile * s.length).toInt - 1).max(0))
            }
          val q = math.max(quant(rS.kth), quant(rS.kth.filter(_ > 0)))
          math.max(q * safety, 1e-9)
        }
      val lB = lShapes.map(SpatialOps.sampleBox)
      val (lBox, rBox) = (SpatialOps.shapeBox(col(lShapeCol)), SpatialOps.shapeBox(col(rShapeCol)))
      val cand = SpatialOps.pbsmJoin(l, lBox, rt, rBox, theta,
          SpatialOps.pbsmSide(lB, lS.count, rB, rS.count, theta),
          stDistance(col(lShapeCol), col(rShapeCol)) <= theta)
        .withColumn(DIST, stDistance(col(lShapeCol), col(rShapeCol)))
      val top = SpatialOps.topKCounted(cand, leftId, k, tieBreak)
      // null-shape lefts have no neighbours and no candidates: only the
      // `count` lefts with a shape can starve, and none has a neighbour
      // when the right is empty
      if (rS.count == 0) return top.rows
      SpatialOps.withStarved(top.rows, lS.count - top.nSatisfied)(
        SpatialOps.rescueShapes(SpatialOps.minusByKey(l, top.ids, leftId), lShapeCol,
          rt, rShapeCol, lB, lS.count, rB, rS, k, leftId, tieBreak))
    }

    /** Distance join, grid algorithm: left rows hash to their own cell
      * (side length r), right rows replicate to the 3^d neighborhood, the
      * pair space shrinks to an equi-join on cell id plus a residual exact
      * distance filter. Each qualifying pair appears exactly once because
      * the left row's cell is unique. */
    def distanceJoin(right: Dataset[_], lKeys: Seq[String], rKeys: Seq[String],
                     r: Double, broadcastRight: Boolean = false): DataFrame = {
      require(lKeys.length == rKeys.length && lKeys.nonEmpty)
      require(r > 0, "distance join radius must be positive")
      val (l, rt) = (ds.toDF, right.toDF)
      SpatialOps.requireDisjoint("distanceJoin", l, rt)
      val dims = lKeys.length

      // All internal columns get side-distinct names so every reference
      // below is unqualified — immune to Spark's ambiguous-self-join trap
      // when the same Dataset object appears in several join trees.
      //
      // QUADRANT replication (the spatioTemporalJoin note, guide §2.3):
      // cells of side 2r with per-axis DIRECTED neighbors — the reach
      // interval [x-r, x+r] is exactly one cell long, so it spans the
      // home cell plus the one neighbor on the side the point leans
      // toward. Right rows replicate to 2^dims cells instead of the
      // side-r grid's 3^dims (9 -> 4 in 2-D) at (4/3)^dims more
      // candidate pairs for the exact filter; the filter is the only
      // consumer downstream, so the trade moves replica-exchange bytes
      // to compiled compares. Results identical (exact superset both
      // ways).
      val side = 2 * r
      val lCells = lKeys.zipWithIndex.map { case (k, i) =>
        floor(col(k) / side).cast("long").as(s"${CELL}_l$i")
      }
      val lTagged = l.select(l.columns.map(col) ++ lCells: _*)

      val nbCols: Seq[Column] = rKeys.map { k =>
        val base = floor(col(k) / side)
        when(col(k) - base * side < r, lit(-1L)).otherwise(lit(1L))
      }
      val combos: Seq[Seq[Boolean]] = Seq.fill(dims)(Seq(false, true))
        .foldLeft(Seq(Seq.empty[Boolean]))(
          (acc, cs) => for (a <- acc; c <- cs) yield a :+ c)
      val offArr = array(combos.map(bits => array(bits.zipWithIndex.map {
        case (b, i) => if (b) nbCols(i) else lit(0L)
      }: _*)): _*)
      val rCells = rKeys.zipWithIndex.map { case (k, i) =>
        (floor(col(k) / side).cast("long") +
          element_at(col("__graft_off"), i + 1)).as(s"${CELL}_r$i")
      }
      val rTagged = rt.withColumn("__graft_off", explode(offArr))
        .select(rt.columns.map(col) ++ rCells: _*)

      val cellCond = (0 until dims)
        .map(i => col(s"${CELL}_l$i") === col(s"${CELL}_r$i")).reduce(_ && _)
      val distCond = pointDistance(lKeys.map(col), rKeys.map(col)) <= r

      // broadcastRight = the reference's RDJSpark shape (replicate the
      // small side to every holder of the big side instead of shuffling
      // the big side; reference: execution/join/RDJSpark.scala:36-90) —
      // here a broadcast-hash join on cell id, so the big side never moves
      val probe = if (broadcastRight) broadcast(rTagged) else rTagged
      lTagged.join(probe, cellCond && distCond, "inner")
        .select((l.columns ++ rt.columns).map(col): _*)
    }

    /** Spatio-temporal distance join — co-location detection: every
      * (left, right) pair within spatial distance `r` AND within
      * `dtMillis` in event time. The grid discipline with TIME as one
      * more grid axis: a row's cell is (floor(x/r).., floor(ms/dt)),
      * the right side replicates over the 3^(d+1) neighbor offsets, a
      * qualifying pair shares the left row's own cell exactly once,
      * and BOTH exact predicates refine. Time cells use exact integer
      * floor division of `unix_millis` (pmod-based floorDiv — plain
      * `div` truncates toward zero and mis-cells pre-1970 timestamps);
      * the millisecond resolution is the operator's contract, which
      * keeps the time predicate engine-replayable (epoch_ms on the SQL
      * side).
      *
      * The reference lists spatio-temporal analytics as "developing"
      * (reference README.md:22-24); this is that direction as a
      * first-class join, not just the boxed selection
      * ([[spatioTemporal range composition]]). Scale shape: one
      * equi-join shuffle on (spatial cells, time cell) — co-moving
      * data partitions by locality in space AND time, so a year of
      * trajectories never pays a cross product across days. */
    def spatioTemporalJoin(right: Dataset[_], lKeys: Seq[String],
                           rKeys: Seq[String], lTime: String, rTime: String,
                           r: Double, dtMillis: Long): DataFrame = {
      require(lKeys.length == rKeys.length && lKeys.nonEmpty)
      require(r > 0, "distance join radius must be positive")
      require(dtMillis > 0, "time window must be positive")
      val (l, rt) = (ds.toDF, right.toDF)
      SpatialOps.requireDisjoint("spatioTemporalJoin", l, rt)
      val dims = lKeys.length
      // QUADRANT replication (guide §2.3 shuffle fewer bytes): cells of
      // side 2r (2·dt on the time axis) and per-axis DIRECTED neighbor
      // choice. A point's reach interval [x-r, x+r] has exactly the
      // cell's length, so it spans the home cell plus ONE neighbor —
      // the lower one iff x sits in the lower half (frac < r), else
      // the upper (frac == r only the home cell is needed; emitting
      // the upper anyway is a harmless superset, removed by the exact
      // filter). Right rows therefore replicate to 2^(dims+1) cells
      // instead of the former side-r 3^(dims+1) — 27 -> 8 replica rows
      // per right row here — at (4/3)^(dims+1) more candidate pairs
      // for the cheap exact filter (coarser cells), a trade that moves
      // work from the replica exchange to compiled compares. Left rows
      // still map to exactly one cell, so any pair within (r, dt) per
      // axis shares a (left cell == replicated right cell) key and the
      // join stays a superset of the exact result.
      val side = 2 * r
      val tSide = 2 * dtMillis
      // Time cells need TRUE floor division (ADVICE r16, high): Spark's
      // `div` truncates toward zero, so for pre-1970 timestamps (negative
      // unix_millis) the home cell was one too high AND the directed-
      // neighbor fraction `tm - base*tSide` went negative (< dtMillis
      // always -> the -1 neighbor unconditionally), silently dropping
      // matching pairs. floorDiv via pmod stays exact integer arithmetic:
      // pmod(tm, tSide) ∈ [0, tSide) for tSide > 0, (tm - pmod) is an
      // exact multiple, so the truncating div of it IS the floor. For
      // tm >= 0 this is bit-identical to the old expressions.
      def tFloorCell(c: String): Column =
        expr(s"(unix_millis(`$c`) - pmod(unix_millis(`$c`), $tSide)) div $tSide")
      val lCells = lKeys.zipWithIndex.map { case (k, i) =>
        floor(col(k) / side).cast("long").as(s"${CELL}_l$i")
      } :+ tFloorCell(lTime).as(s"${CELL}_l$dims")
      val lTagged = l.select(l.columns.map(col) ++ lCells: _*)
      // per-axis directed neighbor (-1 or +1) as columns, enumerated
      // over the 2^(dims+1) subsets picking home (0) or the neighbor
      val nbCols: Seq[Column] = rKeys.map { k =>
        val base = floor(col(k) / side)
        when(col(k) - base * side < r, lit(-1L)).otherwise(lit(1L))
      } :+ {
        val frac = expr(s"pmod(unix_millis(`$rTime`), $tSide)")
        when(frac < dtMillis, lit(-1L)).otherwise(lit(1L))
      }
      val combos: Seq[Seq[Boolean]] = Seq.fill(dims + 1)(Seq(false, true))
        .foldLeft(Seq(Seq.empty[Boolean]))(
          (acc, cs) => for (a <- acc; c <- cs) yield a :+ c)
      val offArr = array(combos.map(bits => array(bits.zipWithIndex.map {
        case (b, i) => if (b) nbCols(i) else lit(0L)
      }: _*)): _*)
      val rCells = rKeys.zipWithIndex.map { case (k, i) =>
        (floor(col(k) / side).cast("long") +
          element_at(col("__graft_off"), i + 1)).as(s"${CELL}_r$i")
      } :+ (tFloorCell(rTime) +
        element_at(col("__graft_off"), dims + 1)).as(s"${CELL}_r$dims")
      val rTagged = rt.withColumn("__graft_off", explode(offArr))
        .select(rt.columns.map(col) ++ rCells: _*)
      val cellCond = (0 to dims)
        .map(i => col(s"${CELL}_l$i") === col(s"${CELL}_r$i")).reduce(_ && _)
      val joinCond = cellCond &&
        (pointDistance(lKeys.map(col), rKeys.map(col)) <= r) &&
        (abs(expr(s"unix_millis(`$lTime`)") - expr(s"unix_millis(`$rTime`)"))
          <= dtMillis)
      lTagged.join(rTagged, joinCond, "inner")
        .select((l.columns ++ rt.columns).map(col): _*)
    }

    /** Distance join with the algorithm chosen by session conf
      * (`spark.graft.join.distanceJoin` = auto | grid | broadcast | naive
      * — the reference selects its join algorithm the same way,
      * SimbaConf.scala:113, SimbaSessionState.scala:193-207). `auto`
      * broadcasts when the right side's optimizer row estimate is under
      * `spark.graft.join.broadcastThreshold`. */
    def distanceJoinAuto(right: Dataset[_], lKeys: Seq[String], rKeys: Seq[String],
                         r: Double): DataFrame = {
      val s = ds.sparkSession
      graft.GraftConf.distanceJoinAlgo(s) match {
        case "grid"      => distanceJoin(right, lKeys, rKeys, r)
        case "broadcast" => distanceJoin(right, lKeys, rKeys, r, broadcastRight = true)
        case "naive"     => distanceJoinNaive(right, lKeys, rKeys, r)
        case other if other != "auto" => throw new IllegalArgumentException(
          s"${graft.GraftConf.DistanceJoinAlgo}=$other; expected auto|grid|broadcast|naive")
        case _ =>
          // BigInt arithmetic throughout: stats estimates of joined plans
          // can exceed Long range, and a .toLong wrap-around would
          // broadcast a huge side. The 3^d explosion of the broadcast
          // side scales the decision with dimensionality (2-D behaves
          // like a plain est <= threshold check).
          val est: BigInt = right.queryExecution.optimizedPlan.stats.rowCount
            .getOrElse(right.queryExecution.optimizedPlan.stats.sizeInBytes / 64)
          val fanout = BigInt(lKeys.indices.foldLeft(1L)((a, _) => a * 3))
          distanceJoin(right, lKeys, rKeys, r,
            broadcastRight =
              est * fanout <= BigInt(graft.GraftConf.broadcastThreshold(s)) * 9)
      }
    }

    /** Distance join, naive θ-join (oracle/baseline): Catalyst plans a
      * broadcast-nested-loop when one side is small. */
    def distanceJoinNaive(right: Dataset[_], lKeys: Seq[String], rKeys: Seq[String],
                          r: Double): DataFrame = {
      val l = ds.toDF
      val rt = right.toDF
      SpatialOps.requireDisjoint("distanceJoinNaive", l, rt)
      SpatialOps.spreadForCross(l).crossJoin(SpatialOps.spreadForCross(rt))
        .filter(pointDistance(lKeys.map(col), rKeys.map(col)) <= r)
    }

    /** kNN join, windowed baseline: for every left row, its k nearest right
      * rows, ties broken by `tieBreak` right-side columns. Exact but
      * shuffles the full pair space — the oracle path
      * (reference baseline analogue: execution/join/CKJSpark.scala:33-59).
      *
      * Contract for ALL kNN-join variants: `leftId` must uniquely
      * identify left rows — the per-left top-k is a window partitioned by
      * it, so duplicate ids would merge distinct rows' neighbor lists.
      * Null-coordinate rows (either side) are excluded via the null
      * distance, matching the grid/pivot paths where a null cell simply
      * never joins — without this, asc-nulls-first ranking would hand
      * every left k null-distance "neighbors". */
    def knnJoinNaive(right: Dataset[_], lKeys: Seq[String], rKeys: Seq[String],
                     k: Int, leftId: String, tieBreak: Seq[String]): DataFrame = {
      val l = ds.toDF
      val rt = right.toDF
      SpatialOps.requireDisjoint("knnJoinNaive", l, rt)
      SpatialOps.firstK(SpatialOps.spreadForCross(l)
        .crossJoin(SpatialOps.spreadForCross(rt))
        .withColumn(DIST, pointDistance(lKeys.map(col), rKeys.map(col)))
        .filter(col(DIST).isNotNull), leftId, k, tieBreak, DIST)
        .drop(DIST)
    }

    /** kNN join, bounded-radius grid + one exact rescue pass.
      *
      * Phase 1 estimates radii from a driver-capped sample: a global
      * theta (the grid's cell side) such that most left rows find >= k
      * right rows within it, plus a PER-CELL theta — the reference's
      * RKJSpark derives its bound per left partition exactly like this
      * (reference: RKJSpark.scala:105-110) — so dense regions filter
      * candidates at their own much smaller radius instead of the global
      * quantile's. Phase 2 runs the grid equi-join at the global cell
      * side but keeps only pairs within the left cell's theta, then
      * windows to each left row's k nearest. Phase 3 rescues the starved
      * left rows in one pass at each one's proven bound
      * ([[SpatialOps.rescueKeys]]), so the result is exact regardless of
      * both estimates. Skew behavior: a dense cell's
      * candidate set scales with its own density * theta_cell^d (bounded
      * by the sampled kth-NN distances there), not density * theta^d.
      */
    def knnJoin(right: Dataset[_], lKeys: Seq[String], rKeys: Seq[String],
                k: Int, leftId: String, tieBreak: Seq[String],
                sampleCap: Int = 2000, quantile: Double = 0.95,
                safety: Double = 2.0, maxRefine: Int = 64): DataFrame = {
      val l = ds.toDF
      val rt = right.toDF
      SpatialOps.requireDisjoint("knnJoin", l, rt)

      val ks = SpatialOps.sampleKnnRadii(l, rt, lKeys, rKeys, k, sampleCap, quantile, safety)
      val SpatialOps.KnnSample(lPts, radii, _, theta, nLeft, _, _) = ks
      val gridCell = (p: Array[Double]) => p.toSeq.map(SpatialOps.cellId(_, theta))
      val cellThetas: Map[Seq[Long], Double] =
        if (lPts.isEmpty) Map.empty
        else SpatialOps.perCellQuantile(lPts.map(gridCell), radii, quantile, theta)

      val cand = gridCandidates(l, rt, lKeys, rKeys, theta, cellThetas, maxRefine)
        .withColumn(DIST, pointDistance(lKeys.map(col), rKeys.map(col)))

      // Starved lefts (< k candidates within theta) take the rescue
      // for ALL of their k rows, so their partial candidates must be
      // excluded or they'd appear twice in the union — same guard as
      // pivotCellKnn / zknnJoinImpl.
      val top = SpatialOps.topKCounted(cand, leftId, k, tieBreak)
      SpatialOps.withStarved(top.rows, nLeft - top.nSatisfied)(
        SpatialOps.rescueKeys(SpatialOps.minusByKey(l, top.ids, leftId), rt, lKeys, rKeys,
          lPts, ks.kth, k, leftId, tieBreak))
    }

    /** kNN join, pivot (Voronoi) algorithm — the rebuild of the
      * reference's VKJSpark (reference: execution/join/VKJSpark.scala:38-398:
      * pivot sampling, geometric pivot grouping, per-cell metadata
      * bounds, selective replication).
      *
      * Unlike the grid join (3^d neighbor replication — dimension-bound),
      * pivot partitioning needs only the triangle inequality, so it works
      * in any dimension. Shape:
      *  1. sample `numPivots` pivots from the right side (driver-capped);
      *  2. assign every left row to its nearest pivot (argmin over a
      *     plan-time pivot array — pure codegen'd column arithmetic) and
      *     record d(l, pivot);
      *  3. per-cell bound: max d(l, pivot) over the cell's lefts + theta
      *     (tiny agg, numPivots rows to the driver);
      *  4. replicate each right row ONLY to cells whose bound admits it
      *     (triangle inequality: r can serve some l in cell i only if
      *     d(r, p_i) <= maxdl_i + theta);
      *  5. equi-join on cell id + exact distance <= theta, windowed
      *     top-k, and the one rescue pass for starved lefts.
      * Correct for any theta (the rescue guarantees exactness). */
    def knnJoinPivot(right: Dataset[_], lKeys: Seq[String], rKeys: Seq[String],
                     k: Int, leftId: String, tieBreak: Seq[String],
                     numPivots: Int = 32, sampleCap: Int = 2000,
                     quantile: Double = 0.95, safety: Double = 2.0): DataFrame = {
      val l = ds.toDF
      val rt = right.toDF
      SpatialOps.requireDisjoint("knnJoinPivot", l, rt)

      val SpatialOps.KnnSample(lPts, radii, kth, theta, _, nRight, rSample) =
        SpatialOps.sampleKnnRadii(l, rt, lKeys, rKeys, k, sampleCap, quantile, safety)
      // no keyed left: the naive plan IS the correct empty result
      if (lPts.isEmpty) return knnJoinNaive(rt, lKeys, rKeys, k, leftId, tieBreak)
      // a uniform right sample of `n` rows: a prefix of the stats pass's
      // own sample when it is large enough, else one more pass
      def rightSample(n: Int): Array[Array[Double]] =
        if (n <= sampleCap) rSample.take(n)
        else SpatialOps.pointStats(rt, rKeys, n).sample
      // Size-adaptive pivot budget (VERDICT r15 #1), DIMENSION-SPLIT:
      //
      //  - d <= 3: p ∝ n — per-cell RIGHT population held at
      //    ~`spark.graft.knn.pivotCellSize` rows, so the candidate term
      //    Σ|cell_l|·|admitted_r| is ~n·cellSize, linear per decade
      //    (the former p ~ √n grew √n per decade — measured
      //    1.02/decade on the 2-D 100x slice). Only the two-level
      //    kernels make this p affordable: per-row work O((√p+|group|)·d)
      //    compiled flops, driver state the p×d matrix (capped by
      //    spark.graft.knn.maxPivots), pivot SELECTION a uniform
      //    distributed sample.
      //  - d > 3: p ~ √n, the r15 budget. Small cells are HOSTILE in
      //    high d: the admission band ball-to-cell volume ratio is
      //    ~(1 + theta_i/R_cell)^d, the 2000-point left sample cannot
      //    provide per-fine-cell thetas at p ∝ n (theta_i stays the
      //    global/group quantile), and R_cell shrinks as (cellSize)^{1/d}
      //    — measured on the d=4 100x slice: 121M admitted replicas
      //    (81x the right side) OOM'd the admitted checkpoint. The √n
      //    budget keeps cells large enough that the global theta is
      //    small relative to R_cell, and per-FINE-cell thetas stay
      //    sample-estimable (cells ~ sample size).
      //
      // `numPivots` remains the caller's FLOOR; nRight is exact and
      // free (the right side's stats pass counted it).
      val budget =
        if (lKeys.length <= 3)
          math.ceil(nRight.toDouble /
            graft.GraftConf.knnPivotCellSize(ds.sparkSession)).toInt
        else math.ceil(math.sqrt(nRight.toDouble)).toInt
      val pTarget = math.min(
        graft.GraftConf.knnMaxPivots(ds.sparkSession),
        math.max(numPivots, budget))

      def run(pivots: Array[Array[Double]], cellThetas: Map[Int, Double],
              hier: Option[SpatialOps.PivotHierarchy]): DataFrame =
        pivotCellKnn(l, rt, SpatialOps.keyVec(lKeys), SpatialOps.keyVec(rKeys),
          pivotsFlat = pivots.flatten, dim = lKeys.length, vecIsFloat = false,
          numPivots = pivots.length, theta = theta,
          exactDist = pointDistance(lKeys.map(col), rKeys.map(col)),
          lId = leftId, k = k, tieBreak = tieBreak,
          outCols = (l.columns ++ rt.columns).map(col),
          rescue = SpatialOps.rescueKeys(_, rt, lKeys, rKeys, lPts, kth, k, leftId, tieBreak),
          cellThetas = cellThetas, hier = hier)

      if (lKeys.length <= 3 && pTarget > SpatialOps.HierPivotThreshold) {
        // ---- two-level route (p ∝ n, d <= 3) ----
        // Pivots are a UNIFORM distributed sample of the right side:
        // density-proportional by construction, so dense regions get
        // proportionally more (smaller) cells — the theta-sized-cell
        // goal the flat route needed cost-aware refinement for —
        // while maximin at this p would cost O(pool·p) driver flops
        // and spread pivots by EXTENT, leaving dense clusters with
        // √n-sized cells again. Duplicate sampled points cost one
        // empty cell each (-inf band, skipped in-kernel).
        val pivots0 = rightSample(pTarget)
        val (pivots, hier, fineToGroup) = SpatialOps.buildPivotHierarchy(pivots0)
        // per-cell thetas at the COARSE-group level: the left sample is
        // far too thin for per-fine-cell quantiles at p ∝ n (most of
        // the p cells would see zero samples), but ~√p groups keep the
        // skew discipline — a dense coarse region filters all its fine
        // cells at its own radius. Fine cells inherit their group's
        // theta; sparse-sampled groups fall back to the global theta
        // (minSamples = 8, the extent-sized-cell rule — see
        // perCellQuantile).
        val g = hier.offsets.length - 1
        val nearestCoarse = (p: Array[Double]) => {
          var best = 0; var bd = Double.MaxValue; var i = 0
          while (i < g) {
            var acc = 0.0; var d0 = 0
            while (d0 < lKeys.length) {
              val diff = p(d0) - hier.coarseFlat(i * lKeys.length + d0)
              acc += diff * diff; d0 += 1
            }
            if (acc < bd) { bd = acc; best = i }
            i += 1
          }
          best
        }
        val groupThetas = SpatialOps.perCellQuantile(
          lPts.map(nearestCoarse), radii, quantile, theta, minSamples = 8)
        val cellThetas: Map[Int, Double] = (1 to pivots.length).flatMap { c =>
          groupThetas.get(fineToGroup(c - 1)).map(c -> _)
        }.toMap
        run(pivots, cellThetas, Some(hier))
      } else {
        // ---- flat route (small p, and every d > 3 join) ----
        // farthest-point selection from a larger sample pool (so sparse
        // regions get nearby pivots even under heavy density skew and
        // the pool can actually seed pTarget pivots), then cost-aware
        // refinement splits any cell whose estimated pair count
        // dominates — a dense cluster collects pivots proportional to
        // its join cost instead of degenerating to one cell's cross
        // product (no-op on balanced data). Refinement headroom stays
        // +numPivots: each refine iteration scans cells × rPool on the
        // driver, so the budget must not scale with pTarget.
        // The flat kernels are O(p·d) PER ROW and maximin is
        // O(pool·p) on the driver, so this branch keeps the r15 cap
        // regardless of how high spark.graft.knn.maxPivots is raised
        // for the two-level route.
        val pFlat = math.min(pTarget, 4096)
        val rPool = rightSample(math.max(sampleCap, 2 * pFlat)).toIndexedSeq
        val pivots0 = SpatialOps.farthestPointPivots[Array[Double]](
          rPool, graft.spatial.Dist.pointToPoint, pFlat)
        val pivots: Array[Array[Double]] = SpatialOps.refinePivots[Array[Double]](
          lPts.toIndexedSeq, radii, rPool, graft.spatial.Dist.pointToPoint,
          pivots0, maxPivots = pivots0.length + numPivots, quantile, theta).toArray

        // per-pivot-cell theta from the same sample (1-based cell ids,
        // argmin over the pivots) — without it a dense cell filters at
        // the sparse-region-sized global quantile and admits almost
        // everything. minSamples = 8: pivot cells are extent-sized —
        // see perCellQuantile.
        val nearestPivot = (p: Array[Double]) =>
          pivots.indices.minBy(i => graft.spatial.Dist.pointToPoint(p, pivots(i))) + 1
        val cellThetas = SpatialOps.perCellQuantile(
          lPts.map(nearestPivot), radii, quantile, theta, minSamples = 8)
        run(pivots, cellThetas, None)
      }
    }

    /** kNN join with the algorithm chosen by session conf
      * (`spark.graft.join.knnJoin` = grid | zorder | pivot | naive |
      * auto; the reference's `simba.join.knnJoin` dispatch,
      * SimbaSessionState.scala:193-207 — config-only there; `auto` is a
      * strict improvement: a cost gate from the radius-estimation
      * sample, the distanceJoinAuto pattern). Unknown values error
      * rather than silently running a different algorithm. */
    def knnJoinAuto(right: Dataset[_], lKeys: Seq[String], rKeys: Seq[String],
                    k: Int, leftId: String, rightId: String,
                    tieBreak: Seq[String]): DataFrame = {
      val s = ds.sparkSession
      graft.GraftConf.knnJoinAlgo(s) match {
        case "auto" =>
          // Routing-only estimate, deliberately CHEAP: sample-vs-sample
          // k-th distances at cap 500 — the gate needs density
          // STRUCTURE, not precise radii, so it must not pay the exact
          // path's full right-table scan (the chosen verb re-runs its
          // own full-cap exact sampling anyway — ADVICE r15). An empty
          // right routes to grid, whose own sampling then raises the
          // same error as every concrete verb.
          val algo = SpatialOps.chooseKnnAlgoSampled(
            ds.toDF, right.toDF, lKeys, rKeys, k,
            quantile = graft.GraftConf.knnQuantile(s),
            safety = graft.GraftConf.knnSafety(s))
          if (algo == "pivot")
            knnJoinPivot(right, lKeys, rKeys, k, leftId, tieBreak,
              sampleCap = graft.GraftConf.sampleCap(s),
              quantile = graft.GraftConf.knnQuantile(s),
              safety = graft.GraftConf.knnSafety(s))
          else
            knnJoin(right, lKeys, rKeys, k, leftId, tieBreak,
              sampleCap = graft.GraftConf.sampleCap(s),
              quantile = graft.GraftConf.knnQuantile(s),
              safety = graft.GraftConf.knnSafety(s),
              maxRefine = graft.GraftConf.knnMaxRefine(s))
        case "zorder" =>
          zknnJoin(right, lKeys, rKeys, k, leftId, rightId, tieBreak,
            shifts = graft.GraftConf.zknnShifts(s), bits = graft.GraftConf.zknnBits(s),
            numPartitions = graft.GraftConf.joinPartitions(s))
        case "naive" => knnJoinNaive(right, lKeys, rKeys, k, leftId, tieBreak)
        case "pivot" => knnJoinPivot(right, lKeys, rKeys, k, leftId, tieBreak,
          sampleCap = graft.GraftConf.sampleCap(s),
          quantile = graft.GraftConf.knnQuantile(s),
          safety = graft.GraftConf.knnSafety(s))
        case "grid"  => knnJoin(right, lKeys, rKeys, k, leftId, tieBreak,
          sampleCap = graft.GraftConf.sampleCap(s),
          quantile = graft.GraftConf.knnQuantile(s),
          safety = graft.GraftConf.knnSafety(s),
          maxRefine = graft.GraftConf.knnMaxRefine(s))
        case other => throw new IllegalArgumentException(
          s"${graft.GraftConf.KnnJoinAlgo}=$other; expected grid|zorder|pivot|naive|auto")
      }
    }

    /** Approximate kNN join on Morton curves (see [[SpatialOps.zknnJoinImpl]]). */
    def zknnJoin(right: Dataset[_], lKeys: Seq[String], rKeys: Seq[String],
                 k: Int, leftId: String, rightId: String, tieBreak: Seq[String],
                 shifts: Int = 2, bits: Int = 18, numPartitions: Int = 32,
                 seed: Long = 42L): DataFrame =
      zknnJoinImpl(ds.toDF, right.toDF, lKeys, rKeys, k, leftId, rightId,
        tieBreak, shifts, bits, numPartitions, seed)
  }

  /** Approximate kNN join via space-filling curves, the zKNN algorithm
    * (reference: execution/join/ZKJSpark.scala:36-170): both sides are
    * mapped to Morton codes under `shifts` random shift vectors; within
    * each shift, candidates for a left row are the k preceding and k
    * following right rows in z-order (range partition + per-partition
    * sliding window — no cross product anywhere); the union of candidates
    * over all shifts is exactly re-ranked by true distance.
    *
    * Approximate in recall like the reference (partition boundaries and
    * curve discontinuities can miss true neighbors; more shifts -> higher
    * recall); every returned distance/ordering is exact.
    */
  def zknnJoinImpl(l0: DataFrame, r0: DataFrame, lKeys: Seq[String], rKeys: Seq[String],
                   k: Int, leftId: String, rightId: String, tieBreak: Seq[String],
                   shifts: Int, bits: Int, numPartitions: Int, seed: Long): DataFrame = {
    requireDisjoint("zknnJoin", l0, r0)
    // null coordinates can't ride the curve (null z) and must not rank
    // as null-distance "neighbors" in the exact re-rank — excluded up
    // front, same semantics as every other kNN-join variant
    val l = l0.filter(lKeys.map(col(_).isNotNull).reduce(_ && _))
    val r = r0.filter(rKeys.map(col(_).isNotNull).reduce(_ && _))
    // ids ride through the curve pass as longs; a fractional id type would
    // silently collide distinct ids under the cast — reject it up front
    Seq(l.schema(leftId).dataType, r.schema(rightId).dataType).foreach { dt =>
      require(Seq("byte", "short", "integer", "long").contains(dt.typeName),
        s"zknnJoin requires integral id columns, got $dt")
    }
    val dims = lKeys.length
    val spark = l.sparkSession
    import spark.implicits._

    // common bounds and row counts across both sides (exact two tiny
    // aggs); a null min means that side is empty -> the naive plan IS
    // the correct empty result (right-empty also short-circuits: no
    // neighbors exist)
    def bounds(df: DataFrame, keys: Seq[String]): Option[(Array[Double], Array[Double], Long)] = {
      val aggs = keys.flatMap(c => Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
      val row = df.agg(count(lit(1)), aggs: _*).head()
      if (row.isNullAt(1)) None
      else Some((keys.indices.map(i => row.getDouble(2 * i + 1)).toArray,
        keys.indices.map(i => row.getDouble(2 * i + 2)).toArray, row.getLong(0)))
    }
    val (lBounds, rBounds) = (bounds(l, lKeys), bounds(r, rKeys))
    if (lBounds.isEmpty || rBounds.isEmpty)
      return new DatasetSpatialOps(l).knnJoinNaive(r, lKeys, rKeys, k, leftId, tieBreak)
    val (llo, lhi, nLeft) = lBounds.get
    val (rlo, rhi, _) = rBounds.get
    val lo = llo.zip(rlo).map(t => math.min(t._1, t._2))
    val hi = lhi.zip(rhi).map(t => math.max(t._1, t._2))
    val span = lo.indices.map(i => hi(i) - lo(i)).toArray

    val rng = new scala.util.Random(seed)
    val shiftVecs: Seq[Array[Double]] =
      Array.fill(dims)(0.0) +: Seq.fill(math.max(0, shifts - 1))(
        Array.tabulate(dims)(i => rng.nextDouble() * span(i)))

    // ALL shifts ride one shuffle: each row explodes to (shift, z) pairs
    // and range-partitions on (shift, z), so adding shifts adds rows, not
    // extra shuffle pipelines. The quantization grid [lo, hi + span] is
    // fixed for every shift — shifting the points but NOT the grid is
    // what moves the curve discontinuities between shifts.
    def zcols(keys: Seq[String]): Column = array(shiftVecs.zipWithIndex.map {
      case (sv, si) =>
        struct(lit(si).as("s"),
          zorder(keys.indices.map(i => col(keys(i)) + lit(sv(i))),
            lo.indices.map(i => lo(i)), lo.indices.map(i => hi(i) + span(i)),
            bits).as("z"))
    }: _*)
    val lz = l.select(lit(0).as("__side"), col(leftId).cast("long").as("__id"),
      explode(zcols(lKeys)).as("__sz"))
    val rz = r.select(lit(1).as("__side"), col(rightId).cast("long").as("__id"),
      explode(zcols(rKeys)).as("__sz"))
    val merged = lz.unionByName(rz)
      .select(col("__side"), col("__id"),
        col("__sz.s").as("__s"), col("__sz.z").as("__z"))
      .repartitionByRange(numPartitions, col("__s"), col("__z"))
      .sortWithinPartitions(col("__s"), col("__z"))
    val candidates = merged.select("__side", "__id", "__s")
      .as[(Int, Long, Int)].mapPartitions { it =>
        // one ordered pass per shift run: each LEFT pairs with the k
        // nearest RIGHTs before and after it in z-order; state resets at
        // shift boundaries (a partition may span the end of one shift's
        // range and the start of the next). Emission is LAZY (flatMap
        // over the sorted input): per-element output is bounded by the
        // sliding state (k trailing rights / the pending-left queue), so
        // partition memory scales with the window, never with the
        // partition's row or candidate count.
        var lastRights = new java.util.ArrayDeque[Long](k)
        var pending = scala.collection.mutable.Queue.empty[(Long, Array[Int])]
        var curShift = -1
        it.flatMap { case (side, id, s) =>
          if (s != curShift) {
            curShift = s
            lastRights = new java.util.ArrayDeque[Long](k)
            pending = scala.collection.mutable.Queue.empty[(Long, Array[Int])]
          }
          val out = Seq.newBuilder[(Long, Long)]
          if (side == 0) {
            val itr = lastRights.iterator()
            while (itr.hasNext) out += ((id, itr.next()))
            pending.enqueue((id, Array(k)))
          } else {
            pending.foreach { case (lid, rem) =>
              if (rem(0) > 0) { out += ((lid, id)); rem(0) -= 1 }
            }
            while (pending.nonEmpty && pending.head._2(0) == 0) pending.dequeue()
            if (lastRights.size == k) lastRights.pollFirst()
            lastRights.addLast(id)
          }
          out.result()
        }
      }.toDF("__lid", "__rid").distinct()

    // exact re-rank: join coordinates back, true distance, top-k per left
    val joined = candidates
      .join(l, col("__lid") === col(leftId).cast("long"))
      .join(r, col("__rid") === col(rightId).cast("long"))
      .withColumn(DIST, pointDistance(lKeys.map(col), rKeys.map(col)))
    // left rows that found < k curve candidates (sparse right side /
    // partition edges) take the exact rescue, so the "k rows per left"
    // contract holds even when the curve misses; they must come ONLY
    // from the rescue or they'd be double-counted. The curve has no
    // radius of its own, so the rescue's sample and exact radii come
    // from one stats pass per side, run only when some left starved.
    val top = topKCounted(joined, leftId, k, tieBreak)
    withStarved(top.rows.drop("__lid", "__rid"), nLeft - top.nSatisfied) {
      val lS = pointStats(l, lKeys, graft.GraftConf.sampleCap(spark))
      rescueKeys(minusByKey(l, top.ids, leftId), r, lKeys, rKeys, lS.sample,
        pointStats(r, rKeys, 1, probes = lS.sample, k = k).kth, k, leftId, tieBreak)
    }
  }

  /** Per-cell refinement of the sampled kNN radius: returns the global
    * theta (the grid's cell side — the cross-sample quantile of corrected
    * kth-NN radii) plus a theta per observed grid cell, so a dense cell
    * filters candidates at its own much smaller radius — the reference's
    * RKJSpark derives its bound per left partition exactly like this
    * (reference: RKJSpark.scala:105-110). Per-cell thetas are capped at
    * the global theta so the 3^d neighbor replication of the grid still
    * covers every cell's filter ball; cells the sample never saw fall
    * back to the global theta in [[gridCandidates]]. Driver memory is
    * bounded by the sample cap (<= cap cells). Like the global estimate,
    * this only affects performance — the exact rescue in `knnJoin`
    * restores any left row whose true kth neighbor lies beyond its
    * cell's theta. */
  /** The kNN joins' plan-build statistics: the left sample, each sampled
    * point's exact, safety'd kth-NN radius against the full right side
    * (`radii`) and the same radius unscaled (`kth`, the rescue's reach),
    * the global quantile `theta`, the left side's exact count of rows
    * with every key non-null (the starved count is `nLeft` minus the
    * satisfied: a null-key left has no neighbours, so never starves),
    * the right side's exact non-null row count and its uniform sample
    * (ascending priority, so a prefix is a smaller uniform sample). */
  private[operators] final case class KnnSample(
      lPts: Array[Array[Double]], radii: Array[Double], kth: Array[Double],
      theta: Double, nLeft: Long, nRight: Long, rPts: Array[Array[Double]])

  /** [[KnnSample]] from TWO stats passes ([[statsPass]]): the left, then
    * the right carrying the left sample as probes — the shared front
    * half of [[estimateKnnRadii]] (grid cells) and `knnJoinPivot` (pivot
    * cells), which group the same per-point radii by their own cell
    * notion. Sample sizes are capped (like RangePartitioner's sketch),
    * so driver work is O(cap) rows regardless of table size, and callers
    * sizing pivot budgets from `nRight` or drawing pivots from `rPts`
    * add no job. The estimates only affect performance — the exact
    * rescue in every kNN join guarantees correctness whatever comes
    * out. Empty left → (empty, empty, empty, 1e-9, ...). */
  private[operators] def sampleKnnRadii(
      l: DataFrame, r: DataFrame, lKeys: Seq[String], rKeys: Seq[String],
      k: Int, cap: Int, quantile: Double, safety: Double
  ): KnnSample = {
    val left = pointStats(l, lKeys, cap)
    val lPts = left.sample
    // Radii are EXACT: the right side's stats pass carries the left
    // sample as probes, so each sampled left's kth-NN distance comes
    // from the FULL right side in the same scan that counts and samples
    // it (one scan at O(cap · dims) flops per row). The former density
    // correction (kth_sampled * rFrac^(1/dims)) is gone because no
    // constant-exponent correction is right: the scaling exponent is
    // the data's EFFECTIVE dimension at the sampled density, which
    // shifts across the extrapolated range whenever some axes are
    // narrower than the point spacing. Measured on the 100x d=4 slice
    // (rFrac = 0.0013, three axes narrower than theta): the
    // column-count exponent inflated theta 627 vs true ~280 (26x the
    // candidate ball volume, a 1.3e9-pair candidate set, >200 GB of
    // checkpoint spill); a sample-measured exponent collapsed it to
    // 4.5 (every left starved into the cross fallback). Every
    // downstream estimate (theta, per-cell thetas, admission bands)
    // inherits the accuracy.
    val right = pointStats(r, rKeys, cap, probes = lPts, k = k)
    require(right.count > 0, "kNN join: right side is empty")
    // empty left: any radius yields the correct empty result downstream
    if (lPts.isEmpty)
      return KnnSample(Array.empty, Array.empty, Array.empty, 1e-9, left.count, right.count,
        right.sample)
    // Volume-calibrated safety (guide §2.3 shuffle fewer bytes): the
    // safety margin exists to cover unsampled lefts whose kth radius
    // exceeds the sampled quantile, and what it costs downstream is
    // CANDIDATE BALL VOLUME — radius * s admits ~s^d times the needed
    // candidates. A flat s = 2 meant 4x overshoot in 2-D but 16x in
    // 4-D (measured on the d=4 100x slice: 78.9M candidate pairs for
    // 4.5M result rows, 92 s in the narrow top-k exchange — 17.5x).
    // Calibrate to a DIMENSION-INVARIANT volume overshoot of s^2
    // (i.e. the 2-D behavior, unchanged there): eff = s^(2/d). kth-NN
    // radii concentrate as d grows, so the thinner radial margin still
    // covers stragglers; exactness never depends on it — starved lefts
    // take the exact rescue either way.
    val effSafety =
      if (lKeys.length <= 2) safety
      else math.pow(safety, 2.0 / lKeys.length)
    val radii = right.kth.map(d => math.max(d * effSafety, 1e-9))
    KnnSample(lPts, radii, right.kth, quantileOf(radii.sorted, quantile), left.count,
      right.count, right.sample)
  }

  /** Insert `x` into the ascending k-smallest array `best` (slots not
    * yet filled hold Double.MaxValue) — O(k) for the joins' small k. */
  private def mergeInto(best: Array[Double], x: Double): Unit = {
    val m = best.length
    if (x < best(m - 1)) {
      var j = m - 1
      while (j > 0 && best(j - 1) > x) { best(j) = best(j - 1); j -= 1 }
      best(j) = x
    }
  }

  /** k-th smallest distance from `p` to `pts` via the bounded insertion
    * kernel — O(n·k), the same value as
    * `distances.sorted.apply(min(k, n) - 1)` exactly. */
  private def kthSmallestDist(p: Array[Double],
                              pts: Array[Array[Double]], k: Int): Double = {
    val best = Array.fill(math.min(k, pts.length))(Double.MaxValue)
    pts.foreach(q => mergeInto(best, graft.spatial.Dist.pointToPoint(p, q)))
    best.last
  }

  private def quantileOf(sorted: Array[Double], quantile: Double): Double =
    sorted(math.min(sorted.length - 1, (quantile * sorted.length).toInt))

  /** Exact-kNN-join algorithm choice from the radius-estimation sample
    * (VERDICT r7 #7 — the distanceJoinAuto cost-gate pattern applied to
    * the kNN side). Compares the two plans' dominant per-right-row
    * replication work:
    *
    *  - grid: each right row fans out to its 3^d neighbor cells as
    *    cheap codegen'd cell-id copies — the hard dimensionality wall
    *    (d=5 already means 243 copies; the reference's RKJSpark is 2-D
    *    only, RKJSpark.scala:38);
    *  - pivot: each right row pays `dims * numPivots` interpreted
    *    distance multiplies (the HOF transform over the pivot array)
    *    plus one copy per ADMITTING cell — and the admitting-cell count
    *    is the sample's density structure speaking: well-separated
    *    clusters admit into ~1 cell, concentrated high-d mush admits
    *    into many.
    *
    * Picks pivot iff its per-row estimate is cheaper; ties and empty
    * samples default to grid (the measured winner at low dimensions,
    * even under heavy skew — per-cell thetas + dense-cell refinement
    * keep it near uniform-data cost, in-JVM A/B b5s grid 3.3 s vs
    * pivot 5.3 s). Past d=8 the model short-circuits: 3^d is astronomical and
    * computing admission stats would only confirm it. NEVER picks
    * zorder: it is approximate in recall, and a cost gate must choose
    * among plans with identical result semantics. */
  /** [[chooseKnnAlgo]] fed from bounded driver samples of both sides —
    * the `auto` route's probe. Radii here are sample-vs-sample k-th
    * distances with NO subset correction: a sub-cap right sample only
    * inflates them (errs wide), which for routing biases toward the
    * plan that tolerates a larger theta — acceptable for a choice the
    * chosen verb's own exact sampling then supersedes. Empty sides
    * route to grid (d <= 3) whose own sampling raises the contract
    * errors. */
  private[operators] def chooseKnnAlgoSampled(
      l: DataFrame, r: DataFrame, lKeys: Seq[String], rKeys: Seq[String],
      k: Int, quantile: Double, safety: Double): String = {
    if (lKeys.length > 3) return "pivot"
    val lPts = pointStats(l, lKeys, 500).sample
    val rPts = pointStats(r, rKeys, 500).sample
    if (lPts.isEmpty || rPts.isEmpty) return "grid"
    val radii = lPts.map(p => math.max(kthSmallestDist(p, rPts, k) * safety, 1e-9))
    val theta = quantileOf(radii.sorted, quantile)
    chooseKnnAlgo(lPts, rPts, theta, lKeys.length)
  }

  private[operators] def chooseKnnAlgo(
      lPts: Array[Array[Double]], rPts: Array[Array[Double]],
      theta: Double, dims: Int, numPivots: Int = 32): String = {
    // Past 3-D the grid's 3^d replication loses unconditionally: the
    // flop-count comparison below prices a replicated row like one
    // pivot-distance flop, but a replicated row pays a shuffle
    // write+read (orders of magnitude more than d multiplies), so at
    // d=4 the 81x ROW fan-out already dominates the d*pivots + admit
    // FLOP cost even though 128 > 81 numerically. Route d > 3 straight
    // to pivot — cells there come from metric pivots, whose count never
    // grows with dimensionality.
    if (dims > 3) return "pivot"
    if (lPts.isEmpty || rPts.isEmpty) return "grid"
    val pivots = farthestPointPivots[Array[Double]](
      rPts.toIndexedSeq, graft.spatial.Dist.pointToPoint, numPivots).toArray
    // per-cell left radius bound from the sample (the same maxDl the
    // pivot plan computes exactly), then the sampled right side's mean
    // admitting-cell count under it
    val maxDl = Array.fill(pivots.length)(Double.NegativeInfinity)
    lPts.foreach { p =>
      val c = pivots.indices.minBy(i => graft.spatial.Dist.pointToPoint(p, pivots(i)))
      val d = graft.spatial.Dist.pointToPoint(p, pivots(c))
      if (d > maxDl(c)) maxDl(c) = d
    }
    val avgAdmit = rPts.iterator.map { r =>
      pivots.indices.count(i => maxDl(i) != Double.NegativeInfinity &&
        graft.spatial.Dist.pointToPoint(r, pivots(i)) <= maxDl(i) + theta)
    }.sum.toDouble / rPts.length
    val gridPerRight = math.pow(3.0, dims)
    val pivotPerRight = dims.toDouble * pivots.length + avgAdmit
    if (pivotPerRight < gridPerRight) "pivot" else "grid"
  }

  /** Farthest-point (maximin) selection of `n` pivots from a candidate
    * pool: start from the pool's centroid-nearest point, then greedily
    * take the candidate farthest from the chosen set. Spreads pivots
    * over the data's full extent, so under density skew sparse regions
    * still get nearby pivots — uniformly-sampled pivots cluster in the
    * dense region, whole sparse cells inherit a huge max-d(l, pivot)
    * bound, and the triangle-inequality admission band admits nearly
    * everything (the reference samples pivot SETS and scores them,
    * VKJSpark.scala:50-67; maximin achieves the spread directly).
    * Deterministic; O(pool * (n + 512)) driver work on an already-capped
    * pool — the medoid seed scans a strided subset so a user-raised
    * sample cap can't turn the seed quadratic. */
  private[operators] def farthestPointPivots[T](
      pool: IndexedSeq[T], dist: (T, T) => Double, n: Int): IndexedSeq[T] = {
    if (pool.isEmpty || n <= 0) return IndexedSeq.empty
    val minDist = Array.fill(pool.length)(Double.MaxValue)
    // seed: the point minimizing total distance to a strided subset (a
    // medoid — deterministic and central, so the first radius is small)
    val step = math.max(1, pool.length / 512)
    var seed = 0
    var best = Double.MaxValue
    var i = 0
    while (i < pool.length) {
      var s = 0.0; var j = 0
      while (j < pool.length) { s += dist(pool(i), pool(j)); j += step }
      if (s < best) { best = s; seed = i }
      i += 1
    }
    val chosen = scala.collection.mutable.ArrayBuffer(seed)
    while (chosen.length < math.min(n, pool.length)) {
      val last = pool(chosen.last)
      var far = -1; var farD = -1.0; var p = 0
      while (p < pool.length) {
        val d = dist(pool(p), last)
        if (d < minDist(p)) minDist(p) = d
        if (minDist(p) > farD && !chosen.contains(p)) { farD = minDist(p); far = p }
        p += 1
      }
      if (far < 0) return chosen.map(pool).toIndexedSeq
      chosen += far
    }
    chosen.map(pool).toIndexedSeq
  }

  /** Dimensionality of a Point-UDT column, probed from the first
    * non-null row of each side (one `limit(1)` job per side — the
    * reference resolves attributes just as eagerly at verb-build time).
    * Both sides must agree: a silent mismatch would read nulls past the
    * shorter coord array and return wrong/empty joins. */
  private[operators] def pointDims(l: DataFrame, lKey: String,
                                   r: DataFrame, rKey: String): Int = {
    def probe(df: DataFrame, c: String): Option[Int] =
      df.select(col(c)).na.drop().limit(1).collect().headOption
        .map(_.getAs[graft.spatial.Point](0).coord.length)
    (probe(l, lKey), probe(r, rKey)) match {
      case (Some(a), Some(b)) =>
        require(a == b,
          s"point dimensionality mismatch: '$lKey' is $a-D but '$rKey' is $b-D")
        a
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => throw new IllegalArgumentException(
        s"cannot infer point dimensionality: '$lKey'/'$rKey' hold no points")
    }
  }

  /** Expand a Point-UDT column into temp coordinate columns (names
    * carry the side tag so both sides stay disjoint). */
  private[operators] def expandPoint(df: DataFrame, key: String, side: String,
                                     dims: Int): (DataFrame, Seq[String]) = {
    val names = (0 until dims).map(i => s"__graft_${side}pc$i")
    val out = names.zipWithIndex.foldLeft(df) { case (d, (n, i)) =>
      d.withColumn(n, graft.functions.pointCoord(col(key), i))
    }
    (out, names)
  }

  /** Cost-aware pivot refinement — the pivot joins' analogue of the grid
    * join's dense-cell refinement. Maximin pivots spread over the EXTENT,
    * so under density skew a geometrically small dense cluster collects
    * 1-2 pivots and its cell's equi-join degenerates toward the cluster's
    * cross product (the b5s skew bench shape). Starting from the maximin
    * set (which sparse regions still need for tight admission bands),
    * repeatedly split the cell with the largest estimated candidate-pair
    * cost — |cell's sample lefts| × |sample rights its admission band
    * d(r, p) <= maxDl + theta_cell admits| — by promoting the cell's
    * farthest left sample point to a new pivot. Stops at `maxPivots`, or
    * as soon as costs are balanced (max <= 2x mean) — note maximin
    * pivots have unbalanced cell POPULATIONS even on uniform data (edge
    * pivots own small cells), so some splitting there is expected and
    * measured beneficial. Driver-only, on the already-capped samples:
    * O(iterations × (|lPool| + cells × |rPool|)) — a few ms. Pivot
    * placement only shapes performance; exactness always comes from the
    * bounds + rescue downstream. */
  private[operators] def refinePivots[T](
      lPool: IndexedSeq[T], radii: Array[Double], rPool: IndexedSeq[T],
      dist: (T, T) => Double, initial: IndexedSeq[T],
      maxPivots: Int, quantile: Double, theta: Double): IndexedSeq[T] = {
    if (initial.isEmpty || lPool.isEmpty) return initial
    val pivots = scala.collection.mutable.ArrayBuffer[T](initial: _*)
    val cell = new Array[Int](lPool.length)
    val dmin = new Array[Double](lPool.length)
    var i = 0
    while (i < lPool.length) {
      var best = 0; var bd = Double.MaxValue; var p = 0
      while (p < pivots.length) {
        val d = dist(lPool(i), pivots(p))
        if (d < bd) { bd = d; best = p }
        p += 1
      }
      cell(i) = best; dmin(i) = bd; i += 1
    }
    while (pivots.length < maxPivots) {
      val n = pivots.length
      val cnt = new Array[Int](n)
      val maxDl = new Array[Double](n)
      val farIdx = Array.fill(n)(-1)
      val cellRadii = Array.fill(n)(scala.collection.mutable.ArrayBuffer[Double]())
      i = 0
      while (i < lPool.length) {
        val c = cell(i)
        cnt(c) += 1
        if (dmin(i) > maxDl(c) || farIdx(c) < 0) { maxDl(c) = dmin(i); farIdx(c) = i }
        cellRadii(c) += radii(i)
        i += 1
      }
      val costs = new Array[Double](n)
      var c = 0
      while (c < n) {
        if (cnt(c) > 0) {
          val rs = cellRadii(c).toArray
          java.util.Arrays.sort(rs)
          val thetaC = math.min(rs(math.min(rs.length - 1, (quantile * rs.length).toInt)), theta)
          val band = maxDl(c) + thetaC
          var admitted = 0; var r = 0
          while (r < rPool.length) {
            if (dist(rPool(r), pivots(c)) <= band) admitted += 1
            r += 1
          }
          costs(c) = cnt(c).toDouble * admitted
        }
        c += 1
      }
      val total = costs.sum
      var cMax = 0
      c = 1
      while (c < n) { if (costs(c) > costs(cMax)) cMax = c; c += 1 }
      if (costs(cMax) <= 2.0 * total / n || cnt(cMax) <= 1 || maxDl(cMax) <= 0.0) return pivots.toIndexedSeq
      val newPivot = lPool(farIdx(cMax))
      pivots += newPivot
      i = 0
      while (i < lPool.length) {
        val d = dist(lPool(i), newPivot)
        if (d < dmin(i)) { cell(i) = n; dmin(i) = d }
        i += 1
      }
    }
    pivots.toIndexedSeq
  }

  /** Per-cell radius quantiles, capped at the global value. `minSamples`
    * gates how many sampled radii a cell needs before its own theta is
    * trusted over the global one, and the RIGHT value depends on the
    * cell geometry — both directions are measured:
    *
    *  - GRID cells (theta-sized) pass 1: samples are uniform over the
    *    lefts, so a cell's sample count is proportional to its left
    *    count — a sparse-sampled cell has few lefts and its
    *    underestimated theta can only starve those few into the exact
    *    rescue, while the dense cluster's cells (many samples, tight
    *    thetas) are exactly the skew discipline. A floor of 8 here
    *    DOUBLED the skew-grid bench (330 cells / 2000 samples left 328
    *    cells on the sparse-sized global theta).
    *  - PIVOT cells (extent-sized, count scaling with ~sqrt(n)) pass 8:
    *    a 1-2-sample cell can hold THOUSANDS of lefts (cells ~ sample
    *    size at scale), so one low sampled radius mass-starves the
    *    whole cell into the starved route (then a retry and a cross
    *    fallback) — the 100x d=4
    *    slice read 402 s / exponent 1.03 without the floor vs 287 s /
    *    0.88 with it. Sparse-sampled pivot cells fall back to the
    *    global theta: wider bands, zero estimation-noise starvation. */
  private[graft] def perCellQuantile[C](
      cells: Array[C], radii: Array[Double], quantile: Double,
      cap: Double, minSamples: Int = 1): Map[C, Double] =
    cells.zip(radii).groupBy(_._1).collect {
      case (c, rs) if rs.length >= minSamples =>
        c -> math.min(quantileOf(rs.map(_._2).sorted, quantile), cap)
    }.toMap

  private[operators] def estimateKnnRadii(
      l: DataFrame, r: DataFrame, lKeys: Seq[String], rKeys: Seq[String],
      k: Int, cap: Int, quantile: Double, safety: Double
  ): (Double, Map[Seq[Long], Double]) = {
    val KnnSample(lPts, radii, _, theta, _, _, _) =
      sampleKnnRadii(l, r, lKeys, rKeys, k, cap, quantile, safety)
    if (lPts.isEmpty) return (theta, Map.empty)
    val gridCell = (p: Array[Double]) => p.toSeq.map(cellId(_, theta))
    (theta, perCellQuantile(lPts.map(gridCell), radii, quantile, theta))
  }

  /** Cell ids of the kNN grid and the PBSM core saturate at ±2^44 cells:
    * past that, `floor(x / side)` loses whole cells to rounding and then
    * overflows the long id. Clamping is monotone and never widens a gap,
    * so cells within one of each other stay within one and far cells
    * only merge — a candidate superset, still exact. */
  private val CellLimit = 1L << 44

  private[operators] def cellId(x: Column, side: Column): Column =
    least(greatest(floor(x / side), lit(-CellLimit)), lit(CellLimit))

  private[operators] def cellId(x: Double, side: Double): Long =
    math.max(-CellLimit, math.min(CellLimit, math.floor(x / side).toLong))

  /** Candidate pairs for the grid kNN join: equi-join on cell id at cell
    * side `theta` (left rows keep their own cell, right rows replicate to
    * the 3^d neighborhood — same shape as `distanceJoin`), filtered to
    * pairs within the LEFT CELL's theta rather than the global one. The
    * per-cell thetas ride in on a broadcast left-outer join against a
    * tiny (<= sampleCap rows) cell→theta table; unseen cells fall back to
    * the global theta.
    *
    * Dense cells are additionally REFINED: a coarse cell whose theta_C is
    * far below the global theta subdivides into rC^d subcells of side
    * theta/rC (rC = floor(theta/theta_C), capped), and the equi-join key
    * becomes (coarse cell, refined cell). This is the density adaptivity
    * the reference gets from STR partitioning (reference:
    * partitioner/STRPartitioner.scala:34-167): without it, a uniform
    * grid sized by the skew-inflated global quantile collapses a dense
    * cluster into ONE cell and the equi-join degenerates to that
    * cluster's cross product. Rights targeting a refined cell (rC > 1)
    * replicate to the 3^d refined neighborhood; rights targeting an
    * unrefined cell keep exactly one copy whose refined id IS the
    * target coarse cell (refined grid == coarse grid there), so uniform
    * regions pay nothing over the pre-refinement plan.
    *
    * Correctness: theta/rC >= theta_C, so for any pair within the left
    * cell's theta_C the per-dimension refined ids differ by at most 1 —
    * the refined 3^d neighborhood still covers every cell's filter ball,
    * and the coarse 3^d neighborhood covers it since theta_C <= theta.
    * A left row with >= k candidates here provably has its true k
    * nearest among them; starved lefts take the caller's exact rescue.
    * Output columns: left ++ right, no internals. */
  private[operators] def gridCandidates(
      l: DataFrame, rt: DataFrame, lKeys: Seq[String], rKeys: Seq[String],
      theta: Double, cellThetas: Map[Seq[Long], Double],
      maxRefine: Int = 64): DataFrame = {
    val dims = lKeys.length
    val spark = l.sparkSession

    def refineOf(th: Double): Int =
      math.max(1, math.min(maxRefine, math.floor(theta / th).toInt))
    val anyRefined = cellThetas.values.exists(refineOf(_) > 1)

    // tiny broadcast table: coarse cell -> (theta_C, rC); unseen cells
    // behave as (theta, 1). Instantiated once per side with that side's
    // column names so every reference below is unqualified — immune to
    // Spark's ambiguous-self-join trap (same discipline as distanceJoin).
    def ctDf(prefix: String, thetaCol: Option[String], rcCol: String): Option[DataFrame] =
      if (cellThetas.isEmpty) None
      else {
        val fields = (0 until dims).map(i =>
          types.StructField(s"${CELL}_$prefix$i", types.LongType, nullable = false)) ++
          thetaCol.map(c => types.StructField(c, types.DoubleType, nullable = false)) :+
          types.StructField(rcCol, types.IntegerType, nullable = false)
        val rows = cellThetas.toSeq.map { case (cell, th) =>
          org.apache.spark.sql.Row.fromSeq(
            cell ++ thetaCol.map(_ => th).toSeq ++ Seq(refineOf(th)))
        }
        Some(spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), types.StructType(fields)))
      }

    // left: own coarse cell, (theta_C, rC) via broadcast, refined ids
    val lCellCols = (0 until dims).map(i => s"${CELL}_lc$i")
    val lCells = lKeys.zipWithIndex.map { case (k, i) =>
      cellId(col(k), lit(theta)).as(s"${CELL}_lc$i")
    }
    val lTagged = l.select(l.columns.map(col) ++ lCells: _*)
    val lWithTheta = ctDf("lc", Some("__graft_ctheta"), "__graft_lrc") match {
      case None => lTagged
        .withColumn("__graft_ctheta", lit(theta))
        .withColumn("__graft_lrc", lit(1))
      case Some(df) => lTagged.join(broadcast(df), lCellCols, "left")
        .withColumn("__graft_ctheta", coalesce(col("__graft_ctheta"), lit(theta)))
        .withColumn("__graft_lrc", coalesce(col("__graft_lrc"), lit(1)))
    }
    val lRefined = lKeys.zipWithIndex.foldLeft(lWithTheta) { case (df, (k, i)) =>
      df.withColumn(s"${CELL}_lf$i",
        cellId(col(k) * col("__graft_lrc"), lit(theta)))
    }

    // right: replicate to the 3^d coarse neighborhood, pick up the
    // TARGET cell's rC via broadcast, then the 3^d refined neighborhood
    // (constant offset array; rows filtered to the zero offset where
    // rC = 1, so uniform regions keep exactly one refined copy)
    val rCellCols = (0 until dims).map(i => s"${CELL}_rc$i")
    val offsets: Seq[Seq[Int]] = Seq.fill(dims)(Seq(-1, 0, 1))
      .foldLeft(Seq(Seq.empty[Int]))((acc, cs) => for (a <- acc; c <- cs) yield a :+ c)
    val offArr = array(offsets.map(o => array(o.map(lit): _*)): _*)
    val rCoarse = rKeys.zipWithIndex.map { case (k, i) =>
      (cellId(col(k), lit(theta)) +
        element_at(col("__graft_off"), i + 1)).as(s"${CELL}_rc$i")
    }
    val rTagged = rt.withColumn("__graft_off", explode(offArr))
      .select(rt.columns.map(col) ++ (rCoarse :+ col("__graft_off")): _*)
    val rWithRc = ctDf("rc", None, "__graft_rrc") match {
      case None => rTagged.withColumn("__graft_rrc", lit(1))
      case Some(df) => rTagged.join(broadcast(df), rCellCols, "left")
        .withColumn("__graft_rrc", coalesce(col("__graft_rrc"), lit(1)))
    }
    // refined offsets: a target cell with rC = 1 has refined grid ==
    // coarse grid, so the ONLY consistent refined offset is the coarse
    // offset itself (one copy, exactly the pre-refinement behavior); a
    // refined target (rC > 1) needs the full 3^d refined neighborhood
    // around the right's own fine cell
    val rRefined0 =
      if (!anyRefined) rWithRc.withColumn("__graft_roff", col("__graft_off"))
      else rWithRc
        .withColumn("__graft_roff", explode(offArr))
        .filter(col("__graft_rrc") > 1 ||
          (0 until dims).map(i => element_at(col("__graft_roff"), i + 1) ===
            element_at(col("__graft_off"), i + 1)).reduce(_ && _))
    val rRefined = rKeys.zipWithIndex.foldLeft(rRefined0) { case (df, (k, i)) =>
      df.withColumn(s"${CELL}_rf$i",
        cellId(col(k) * col("__graft_rrc"), lit(theta)) +
          element_at(col("__graft_roff"), i + 1))
    }

    val joinCond = ((0 until dims).map(i =>
        col(s"${CELL}_lc$i") === col(s"${CELL}_rc$i")) ++
      (0 until dims).map(i =>
        col(s"${CELL}_lf$i") === col(s"${CELL}_rf$i"))).reduce(_ && _)
    val distCond = pointDistance(lKeys.map(col), rKeys.map(col)) <=
      col("__graft_ctheta")

    lRefined.join(rRefined, joinCond && distCond, "inner")
      .select((l.columns ++ rt.columns).map(col): _*)
  }

  /** `l` minus the rows whose `key` appears in `ids`, WITHOUT the
    * LeftAnti operator: Catalyst pushes LeftSemi/LeftAnti joins through
    * Union (PushdownLeftSemiAntiJoin), so when the left table is a
    * many-leg union (daily-partition loads — the 100x trend fixtures)
    * the `ids` subtree re-executes once PER LEG — measured 88 s of a
    * 160 s 2-D 100x pivot join, re-running the candidate-checkpoint
    * aggregation 100 times. The left-outer + null-filter form is
    * semantically identical when `ids` is key-unique (every satisfied-id
    * frame here holds one rank-1 row per left), does not match the
    * pushdown rule, and plans as ONE shuffle-hash join however many legs
    * the left side has (the marks side is hinted: its static size
    * estimate comes from an ExistingRDD and must never elect a
    * table-sized broadcast). */
  private[graft] def minusByKey(l: DataFrame, ids: DataFrame,
                                    key: String): DataFrame =
    l.join(
        ids.select(col(key)).withColumn("__graft_sat", lit(1))
          .hint("shuffle_hash"),
        Seq(key), "left")
      .filter(col("__graft_sat").isNull)
      .drop("__graft_sat")

  /** A counted per-left top-k: see [[topKCounted]]. */
  private[graft] final case class TopK(rows: DataFrame, ids: DataFrame,
                                       nSatisfied: Long)

  private val SatisfiedMetric = "__graft_satisfied"

  /** Per-left top-k of a candidate set, checkpointed and counted in ONE
    * job: `rows` (the top-k rows of every satisfied left — one with >= k
    * candidates), `ids` (those lefts) and `nSatisfied` (how many there
    * are). The candidate set is hash-partitioned on `leftId` once; the
    * rank and the per-left candidate count are one window over that
    * exchange (the count over the full frame counts candidates BEFORE
    * the rank filter), and the checkpoint holds only the kept rows.
    * `rows` and `ids` are filters over the checkpoint, so the build-time
    * job runs the candidate phase exactly once and every later consumer
    * — kept rows, starved split, the query itself — reads its blocks.
    * `nSatisfied` is observed on the kept rows of rank 1 by that same
    * job (`localCheckpoint` runs as an SQL action, so the observed
    * metric arrives with it): the starved count is the input's row count
    * minus it, with no job of its own. `keepDist` keeps `distCol` in
    * `rows` — required when the caller's output projection references
    * the distance (the vector join exposes it as `l2`); the default
    * drops it, matching the spatial verbs whose contract is exactly
    * left++right columns. */
  private[graft] def topKCounted(
      cand: DataFrame, leftId: String, k: Int, tieBreak: Seq[String],
      distCol: String = DIST, keepDist: Boolean = false): TopK = {
    val w = Window.partitionBy(col(leftId))
      .orderBy((col(distCol) +: tieBreak.map(col)).map(_.asc): _*)
    val rn = col("__graft_rn")
    val observed = cand.repartition(col(leftId))
      .withColumn("__graft_rn", row_number().over(w))
      .withColumn("__graft_nc", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(rn <= k && col("__graft_nc") >= k)
      .drop("__graft_nc")
      .observe(SatisfiedMetric, count(when(rn === 1, lit(1))).as("n"))
    val kept = observed.localCheckpoint()
    val n = observed.queryExecution.observedMetrics.getOrElse(SatisfiedMetric,
      throw new IllegalStateException(
        s"kNN top-k checkpoint reported no $SatisfiedMetric metric")).getLong(0)
    val rows = kept.drop("__graft_rn")
    TopK(if (keepDist) rows else rows.drop(distCol),
      kept.filter(rn === 1).select(col(leftId)), n)
  }

  /** `kept` plus `rescue`, the rows of `nStarved` starved lefts —
    * `kept` alone when none is starved, so no rescue plan is built
    * over an empty set. */
  private[graft] def withStarved(kept: DataFrame, nStarved: Long)(
      rescue: => DataFrame): DataFrame = {
    require(nStarved >= 0,
      s"kNN join: $nStarved starved lefts (a left input that changed between passes?)")
    if (nStarved == 0) kept else kept.unionByName(rescue)
  }

  /** Pivots of the rescue pass's Voronoi cells: enough to keep a
    * starved left's replicas and candidates local, few enough that the
    * per-row kernels and the driver's maximin stay trivial. */
  private val RescuePivots = 64

  /** The one rescue pass for starved lefts — Simba's RKJSpark
    * bound-then-refine (reference: RKJSpark.scala:105-110) at a PROVEN
    * per-left bound. `sample` holds left points with `reach`, their
    * exact, unscaled k-th distances to the whole right side. For a left
    * l and any sample point s, the triangle inequality bounds l's k-th
    * distance by `d(l, s) + reach(s)`, so θ_l, the minimum over the
    * sample, leaves no left starved: one pass, no retry, no cross.
    *
    * Rights go to their nearest of <= 64 maximin pivots over the sample
    * ([[graft.functions.pivotArgmin]]); each starved left replicates to
    * the cells that can hold a right within θ_l
    * ([[graft.functions.knnRescue]]); the cell equi-join keeps pairs
    * within θ_l and a plain per-left `row_number <= k` ranks them —
    * every right at or below l's k-th distance is a candidate, so the
    * top-k and its tie-break equal the naive twin's. Built from driver
    * values only, so no job runs until the query does. `lVec`/`rVec`
    * are NULL for rows with a null key: those never join. */
  private[operators] def rescueStarved(
      starved: DataFrame, rt: DataFrame, lVec: Column, rVec: Column, dim: Int,
      vecIsFloat: Boolean, sample: Array[Array[Double]], reach: Array[Double],
      exactDist: Column, lId: String, k: Int, tieBreak: Seq[String],
      outCols: Seq[Column]): DataFrame = {
    val pivots = farthestPointPivots[Array[Double]](sample.toIndexedSeq,
      graft.spatial.Dist.pointToPoint, RescuePivots).flatten.toArray
    val lCells = starved
      .withColumn("__graft_rescue", knnRescue(lVec, sample.flatten, reach, pivots, dim,
        vecIsFloat))
      .withColumn("__graft_theta", col("__graft_rescue.theta"))
      .withColumn("__graft_lvc", explode(col("__graft_rescue.cells")))
      .drop("__graft_rescue")
    val rCells = rt.withColumn("__graft_rvc",
      pivotArgmin(rVec, pivots, dim, vecIsFloat).getField("cell"))
    firstK(lCells.join(rCells, col("__graft_lvc") === col("__graft_rvc"))
      .withColumn("__graft_d", exactDist)
      .filter(col("__graft_d") <= col("__graft_theta")), lId, k, tieBreak, "__graft_d")
      .select(outCols: _*)
  }

  /** [[rescueStarved]] for coordinate-keyed joins: output left ++ right. */
  private[graft] def rescueKeys(
      starved: DataFrame, rt: DataFrame, lKeys: Seq[String], rKeys: Seq[String],
      sample: Array[Array[Double]], reach: Array[Double], k: Int, lId: String,
      tieBreak: Seq[String]): DataFrame =
    rescueStarved(starved, rt, keyVec(lKeys), keyVec(rKeys), lKeys.length,
      vecIsFloat = false, sample, reach, pointDistance(lKeys.map(col), rKeys.map(col)),
      lId, k, tieBreak, (starved.columns ++ rt.columns).map(col))

  /** The shape kNN join's rescue: the PBSM core ([[pbsmJoin]]) with
    * each starved left's bbox dilated by its own proven bound
    * θ_l = min over the left sample s of maxBoxDist(bbox l, bbox s) +
    * reach(s) ([[graft.functions.boxReach]]; reach = `rS.kth`, exact and
    * unscaled), then the θ_l filter and a plain per-left top-k — the
    * [[rescueStarved]] argument with boxes for points. A far outlier's
    * dilated box would cover unboundedly many cells, so the box is
    * clamped to the right side's bbox extent (`rS.extent`, from the
    * stats pass that computed the reaches) and the cell side is at
    * least 1/64 of that extent's span: <= 65² cells per left. `rS`
    * holds at least one right. */
  private[operators] def rescueShapes(
      starved: DataFrame, lShapeCol: String, rt: DataFrame, rShapeCol: String,
      lB: Array[Array[Double]], lN: Long, rB: Array[Array[Double]],
      rS: InputStats[graft.spatial.Shape], k: Int, lId: String,
      tieBreak: Seq[String]): DataFrame = {
    val Seq(lx, ly, hx, hy) = shapeBox(col(lShapeCol))
    val Array(ex0, ey0, ex1, ey1) = rS.extent
    val side = math.max(pbsmSide(lB, lN, rB, rS.count, rS.kth.max),
      math.max(ex1 - ex0, ey1 - ey0) / 64)
    val theta = col("__graft_theta")
    val dist = stDistance(col(lShapeCol), col(rShapeCol))
    val withTheta = starved.withColumn("__graft_theta", boxReach(
      when(col(lShapeCol).isNotNull, array(lx, ly, hx, hy)), lB.flatten, rS.kth))
    firstK(pbsmJoin(withTheta,
        Seq(greatest(lx - theta, lit(ex0)), greatest(ly - theta, lit(ey0)),
          least(hx + theta, lit(ex1)), least(hy + theta, lit(ey1))),
        rt, shapeBox(col(rShapeCol)), 0.0, side, dist <= theta).withColumn(DIST, dist),
      lId, k, tieBreak, DIST)
      .select((starved.columns ++ rt.columns).map(col): _*)
  }

  /** The first `k` rows of each `lId` by (`distCol`, tieBreak). */
  private def firstK(cand: DataFrame, lId: String, k: Int, tieBreak: Seq[String],
                     distCol: String): DataFrame = {
    val w = Window.partitionBy(col(lId))
      .orderBy((col(distCol) +: tieBreak.map(col)).map(_.asc): _*)
    cand.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") <= k)
      .drop("__graft_rn")
  }

  /** Key columns packed as ONE array vector for the compiled pivot
    * kernels (same Euclidean metric as pointDistance — the
    * triangle-inequality bounds need metric consistency); a null in
    * ANY key nulls the whole vector, so those rows never join. */
  private def keyVec(keys: Seq[String]): Column =
    when(keys.map(col(_).isNotNull).reduce(_ && _), array(keys.map(col(_).cast("double")): _*))

  /** Two-level pivot layout for the Voronoi kNN joins' p ∝ n scale
    * route: `coarseFlat` is the G×d coarse-center matrix, `offsets`
    * (length G+1) spans group g's fine-pivot indices in the REORDERED
    * fine matrix ([[buildPivotHierarchy]]). Rides into the compiled
    * kernels as reference objects. */
  private[operators] case class PivotHierarchy(coarseFlat: Array[Double],
                                               offsets: Array[Int])

  /** Pivot budgets above this route through the two-level kernels;
    * at or below it the flat O(p·d)-per-row kernels with maximin +
    * cost-aware-refinement pivot selection are both affordable and
    * better-spread (the measured small-p winner). 256 ≈ where the flat
    * per-row argmin cost crosses the hier route's (G + |group|) ≈ 2√p
    * at the joins' dimensionalities. */
  private[operators] val HierPivotThreshold = 256

  /** Group an (unordered) fine-pivot set under ~√p maximin coarse
    * centers: returns the fine pivots REORDERED group-by-group, the
    * [[PivotHierarchy]] over them, and each reordered fine index's
    * group. Empty groups are dropped (every kernel loop then touches
    * only populated spans). Driver cost O(p·√p·d) distance flops on
    * the already-bounded pivot array — the maximin selection here runs
    * over the p pivots themselves, never a larger pool. */
  private[operators] def buildPivotHierarchy(
      pivots: Array[Array[Double]]
  ): (Array[Array[Double]], PivotHierarchy, Array[Int]) = {
    val p = pivots.length
    val g = math.max(1, math.ceil(math.sqrt(p.toDouble)).toInt)
    val coarse = farthestPointPivots[Array[Double]](pivots.toIndexedSeq,
      graft.spatial.Dist.pointToPoint, g).toArray
    val buckets = Array.fill(coarse.length)(
      scala.collection.mutable.ArrayBuffer[Array[Double]]())
    pivots.foreach { pt =>
      var best = 0; var bd = Double.MaxValue; var i = 0
      while (i < coarse.length) {
        val d = graft.spatial.Dist.pointToPoint(pt, coarse(i))
        if (d < bd) { bd = d; best = i }
        i += 1
      }
      buckets(best) += pt
    }
    val kept = buckets.indices.filter(buckets(_).nonEmpty)
    val reordered = kept.iterator.flatMap(buckets(_)).toArray
    val offsets = new Array[Int](kept.length + 1)
    val fineToGroup = new Array[Int](p)
    var gi = 0
    var at = 0
    kept.foreach { b =>
      offsets(gi) = at
      buckets(b).indices.foreach { _ => fineToGroup(at) = gi; at += 1 }
      gi += 1
    }
    offsets(gi) = at
    val coarseFlat = kept.iterator.flatMap(coarse(_)).toArray
    (reordered, PivotHierarchy(coarseFlat, offsets), fineToGroup)
  }

  /** Per-group admission bands for [[graft.functions.HierPivotAdmitted]]:
    * `groupBand_g = max_i∈g (d(c_g, p_i) + band_i)` over the group's
    * admitting fine cells (-inf when none) — the loosest fine band any
    * vector inside the group's coarse ball could still satisfy, so
    * rejecting on it provably rejects every fine cell in the group. */
  private def hierGroupBands(h: PivotHierarchy, pivotsFlat: Array[Double],
                             bands: Array[Double], dim: Int): Array[Double] = {
    val g = h.offsets.length - 1
    Array.tabulate(g) { gi =>
      var gb = Double.NegativeInfinity
      var i = h.offsets(gi)
      while (i < h.offsets(gi + 1)) {
        if (bands(i) > Double.NegativeInfinity) {
          var acc = 0.0
          var d0 = 0
          while (d0 < dim) {
            val diff = h.coarseFlat(gi * dim + d0) - pivotsFlat(i * dim + d0)
            acc += diff * diff
            d0 += 1
          }
          val cand = math.sqrt(acc) + bands(i)
          if (cand > gb) gb = cand
        }
        i += 1
      }
      gb
    }
  }

  /** Shared core of the pivot (Voronoi) kNN joins — spatial
    * [[DatasetSpatialOps.knnJoinPivot]] and vector
    * `VectorOps.knnJoinVec` plug in their distance expressions:
    * argmin cell assignment over a plan-time pivot array, per-cell
    * triangle-inequality bounds (numPivots rows to the driver),
    * selective right replication into admitting cells, cell equi-join +
    * exact distance filter + windowed top-k, and the caller's `rescue`
    * ([[rescueStarved]]) for starved lefts (correct for any theta).
    * `rescue` must return the FINAL output schema (`outCols`-shaped).
    * The caller handles an empty left.
    *
    * `cellThetas` (1-based pivot cell id -> radius <= theta) filters
    * each cell's candidates at the cell's OWN radius and shrinks its
    * right-admission band to `maxDl_i + theta_i` — the same skew
    * discipline as the grid join's per-cell theta: under heavy density
    * skew the global quantile theta is sized by the sparse region, and a
    * dense cell would otherwise admit nearly the whole right side.
    * Unlisted cells fall back to the global theta.
    *
    * Pivots ride in as ONE flattened p×d reference object inside two
    * codegen'd kernels ([[graft.functions.PivotArgmin]] for left
    * assignment, [[graft.functions.PivotAdmitted]] for right fan-out) —
    * generated code is O(1) in the pivot count and the per-row O(p·d)
    * loop is COMPILED. Two rejected alternatives, both measured: a
    * column per pivot / when-chain per cell made janino compile time
    * the dominant cost past ~32 pivots; the `transform(pivotsLit, …)`
    * HOF form kept the plan small but evaluated interpreted
    * (ArrayTransform is CodegenFallback) — at d=64 its boxed
    * per-element arithmetic dominated the whole join (the r14 b6v/b5hd
    * steady overage). `lVec`/`rVec` must be NULL (not element-null)
    * for rows with no neighbours (a null key). */
  private[operators] def pivotCellKnn(
      l: DataFrame, rt: DataFrame,
      lVec: Column, rVec: Column,
      pivotsFlat: Array[Double], dim: Int, vecIsFloat: Boolean,
      numPivots: Int, theta: Double, exactDist: Column,
      lId: String, k: Int, tieBreak: Seq[String],
      outCols: Seq[Column], rescue: DataFrame => DataFrame,
      cellThetas: Map[Int, Double] = Map.empty,
      hier: Option[PivotHierarchy] = None): DataFrame = {
    // two-level vs flat kernels: same emitted cells/distances; the hier
    // form's assignment is a hierarchical approximation whose bounds
    // stay exact because maxDl is measured from the ACTUAL assignment
    // (see VectorKernels.hierPivotArgmin)
    def argminCol(vec: Column): Column = hier match {
      case Some(h) => graft.functions.hierPivotArgmin(vec, h.coarseFlat,
        pivotsFlat, h.offsets, dim, vecIsFloat)
      case None => graft.functions.pivotArgmin(vec, pivotsFlat, dim, vecIsFloat)
    }
    def admittedCol(vec: Column, bands: Array[Double]): Column = hier match {
      case Some(h) => graft.functions.hierPivotAdmitted(vec, h.coarseFlat,
        pivotsFlat, h.offsets, hierGroupBands(h, pivotsFlat, bands, dim),
        bands, dim, vecIsFloat)
      case None => graft.functions.pivotAdmitted(vec, pivotsFlat, bands, dim,
        vecIsFloat)
    }
    def thetaOf(cell1Based: Int): Double = cellThetas.getOrElse(cell1Based, theta)
    // each left's nearest pivot cell and its distance to that pivot;
    // null-keyed lefts get a null cell
    val lAsg = l
      .withColumn("__graft_asgn", argminCol(lVec))
      .withColumn("__graft_cell", col("__graft_asgn.cell"))
      .withColumn("__graft_dl", col("__graft_asgn.dist"))
      .drop("__graft_asgn")
    // per-cell radius bound (numPivots rows to the driver) and, from the
    // same aggregate, the count of lefts that can starve: the null
    // cell's group holds the null-keyed lefts, which have no neighbours
    val rows = lAsg.groupBy(col("__graft_cell"))
      .agg(max(col("__graft_dl")), count(lit(1))).collect()
      .filterNot(_.isNullAt(0))
    val maxDl = rows.map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val nLeft = rows.map(_.getLong(2)).sum
    // Right rows fan out only to admitting cells; each cell's admission
    // band uses ITS radius, and a left-less cell's -inf band admits
    // nothing (skipped inside the kernel, its rows never materialized).
    // NARROW-PAIR top-k: the admitted (right-row × cell) replicas are
    // eagerly checkpointed with a synthetic row id so the top-k winners
    // can HYDRATE their right payload afterwards — the candidate pairs
    // then ride the top-k machinery (repartition + window + checkpoint)
    // as NARROW (lId, __graft_rrow, dist, tieBreak) rows instead of full
    // left+right width. Measured on the 2-D 100x slice: the wide
    // 35M-pair exchange + checkpoint + sort was the join's dominant term
    // (the candidate VOLUME was already near-optimal at ~23/left) —
    // payload width, not pair count, was the asymptote's constant. The
    // checkpoint (size ~admission-factor·|right|) also pins
    // monotonically_increasing_id, which is only stable once
    // materialized.
    val thetaArr = lit((1 to numPivots).map(thetaOf).toArray)
    val lAug = lAsg.filter(col("__graft_cell").isNotNull)
      .withColumn("__graft_ctheta", element_at(thetaArr, col("__graft_cell")))
    val bands = Array.tabulate(numPivots)(i =>
      maxDl.get(i + 1).map(_ + thetaOf(i + 1)).getOrElse(Double.NegativeInfinity))
    val admitted = rt.withColumn("__graft_rcell", explode(admittedCol(rVec, bands)))
      .withColumn("__graft_rrow", monotonically_increasing_id())
      .localCheckpoint()
    val cand = lAug.join(admitted, col("__graft_cell") === col("__graft_rcell"))
      .withColumn("__graft_d", exactDist)
      .filter(col("__graft_d") <= col("__graft_ctheta"))
    // wide join output narrows INSIDE its stage (project before the
    // exchange — whole-stage codegen never materializes wide pairs);
    // keepDist: outCols may reference __graft_d (the vec join's `l2`)
    val top = topKCounted(
      cand.select(col(lId) +: col("__graft_rrow") +: col("__graft_d") +: tieBreak.map(col): _*),
      lId, k, tieBreak, distCol = "__graft_d", keepDist = true)
    // hydrate the k·|left| winners: left payload by the (unique) lId,
    // right payload by the checkpointed replica id — two bounded
    // equi-joins over RESULT-sized rows, not candidate-sized. BOTH
    // are pinned to shuffle-hash: the payload sides are TABLE-sized,
    // and Spark's static size estimate of a many-leg union of pruned
    // parquet scans can undershoot the broadcast threshold —
    // measured on the d=4 100x slice, the planner broadcast the full
    // 1.5M-row left side and the driver OOM'd building the hashed
    // relation. The hinted side is the per-key-unique build side
    // (~|side|/parts rows per task); no sort, no broadcast,
    // spill-safe.
    val satisfied = top.rows
      .select(col(lId), col("__graft_rrow"), col("__graft_d"))
      .join(l.hint("shuffle_hash"), Seq(lId))
      .join(admitted.drop("__graft_rcell").hint("shuffle_hash"), Seq("__graft_rrow"))
      .select(outCols: _*)
    withStarved(satisfied, nLeft - top.nSatisfied)(rescue(minusByKey(l, top.ids, lId)))
  }

  /** Ensure at least the cluster's default parallelism of partitions on
    * a cross/BNL-join input (guide §2.6 idle capacity): the quadratic
    * baselines stream whichever side is not broadcast at that side's
    * SCAN partitioning, and a small-file table (one parquet split)
    * serializes the entire pair kernel AND the window's map-side sort
    * on one core — measured 1-task stages behind b5_knn_join_naive /
    * b6v / b6_sim_join_exact at sf0.1. No-op when the input already has
    * enough splits (the at-scale case), so nothing is re-shuffled on a
    * big table; results are partitioning-independent either way. */
  private[operators] def spreadForCross(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val target = sess.sparkContext.defaultParallelism
    // Cheap under-split signal (ADVICE r16): the former
    // `queryExecution.toRdd.getNumPartitions` probe forced full physical
    // planning + RDD DAG construction at plan-BUILD time — paid on every
    // naive/cross plan construction. The optimizer size estimate
    // answers the same question
    // without touching the physical layer: a frame at least
    // `cores × maxPartitionBytes` big cannot scan in fewer than `cores`
    // splits (and at that size the quadratic baseline is not latency-
    // bound anyway), so it passes through untouched at scale exactly as
    // before; anything smaller eats one bounded repartition — for
    // small-file tables that is the same spread the probe produced,
    // minus the build-time planning.
    // A leaf at or above `spark.sql.defaultSizeInBytes` has NO stats (a
    // stats-free RDD-backed frame reads as the default, Long.MaxValue):
    // unknown is not big, so it spreads too rather than pass through to
    // a one-core cross product.
    import org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    def bytes(key: String, default: String): Long =
      try byteStringAsBytes(sess.conf.get(key, default))
      catch { case _: Throwable => byteStringAsBytes(default) }
    val maxSplit = bytes("spark.sql.files.maxPartitionBytes", "128m")
    val unknown = bytes("spark.sql.defaultSizeInBytes", s"${Long.MaxValue}b")
    val plan = df.queryExecution.optimizedPlan
    if (plan.stats.sizeInBytes >= BigInt(target) * maxSplit &&
        !plan.collectLeaves().exists(_.stats.sizeInBytes >= unknown)) df
    else df.repartition(target)
  }

  /** Per-axis bbox edge of a 2-D [[graft.spatial.ShapeCodec]] struct
    * column (parity 0 = x, 1 = y). Circles decode as center ± radius.
    * Points, boxes, polygons and segments put the axis' values at the
    * parity-strided positions of `coords` (interleaved (x, y); a 2-D
    * box's [lx, ly, hx, hy] strides the same way), so the axis min/max
    * over the strided slice IS the edge. Tag-5 ring counts and tag-6
    * part headers shift that stride — a collection holding the point
    * (5, 100) encodes as [1, 0, 2, 5, 100] — so those two tags read the
    * edge from the decoded shape's mbr. Shared by the shape joins. */
  private def shapeBBoxEdge(shape: Column, parity: Int, hi: Boolean): Column = {
    val coords = shape.getField("coords")
    val tag = shape.getField("tag")
    val strided = filter(coords, (_, i) => i % 2 === parity)
    val radius = element_at(coords, 3)
    when(tag === lit(graft.spatial.ShapeCodec.TagCircle),
      if (hi) element_at(coords, parity + 1) + radius
      else element_at(coords, parity + 1) - radius)
      .when(tag >= lit(graft.spatial.ShapeCodec.TagPolygonHoles),
        stBBoxEdge(shape, parity, hi))
      .otherwise(if (hi) array_max(strided) else array_min(strided))
  }

  /** A shape column's 2-D bbox as [lx, ly, hx, hy] columns. */
  private[operators] def shapeBox(shape: Column): Seq[Column] =
    Seq(shapeBBoxEdge(shape, 0, hi = false), shapeBBoxEdge(shape, 1, hi = false),
      shapeBBoxEdge(shape, 0, hi = true), shapeBBoxEdge(shape, 1, hi = true))

  /** Joins take no shared column names: every internal and output
    * column is referenced unqualified. */
  private[operators] def requireDisjoint(verb: String, l: DataFrame,
                                         r: DataFrame): Unit =
    requireDisjoint(verb, l.columns.toSeq, r.columns.toSeq)

  private[graft] def requireDisjoint(verb: String, l: Seq[String],
                                     r: Seq[String]): Unit = {
    val shared = l.intersect(r)
    require(shared.isEmpty,
      s"$verb requires disjoint column names, shared: " + shared.mkString(","))
  }

  /** The PBSM core under every shape join (the polygon, intersects and
    * shape-distance joins and the shape kNN candidate phase). Each row
    * explodes to the grid cells of side `side` its bbox covers, the
    * LEFT bbox dilated by `d` per axis (a pair within distance d has
    * per-axis bbox deficits <= d, so the dilated-left and raw right
    * bboxes overlap); the cell equi-join proposes pairs. Overlapping
    * bboxes meet in EVERY shared cell, so duplicates are suppressed
    * with the reference-point method instead of a distinct shuffle: a
    * pair is kept only in the cell holding its bbox intersection's min
    * corner, which lies inside both exploded bboxes, so the pair
    * provably meets there and every other shared cell drops it with a
    * codegen'd compare. `exact` then decides. Boxes are [lx, ly, hx, hy]
    * columns; a point side passes degenerate boxes (one cell each).
    * Exact for any side: a superset grid, the reference point, the
    * exact predicate. Output: the left ++ right columns. */
  private[operators] def pbsmJoin(l: DataFrame, lBox: Seq[Column],
                                  r: DataFrame, rBox: Seq[Column], d: Double,
                                  side: Double, exact: Column): DataFrame = {
    val P = "__graft_pbsm_"
    def cell(c: Column): Column = cellId(c, lit(side))
    def celled(df: DataFrame, box: Seq[Column], s: String): DataFrame = {
      val names = Seq("lx", "ly", "hx", "hy").map(a => s"$P$s$a")
      df.withColumns(names.zip(box).toMap)
        .withColumn(s"${P}cx", explode(sequence(cell(col(names(0))), cell(col(names(2))))))
        .withColumn(s"${P}cy", explode(sequence(cell(col(names(1))), cell(col(names(3))))))
    }
    val Seq(lx, ly, hx, hy) = lBox
    celled(l, Seq(lx - d, ly - d, hx + d, hy + d), "l")
      .join(celled(r, rBox, "r"), Seq(s"${P}cx", s"${P}cy"))
      .filter(cell(greatest(col(s"${P}llx"), col(s"${P}rlx"))) === col(s"${P}cx") &&
        cell(greatest(col(s"${P}lly"), col(s"${P}rly"))) === col(s"${P}cy"))
      .filter(exact)
      .select((l.columns ++ r.columns).map(col): _*)
  }

  /** PBSM cell side from bounded samples of both sides' bboxes and the
    * exact row counts of their tables: the cost model's pick among
    * halvings of max(d, either side's median bbox span). */
  private[operators] def pbsmSide(lB: Array[Array[Double]], lN: Long,
                                  rB: Array[Array[Double]], rN: Long,
                                  d: Double): Double = {
    val s0 = math.max(1e-9, math.max(d, math.max(medianBoxSpan(lB), medianBoxSpan(rB))))
    chooseShapeCellSide(lB, lN.toDouble, rB, rN.toDouble, d, s0)
  }

  /** One [[shapeStats]] pass as sampled bboxes for [[pbsmSide]], plus the
    * table's exact row count. */
  private[operators] def sampleBoxes(df: DataFrame, c: String, cap: Int,
                                     seed: Long): (Array[Array[Double]], Long) = {
    val st = shapeStats(df, c, cap, seed)
    (st.sample.map(sampleBox), st.count)
  }

  /** Sample-driven PBSM cell side for the shape joins (guide §1.2
    * first-principles + §2.3 shuffle-vs-compute): evaluate the
    * replica+pair cost of halvings of the heuristic side `s0` on the
    * bounded driver samples and return the cheapest.
    *
    * Boxes are [lx, ly, hx, hy]; `lDilate` grows the left boxes per
    * axis (the distance joins' r-dilation). `lN`/`rN` scale sampled
    * replica and cell-occupancy counts to full cardinalities, so
    * pairs(S) = Σ_cells nL_c·nR_c estimates the cell equi-join's
    * output. A replica row costs ~an order of magnitude more than a
    * pair (exchange serialize+network+hash insert vs one codegen'd
    * reference-point compare that kills most pairs), hence ReplWeight.
    * A candidate whose sampled per-box fan-out explodes (> 4096 cells)
    * is rejected outright. Deterministic: seeded samples, ties to the
    * largest side. Exactness never depends on the choice. */
  private[operators] def chooseShapeCellSide(
      lBoxes: Array[Array[Double]], lN: Double,
      rBoxes: Array[Array[Double]], rN: Double,
      lDilate: Double, s0: Double): Double = {
    if (lBoxes.isEmpty || rBoxes.isEmpty || !(s0 > 0)) return math.max(s0, 1e-9)
    val ReplWeight = 8.0
    val PerBoxCellCap = 4096L
    def sideCost(s: Double): Double = {
      def occupancy(boxes: Array[Array[Double]], dil: Double, scale: Double):
          Option[(scala.collection.mutable.HashMap[(Long, Long), Double], Double)] = {
        val cells = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
        var repl = 0.0
        var i = 0
        while (i < boxes.length) {
          val b = boxes(i)
          val x0 = cellId(b(0) - dil, s)
          val x1 = cellId(b(2) + dil, s)
          val y0 = cellId(b(1) - dil, s)
          val y1 = cellId(b(3) + dil, s)
          val n = (x1 - x0 + 1).toDouble * (y1 - y0 + 1)
          if (n > PerBoxCellCap) return None
          repl += n
          var x = x0
          while (x <= x1) {
            var y = y0
            while (y <= y1) {
              val k = (x, y)
              cells(k) = cells.getOrElse(k, 0.0) + scale
              y += 1
            }
            x += 1
          }
          i += 1
        }
        Some((cells, repl * scale))
      }
      (occupancy(lBoxes, lDilate, lN / lBoxes.length),
        occupancy(rBoxes, 0.0, rN / rBoxes.length)) match {
        case (Some((lC, lRepl)), Some((rC, rRepl))) =>
          val (small, big) = if (lC.size <= rC.size) (lC, rC) else (rC, lC)
          var pairs = 0.0
          small.foreach { case (k, v) => big.get(k).foreach(pairs += v * _) }
          ReplWeight * (lRepl + rRepl) + pairs
        case _ => Double.MaxValue
      }
    }
    Seq(1.0, 0.5, 0.25, 0.125, 0.0625).map(_ * s0).minBy(sideCost)
  }

  /** 2-D bbox [lx, ly, hx, hy] of a decoded sample shape. */
  private[operators] def sampleBox(sh: graft.spatial.Shape): Array[Double] = {
    val m = sh.mbr
    Array(m.low.coord(0), m.low.coord(1), m.high.coord(0), m.high.coord(1))
  }

  /** Median of the sampled shapes' larger bbox-axis spans — the
    * heuristic cell side, computed from the same sample the cost model
    * consumes. */
  private[operators] def medianBoxSpan(boxes: Array[Array[Double]]): Double =
    if (boxes.isEmpty) 0.0
    else {
      val spans = boxes.map(b => math.max(b(2) - b(0), b(3) - b(1))).sorted
      spans(spans.length / 2)
    }

  /** One input's plan-build statistics, from ONE bounded Spark job:
    * `count` rows with every key non-null; `extent`, when asked for, the
    * 2-D bbox [lx, ly, hx, hy] of every such row. */
  private[graft] final case class InputStats[T](count: Long, sample: Array[T],
                                                kth: Array[Double],
                                                extent: Array[Double] = Array.empty)

  /** The stats pass: every plan-build statistic of one join input from
    * a single `mapPartitionsWithIndex` + `treeAggregate` job over the
    * projection — many aggregates sharing one scan (LMFAO), the
    * count-with-sample of Spark's own RangePartitioner sketch:
    *  - `count`: the exact count of rows with no null key — a row with
    *    a null is skipped;
    *  - `sample`: a UNIFORM bounded sample — the `cap` rows with the
    *    smallest per-row priority, drawn per partition from a
    *    `SplittableRandom` seeded by (seed, partition index). That is the
    *    distribution of `orderBy(rand).limit(cap)`, deterministic for a
    *    fixed seed and partitioning, and partition-blind: a head-biased
    *    `sample(f).limit(cap)` reads the FIRST partitions only, and on
    *    partition-clustered data (any ingest-ordered table) that once
    *    drained 72% of a 10x slice's lefts into one pivot cell and
    *    inflated shape thetas past the data's span. The sample comes in
    *    ascending priority order, so any prefix of it is itself the
    *    uniform sample at that smaller cap;
    *  - `kth`: per probe, the exact k-th smallest `dist(probe, row)` over
    *    EVERY row (the farthest row when the input holds fewer than k
    *    rows; empty when it holds none), folded with the [[mergeInto]]
    *    insertion kernel;
    *  - `extent`: with `box`, the union of every row's 2-D bbox.
    * Per-partition state is bounded — `cap` rows plus |probes| × k
    * doubles — and so is every merge of the tree, so driver memory never
    * scales with the partition count. A row is decoded only when it
    * enters the sample or meets the probes. The RDD fold is deliberate:
    * bounded-state aggregation with a custom merge has no efficient
    * DataFrame form. */
  private def statsPass[T: scala.reflect.ClassTag, P: scala.reflect.ClassTag](
      projected: DataFrame, cap: Int, seed: Long, decode: Row => T,
      probes: Array[P], k: Int, dist: (P, T) => Double,
      box: Option[T => Array[Double]] = None): InputStats[T] = {
    type Part = (Long, Array[(Double, T)], Array[Array[Double]], Array[Double])
    val bc = projected.sparkSession.sparkContext.broadcast(probes)
    val byPriority = Ordering.by[(Double, T), Double](_._1)
    val inf = Double.PositiveInfinity
    def widen(e: Array[Double], b: Array[Double]): Unit = {
      e(0) = math.min(e(0), b(0)); e(1) = math.min(e(1), b(1))
      e(2) = math.max(e(2), b(2)); e(3) = math.max(e(3), b(3))
    }
    def merge(a: Part, b: Part): Part = {
      a._3.zip(b._3).foreach { case (x, y) => y.foreach(mergeInto(x, _)) }
      widen(a._4, b._4)
      (a._1 + b._1, (a._2 ++ b._2).sorted(byPriority).take(cap), a._3, a._4)
    }
    val partials = projected.rdd.mapPartitionsWithIndex { (idx, rows) =>
      val ps = bc.value
      val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + idx)
      val heap = new java.util.PriorityQueue[(Double, T)](
        math.max(cap, 1), byPriority.reverse)
      val best = Array.fill(ps.length)(Array.fill(k)(Double.MaxValue))
      val extent = Array(inf, inf, -inf, -inf)
      var n = 0L
      rows.foreach { row =>
        if (!row.anyNull) {
          n += 1
          val pri = rng.nextDouble()
          val keep = cap > 0 && (heap.size < cap || pri < heap.peek._1)
          if (keep || ps.nonEmpty || box.isDefined) {
            val t = decode(row)
            if (keep) {
              if (heap.size == cap) heap.poll()
              heap.add((pri, t))
            }
            var i = 0
            while (i < ps.length) { mergeInto(best(i), dist(ps(i), t)); i += 1 }
            box.foreach(b => widen(extent, b(t)))
          }
        }
      }
      val sample = Array.fill(heap.size)(heap.poll()).reverse
      Iterator.single[Part]((n, sample, best, extent))
    }
    val zero: Part = (0L, Array.empty[(Double, T)],
      Array.fill(probes.length)(Array.fill(k)(Double.MaxValue)), Array(inf, inf, -inf, -inf))
    val (n, sample, best, extent) = partials.treeAggregate(zero)(merge, merge)
    bc.destroy()
    InputStats(n, sample.map(_._2),
      if (n == 0) Array.empty else best.map(_(math.min(k.toLong, n).toInt - 1)),
      if (box.isDefined && n > 0) extent else Array.empty)
  }

  /** [[statsPass]] over coordinate columns cast to double (rows with a
    * null key skipped); probes are points, distances Euclidean. */
  private[graft] def pointStats(df: DataFrame, keys: Seq[String], cap: Int,
                                seed: Long = 42,
                                probes: Array[Array[Double]] = Array.empty,
                                k: Int = 1): InputStats[Array[Double]] = {
    val dims = keys.length
    statsPass[Array[Double], Array[Double]](
      df.select(keys.map(c => col(c).cast("double")): _*),
      cap, seed, row => Array.tabulate(dims)(row.getDouble), probes, k,
      graft.spatial.Dist.pointToPoint)
  }

  /** Euclidean distance of two float vectors, accumulated in double —
    * the `l2Distance` kernel's arithmetic. */
  private[operators] def l2(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1
    }
    math.sqrt(acc)
  }

  /** [[statsPass]] over an `array<float>` vector column (null vectors
    * skipped); probes are vectors, distances [[l2]]. */
  private[graft] def vecStats(df: DataFrame, c: String, cap: Int,
                              probes: Array[Array[Float]] = Array.empty,
                              k: Int = 1): InputStats[Array[Float]] =
    statsPass[Array[Float], Array[Float]](df.select(col(c)), cap, seed = 42,
      row => row.getSeq[Float](0).toArray, probes, k, l2)

  /** [[statsPass]] over a ShapeCodec struct column (null shapes
    * skipped), sampled rows decoded to ADT shapes; probes are shapes,
    * distances the exact `minDist`; `extent` asks for the shapes' bbox
    * extent. */
  private[graft] def shapeStats(df: DataFrame, c: String, cap: Int, seed: Long,
                                probes: Array[graft.spatial.Shape] = Array.empty,
                                k: Int = 1,
                                extent: Boolean = false): InputStats[graft.spatial.Shape] =
    statsPass[graft.spatial.Shape, graft.spatial.Shape](
      df.select(col(s"$c.tag"), col(s"$c.coords")), cap, seed,
      row => graft.spatial.ShapeCodec.decode(row.getInt(0), row.getSeq[Double](1).toArray),
      probes, k, (p, s) => p.minDist(s), if (extent) Some(sampleBox) else None)
}
