package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.operators.SpatialOps._

/** The spatial query surface (SURVEY.md §2.1 operators #1-5), each
  * declared through the SpatialOps verbs and checked against a DuckDB
  * oracle expressing the documented brute-force equivalence (the
  * reference documents the box-range/conjunctive-filter equivalence at
  * DataSet.scala:50-55; circle = distance filter; kNN = sort+limit;
  * joins = cross-join + filter/window).
  *
  * Coordinates follow FIXTURES.md: customer (cx, cy) =
  * (c_acctbal, c_custkey % 1000); supplier (sx, sy) likewise.
  */
object Spatial {

  // Shared literals — chosen against the seeded data distribution:
  // cx in [-994, 9997], cy in [0, 999].
  private val boxLow = Seq(2000.0, 100.0)
  private val boxHigh = Seq(4000.0, 300.0)
  private val center = Seq(5000.0, 500.0)
  private val circleR = 500.0
  private val knnK = 10
  private val joinR = 100.0
  private val knnJoinK = 3

  def boxRange(s: SparkSession, d: String): DataFrame =
    customerPts(s, d)
      .boxRange(Seq("cx", "cy"), boxLow, boxHigh)
      .orderBy(col("c_custkey"))

  def circleRange(s: SparkSession, d: String): DataFrame =
    customerPts(s, d)
      .circleRange(Seq("cx", "cy"), center, circleR)
      .orderBy(col("c_custkey"))

  /** Box range answered DIRECTLY from the at-rest layout
    * (graft.index.SpatialDisk): the table writes once as
    * cell-partitioned z-sorted parquet, the query prunes directories
    * (PartitionFilters) and row groups before the exact predicate —
    * identical results to the in-memory verb, so the oracle IS the
    * plain range SQL. */
  def diskBoxRange(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
    graft.index.SpatialDisk.write(customerPts(s, d), path, Seq("cx", "cy"))
    graft.index.SpatialDisk.boxRange(s, path, boxLow.toArray, boxHigh.toArray)
      .orderBy(col("c_custkey"))
  }

  /** kNN from the same at-rest layout: guaranteed-radius cell walk on
    * the meta's true per-cell stats, one pruned circle scan + top-k.
    * Same oracle as the in-memory kNN. */
  def diskKnn(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
    graft.index.SpatialDisk.write(customerPts(s, d), path, Seq("cx", "cy"))
    graft.index.SpatialDisk.knn(s, path, center.toArray, knnK, Seq("c_custkey"))
      .orderBy(col("c_custkey"))
  }

  /** Distance join of the supplier points against the customer layout:
    * left rows explode to their dilated-bbox cells, the cell equi-join
    * meets each pair once, and only left-reachable directories are
    * read. Same pairs as the in-memory grid join. */
  def diskDistanceJoin(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_dj_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
    graft.index.SpatialDisk.write(customerPts(s, d), path, Seq("cx", "cy"))
    graft.index.SpatialDisk.distanceJoin(supplierPts(s, d), Seq("sx", "sy"),
        path, joinR)
      .select(col("c_custkey"), col("s_suppkey"))
      .orderBy(col("c_custkey"), col("s_suppkey"))
  }

  /** The 1-D degenerate form of the at-rest layout IS a temporal range
    * index: events land in the parquet directory of their coarse TIME
    * cell, z-sorted (= time-sorted) within it, and a time-range query
    * prunes day-directories before reading a byte. Same machinery, one
    * axis — the layout is dimension-general by construction. */
  def diskTimeRange(s: SparkSession, d: String): DataFrame = {
    import graft.Tables.eventsPts
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_t_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
    val ev = eventsPts(s, d).select(col("event_id"),
      unix_millis(col("ts")).cast("double").as("tms"))
    graft.index.SpatialDisk.write(ev, path, Seq("tms"), cellBits = 6)
    val t0 = ev.agg(min(col("tms"))).head().getDouble(0)
    graft.index.SpatialDisk.boxRange(s, path,
        Array(t0 + 86400000.0), Array(t0 + 259200000.0))
      .orderBy(col("event_id"))
  }

  /** RETENTION purge on the 1-D time layout: everything BEFORE the
    * cutoff (first two days) tombstone-deletes through
    * [[graft.index.SpatialDisk.deleteBox]] — the time-series shape
    * ("drop data older than T") as an O(expired-region) located wave,
    * never a layout rewrite — and the remaining-events query must
    * equal the plain SQL over rows at-or-after the cutoff. */
  def diskRetention(s: SparkSession, d: String): DataFrame = {
    import graft.Tables.eventsPts
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_ret_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
    val ev = eventsPts(s, d).select(col("event_id"),
      unix_millis(col("ts")).cast("double").as("tms"))
    graft.index.SpatialDisk.write(ev, path, Seq("tms"), cellBits = 6)
    val t0 = ev.agg(min(col("tms"))).head().getDouble(0)
    // expire [t0, t0 + 2 days): the half-open edge rides the written
    // values being integral millis — the cutoff lands between them
    graft.index.SpatialDisk.deleteBox(s, path, Array(t0),
      Array(t0 + 172799999.0), "event_id")
    graft.index.SpatialDisk.boxRange(s, path,
        Array(-1.0e18), Array(1.0e18))
      .orderBy(col("event_id"))
  }

  /** kNN join where the RIGHT side is the at-rest layout: per-left
    * radii from the meta's true cell stats, dilated-cell explode,
    * pruned directory scan, counted top-k + the proven rescue pass.
    * Same results as the in-memory kNN join with the sides swapped, so
    * the oracle is the plain window SQL partitioned by the left id. */
  def diskKnnJoin(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_kj_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
    graft.index.SpatialDisk.write(customerPts(s, d), path, Seq("cx", "cy"))
    graft.index.SpatialDisk.knnJoin(supplierPts(s, d), Seq("sx", "sy"), path,
        knnJoinK, leftId = "s_suppkey", tieBreak = Seq("c_custkey"))
      .select(col("c_custkey"), col("s_suppkey"))
      .orderBy(col("c_custkey"), col("s_suppkey"))
  }

  /** Polygon × point distance join: 25 nation-derived rectangles run
    * as GENUINE polygon structs through the shape codec (grid cells
    * from each polygon's dilated bbox, exact codegen'd polygon
    * distance — point-in-polygon else min segment distance — refines),
    * against the customer points at r = 100.37. Rectangles keep the
    * oracle honest: DuckDB replays the SAME predicate in closed
    * axis-distance form. */
  def polygonDistanceJoinQ(s: SparkSession, d: String): DataFrame = {
    import graft.spatial.ShapeCodec
    val cx = col("n_nationkey").cast("double") * 400.0
    val cy = col("n_nationkey").cast("double") * 40.0
    val polys = nation(s, d).select(col("n_nationkey"),
      struct(lit(ShapeCodec.TagPolygon).as("tag"),
        array(cx - 150.0, cy - 20.0, cx + 150.0, cy - 20.0,
          cx + 150.0, cy + 20.0, cx - 150.0, cy + 20.0).as("coords"))
        .as("poly"))
    polys.polygonDistanceJoin(customerPts(s, d), "poly", Seq("cx", "cy"),
        100.37)
      .select(col("n_nationkey"), col("c_custkey"))
      .orderBy(col("n_nationkey"), col("c_custkey"))
  }

  /** Shape × shape INTERSECTION join (PBSM, reference-point dedup):
    * nation-derived rectangles against supplier-derived rectangles,
    * both as genuine MBR structs through the shape codec. Rectangle ×
    * rectangle intersection is pure interval comparisons, so the
    * oracle replays the predicate exactly — no float kernels, no
    * parity risk. */
  def shapeIntersectsJoinQ(s: SparkSession, d: String): DataFrame = {
    import graft.spatial.ShapeCodec
    val ncx = col("n_nationkey").cast("double") * 400.0
    val ncy = col("n_nationkey").cast("double") * 40.0
    val lboxes = nation(s, d).select(col("n_nationkey"),
      struct(lit(ShapeCodec.TagMBR).as("tag"),
        array(ncx - 150.0, ncy - 20.0, ncx + 150.0, ncy + 20.0).as("coords"))
        .as("lbox"))
    val rboxes = supplierPts(s, d).select(col("s_suppkey"),
      struct(lit(ShapeCodec.TagMBR).as("tag"),
        array(col("sx") - 500.0, col("sy") - 80.0,
          col("sx") + 500.0, col("sy") + 80.0).as("coords")).as("rbox"))
    lboxes.shapeIntersectsJoin(rboxes, "lbox", "rbox")
      .select(col("n_nationkey"), col("s_suppkey"))
      .orderBy(col("n_nationkey"), col("s_suppkey"))
  }

  /** Spatio-temporal co-location join: event pairs within 5 spatial
    * units AND 5 minutes — time rides as one more grid axis (a single
    * equi-join on spatial cells + the integer-ms time cell; both exact
    * predicates refine). */
  def spatioTemporalJoinQ(s: SparkSession, d: String): DataFrame = {
    import graft.Tables.eventsPts
    val l = eventsPts(s, d)
    val rSide = eventsPts(s, d).select(col("event_id").as("event_id2"),
      col("ts").as("ts2"), col("ex").as("ex2"), col("ey").as("ey2"))
    l.spatioTemporalJoin(rSide, Seq("ex", "ey"), Seq("ex2", "ey2"),
        "ts", "ts2", r = 5.0, dtMillis = 300000L)
      .filter(col("event_id") < col("event_id2"))
      .select(col("event_id"), col("event_id2"))
      .orderBy(col("event_id"), col("event_id2"))
  }

  /** The at-rest layout through SQL: the graft_disk_box_range TVF
    * builds the same pruned-scan plan as the Scala verb. */
  def diskBoxSqlQ(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_sql_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
    graft.index.SpatialDisk.write(customerPts(s, d), path, Seq("cx", "cy"))
    graft.plans.GraftExtensions.registerFunctions(s)
    s.sql(
      s"""SELECT * FROM graft_disk_box_range('$path',
         |  '2000.0,100.0', '4000.0,300.0')
         |ORDER BY c_custkey""".stripMargin)
  }

  /** The append path under the oracle: half the table writes, the rest
    * arrives as an ingest wave, and the box query over the combined
    * layout must equal the plain box SQL over the whole table. */
  def diskAppendBox(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_app_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
    val pts = customerPts(s, d)
    graft.index.SpatialDisk.write(
      pts.filter(col("c_custkey") % 2 === 0), path, Seq("cx", "cy"))
    graft.index.SpatialDisk.append(
      pts.filter(col("c_custkey") % 2 =!= 0), path)
    // compact the two write waves into a fresh generation before the
    // query — the oracle gate exercises the whole at-rest lifecycle
    // (write -> append -> compact -> query) every sweep
    graft.index.SpatialDisk.compact(path, s)
    graft.index.SpatialDisk.boxRange(s, path, boxLow.toArray, boxHigh.toArray)
      .orderBy(col("c_custkey"))
  }

  /** Delete-parity for the at-rest spatial layout: write half, append
    * the rest, tombstone-delete every custkey ending in 3, then the
    * box query — the layout must answer exactly as a from-scratch
    * build on the survivors, so the oracle is the plain box SQL with
    * the survivor predicate. */
  def diskDeleteBox(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_del_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
    val pts = customerPts(s, d)
    graft.index.SpatialDisk.write(
      pts.filter(col("c_custkey") % 2 === 0), path, Seq("cx", "cy"))
    graft.index.SpatialDisk.append(
      pts.filter(col("c_custkey") % 2 =!= 0), path)
    graft.index.SpatialDisk.delete(s, path,
      pts.filter(col("c_custkey") % 10 === 3).select("c_custkey"),
      "c_custkey")
    graft.index.SpatialDisk.boxRange(s, path, boxLow.toArray, boxHigh.toArray)
      .orderBy(col("c_custkey"))
  }

  /** LOCATED delete-parity: the purge wave carries the written
    * coordinates, so [[graft.index.SpatialDisk.deleteAt]] verifies
    * presence against ONLY the claimed cell directories (O(wave), never
    * the ids-only verb's O(table) (id, cell) pass) — and the box query
    * must still answer exactly as a from-scratch build on the
    * survivors. */
  def diskDeleteAtBox(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_delat_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
    val pts = customerPts(s, d)
    graft.index.SpatialDisk.write(pts, path, Seq("cx", "cy"))
    graft.index.SpatialDisk.deleteAt(s, path,
      pts.filter(col("c_custkey") % 10 === 7)
        .select("c_custkey", "cx", "cy"),
      "c_custkey")
    graft.index.SpatialDisk.boxRange(s, path, boxLow.toArray, boxHigh.toArray)
      .orderBy(col("c_custkey"))
  }

  /** kNN over the located-tombstoned layout: the stats-walk's
    * guaranteed radii stand on the EXACT decrements the verified
    * presence pass counted — the oracle (exact top-k over the
    * survivors) pins that. */
  def diskDeleteAtKnn(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_delatk_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
    val pts = customerPts(s, d)
    graft.index.SpatialDisk.write(pts, path, Seq("cx", "cy"))
    graft.index.SpatialDisk.deleteAt(s, path,
      pts.filter(col("c_custkey") % 10 === 7)
        .select("c_custkey", "cx", "cy"),
      "c_custkey")
    graft.index.SpatialDisk.knn(s, path, center.toArray, knnK,
        Seq("c_custkey"))
      .orderBy(col("c_custkey"))
  }

  /** Both delete verbs composed on one layout — an ids-only wave
    * (custkeys ending in 3) and a located wave (ending in 7) — then a
    * compact folds both kinds, and the box query must equal the plain
    * SQL over the double-survivor set. */
  def diskDeleteMixed(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_delmix_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
    val pts = customerPts(s, d)
    graft.index.SpatialDisk.write(pts, path, Seq("cx", "cy"))
    graft.index.SpatialDisk.delete(s, path,
      pts.filter(col("c_custkey") % 10 === 3).select("c_custkey"),
      "c_custkey")
    graft.index.SpatialDisk.deleteAt(s, path,
      pts.filter(col("c_custkey") % 10 === 7)
        .select("c_custkey", "cx", "cy"),
      "c_custkey")
    graft.index.SpatialDisk.compact(path, s)
    graft.index.SpatialDisk.boxRange(s, path, boxLow.toArray, boxHigh.toArray)
      .orderBy(col("c_custkey"))
  }

  /** REGION purge under the oracle: every point inside the standard
    * box is tombstone-deleted ([[graft.index.SpatialDisk.deleteBox]] —
    * the delete-by-jurisdiction shape, O(region) through the pruned
    * query path), then a WIDER box query must equal the plain SQL over
    * the complement. */
  def diskDeleteBoxRegion(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_delbx_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
    val pts = customerPts(s, d)
    graft.index.SpatialDisk.write(pts, path, Seq("cx", "cy"))
    graft.index.SpatialDisk.deleteBox(s, path, boxLow.toArray,
      boxHigh.toArray, "c_custkey")
    graft.index.SpatialDisk.boxRange(s, path, Array(0.0, 0.0),
        Array(6000.0, 600.0))
      .orderBy(col("c_custkey"))
  }

  /** [[diskDeleteBoxRegion]]'s circle twin: purge the disk around the
    * center, query a box around it — the oracle is the box SQL with
    * the EXACT same-IEEE-shape circle predicate negated. */
  def diskDeleteCircleRegion(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_delcr_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
    val pts = customerPts(s, d)
    graft.index.SpatialDisk.write(pts, path, Seq("cx", "cy"))
    graft.index.SpatialDisk.deleteCircle(s, path, center.toArray, 500.0,
      "c_custkey")
    graft.index.SpatialDisk.boxRange(s, path, Array(4000.0, 0.0),
        Array(6000.0, 1000.0))
      .orderBy(col("c_custkey"))
  }

  /** kNN over the tombstoned layout: the stats-walk's guaranteed radius
    * stands on the per-cell counts the delete DECREMENTED — the oracle
    * (exact top-k over the survivors) is what pins that guarantee. */
  def diskDeleteKnn(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_delk_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
    val pts = customerPts(s, d)
    graft.index.SpatialDisk.write(pts, path, Seq("cx", "cy"))
    graft.index.SpatialDisk.delete(s, path,
      pts.filter(col("c_custkey") % 10 === 3).select("c_custkey"),
      "c_custkey")
    graft.index.SpatialDisk.knn(s, path, center.toArray, knnK,
        Seq("c_custkey"))
      .orderBy(col("c_custkey"))
  }

  /** Distance join of a query set against the TOMBSTONED layout: the
    * anti-join rides the pruned candidate scan, so the join answers
    * exactly as against a from-scratch build on the survivors. */
  def diskDeleteJoin(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_delj_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
    val pts = customerPts(s, d)
    graft.index.SpatialDisk.write(pts, path, Seq("cx", "cy"))
    graft.index.SpatialDisk.delete(s, path,
      pts.filter(col("c_custkey") % 10 === 3).select("c_custkey"),
      "c_custkey")
    graft.index.SpatialDisk.distanceJoin(supplierPts(s, d), Seq("sx", "sy"),
        path, joinR)
      .select(col("c_custkey"), col("s_suppkey"))
      .orderBy(col("c_custkey"), col("s_suppkey"))
  }

  // Diamond |(x-5000)/2000.37| + |(y-500)/300.13| <= 1 — a convex polygon
  // whose containment is also expressible as one SQL inequality, giving
  // the general ray-casting kernel an exact relational oracle. Fractional
  // half-axes keep data points off the boundary's float-error band.
  private val diamond = graft.spatial.Polygon(
    (5000.0 - 2000.37, 500.0), (5000.0, 500.0 - 300.13),
    (5000.0 + 2000.37, 500.0), (5000.0, 500.0 + 300.13))

  def polygonRange(s: SparkSession, d: String): DataFrame =
    customerPts(s, d)
      .polygonRange(Seq("cx", "cy"), diamond)
      .orderBy(col("c_custkey"))

  // The diamond with a smaller concentric diamond HOLE: containment is
  // outer-inclusive AND NOT strictly-inside-hole, each side a closed-form
  // SQL inequality (hole-boundary points stay IN, so the oracle negates
  // the STRICT inner inequality). Fractional half-axes keep data points
  // off both boundaries' float-error bands, as in [[diamond]].
  private val holedDiamond = graft.spatial.Polygon(
    Array(graft.spatial.Point(5000.0 - 2000.37, 500.0),
      graft.spatial.Point(5000.0, 500.0 - 300.13),
      graft.spatial.Point(5000.0 + 2000.37, 500.0),
      graft.spatial.Point(5000.0, 500.0 + 300.13)),
    Array(Array(graft.spatial.Point(5000.0 - 1000.19, 500.0),
      graft.spatial.Point(5000.0, 500.0 - 150.07),
      graft.spatial.Point(5000.0 + 1000.19, 500.0),
      graft.spatial.Point(5000.0, 500.0 + 150.07))))

  /** Range query against a polygon WITH an interior ring — the
    * lakes-in-parcels shape every real GIS corpus carries (reference:
    * spatial/Polygon.scala:32-38 via JTS, which is hole-aware). Same
    * codegen'd single-scan plan as [[polygonRange]]; the ring kernel is
    * [[graft.spatial.Dist.pointInPolygonRings]]. */
  def polygonHolesRange(s: SparkSession, d: String): DataFrame =
    customerPts(s, d)
      .polygonRange(Seq("cx", "cy"), holedDiamond)
      .orderBy(col("c_custkey"))

  /** Range query against a MULTIPOLYGON — two disjoint diamonds, the
    * archipelago/admin-boundary shape (reference: via JTS readers,
    * spatial/Polygon.scala:106-124, which parse Multi* types). The
    * query shape deliberately arrives as WKT TEXT so the entry
    * exercises parse -> ShapeCollection -> struct encode -> codegen'd
    * intersects end-to-end; containment per part is the same diamond
    * inequality as [[polygonRange]], OR'd in the oracle. */
  def multiPolygonRange(s: SparkSession, d: String): DataFrame = {
    import graft.functions._
    import graft.operators.SpatialOps._
    val mp = graft.spatial.Wkt.parse(
      "MULTIPOLYGON (((2999.63 500, 5000 199.87, 7000.37 500, 5000 800.13)), " +
        "((7499.71 300, 9000 99.89, 10500.29 300, 9000 500.11)))")
    customerPts(s, d)
      .withColumn("__pt", stPoint(col("cx"), col("cy")))
      .shapeRange("__pt", mp)
      .drop("__pt")
      .orderBy(col("c_custkey"))
  }

  def knn(s: SparkSession, d: String): DataFrame =
    customerPts(s, d)
      .knn(Seq("cx", "cy"), center, knnK, tieBreak = Seq("c_custkey"))
      .orderBy(col("c_custkey"))

  /** Grid distance join (one equi-join shuffle, no cross product). */
  def distanceJoin(s: SparkSession, d: String): DataFrame =
    customerPts(s, d)
      .distanceJoin(supplierPts(s, d), Seq("cx", "cy"), Seq("sx", "sy"), joinR)
      .select(col("c_custkey"), col("s_suppkey"))
      .orderBy(col("c_custkey"), col("s_suppkey"))

  /** Distance join, conf-selected algorithm (auto -> broadcast here: the
    * supplier side is small, so the grid equi-join's right side ships to
    * executors and the customer side never shuffles). */
  def distanceJoinBc(s: SparkSession, d: String): DataFrame =
    customerPts(s, d)
      .distanceJoinAuto(supplierPts(s, d), Seq("cx", "cy"), Seq("sx", "sy"), joinR)
      .select(col("c_custkey"), col("s_suppkey"))
      .orderBy(col("c_custkey"), col("s_suppkey"))

  /** The grid distance join through the SQL surface: the
    * `graft_distance_join` table-valued function builds the SAME plan
    * as the DataFrame verb, called from `spark.sql` over temp views. */
  def distanceJoinSqlQ(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.registerFunctions(s)
    customerPts(s, d).createOrReplaceTempView("graft_sql_cust_pts")
    supplierPts(s, d).createOrReplaceTempView("graft_sql_supp_pts")
    s.sql(
      """SELECT c_custkey, s_suppkey
        |FROM graft_distance_join('graft_sql_cust_pts', 'graft_sql_supp_pts',
        |                         'cx,cy', 'sx,sy', 100.0)
        |ORDER BY c_custkey, s_suppkey""".stripMargin)
  }

  /** The grid kNN join through the SQL surface (`graft_knn_join` TVF). */
  def knnJoinSqlQ(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.registerFunctions(s)
    customerPts(s, d).createOrReplaceTempView("graft_sql_cust_pts")
    supplierPts(s, d).createOrReplaceTempView("graft_sql_supp_pts")
    s.sql(
      """SELECT c_custkey, s_suppkey
        |FROM graft_knn_join('graft_sql_cust_pts', 'graft_sql_supp_pts',
        |                    'cx,cy', 'sx,sy', 3, 'c_custkey', 's_suppkey')
        |ORDER BY c_custkey, s_suppkey""".stripMargin)
  }

  /** Exact kNN join (bounded-radius grid + fallback). */
  def knnJoin(s: SparkSession, d: String): DataFrame =
    customerPts(s, d)
      .knnJoin(supplierPts(s, d), Seq("cx", "cy"), Seq("sx", "sy"),
        knnJoinK, leftId = "c_custkey", tieBreak = Seq("s_suppkey"))
      .select(col("c_custkey"), col("s_suppkey"))
      .orderBy(col("c_custkey"), col("s_suppkey"))

  /** The cost-gated AUTO verb under the oracle: the bounded sample
    * routes grid vs pivot (grid here — 2-D, measured-best on both
    * bench fixtures), and whichever algorithm runs must answer the
    * same window SQL. */
  def knnJoinAutoQ(s: SparkSession, d: String): DataFrame = {
    s.conf.set(graft.GraftConf.KnnJoinAlgo, "auto")
    try customerPts(s, d)
      .knnJoinAuto(supplierPts(s, d), Seq("cx", "cy"), Seq("sx", "sy"),
        knnJoinK, leftId = "c_custkey", rightId = "s_suppkey",
        tieBreak = Seq("s_suppkey"))
      .select(col("c_custkey"), col("s_suppkey"))
      .orderBy(col("c_custkey"), col("s_suppkey"))
    finally s.conf.unset(graft.GraftConf.KnnJoinAlgo)
  }

  /** Per-segment bounding box of customer points via the typed
    * Aggregator UDAF (map-side-combining min/max buffer). */
  def boundsBySegment(s: SparkSession, d: String): DataFrame = {
    import graft.functions.BoundsAggregator
    val bounds = udaf(BoundsAggregator)
    customer(s, d)
      .select(col("c_mktsegment"),
        col("c_acctbal").as("cx"),
        (col("c_custkey") % 1000).cast("double").as("cy"))
      .groupBy(col("c_mktsegment"))
      .agg(bounds(col("cx"), col("cy")).as("box"))
      .select(col("c_mktsegment"),
        col("box.xmin").as("xmin"), col("box.ymin").as("ymin"),
        col("box.xmax").as("xmax"), col("box.ymax").as("ymax"))
      .orderBy(col("c_mktsegment"))
  }

  /** Segment-distance range: customers within 150 of the diagonal
    * segment (2000,100)->(8000,900). */
  def segmentRangeQ(s: SparkSession, d: String): DataFrame =
    customerPts(s, d)
      .segmentRange(Seq("cx", "cy"), (2000.0, 100.0), (8000.0, 900.0), 150.0)
      .orderBy(col("c_custkey"))

  /** Spatio-temporal selection: spatial box + time window over the
    * events stream table — the layer the reference lists as "developing"
    * and never shipped (reference README.md:22-24; SURVEY.md §2.5). Pure
    * composition: both predicates are pushdown-able conjuncts. */
  def spatioTemporal(s: SparkSession, d: String): DataFrame =
    eventsPts(s, d)
      .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      .boxRange(Seq("ex", "ey"), Seq(100.0, 40.0), Seq(300.0, 110.0))
      .select(col("event_id"), col("ex"), col("ey"),
        unix_millis(col("ts")).as("ts_ms"))
      .orderBy(col("event_id"))

  /** Mixed-geometry Shape column range query: customers carry a point, a
    * box, or a circle depending on key (struct-encoded tagged union), and
    * the query keeps rows whose shape intersects a query box — the
    * reference's ShapeType-column API form (reference: ShapeType.scala:27-41,
    * DataSet.scala:56-78). The oracle re-derives each geometry's
    * box-intersection predicate from the same raw columns, CASE'd on tag. */
  def shapeColumnRange(s: SparkSession, d: String): DataFrame = {
    import graft.functions._
    import graft.operators.SpatialOps._
    val c = customerPts(s, d)
    val shape = when(col("c_custkey") % 3 === 0, stPoint(col("cx"), col("cy")))
      .when(col("c_custkey") % 3 === 1,
        stBox(Seq(col("cx") - 50.0, col("cy") - 20.0),
              Seq(col("cx") + 50.0, col("cy") + 20.0)))
      .otherwise(stCircle(Seq(col("cx"), col("cy")),
        lit(30.0) + (col("c_custkey") % 50).cast("double")))
    c.withColumn("shape", shape)
      .shapeRange("shape", graft.spatial.MBR(
        graft.spatial.Point(boxLow: _*), graft.spatial.Point(boxHigh: _*)))
      .select(col("c_custkey"), col("shape.tag").as("shape_tag"))
      .orderBy(col("c_custkey"))
  }

  /** kNN membership composed under boolean connectives — the reference's
    * `knn AND p` / `NOT knn` / `knn OR p` filter surface evaluated by set
    * algebra (reference: execution/FilterExec.scala:48-65): customers of
    * the 50 nearest the center with cy >= 200, together with far-out
    * (cx >= 9900) customers NOT among those 50. */
  def knnPredicateQ(s: SparkSession, d: String): DataFrame = {
    import graft.operators.SpatialPredicate._
    val near50 = inKnn(Seq("cx", "cy"), center, 50, tieBreak = Seq("c_custkey"))
    customerPts(s, d)
      .spatialFilter((near50 && cond(col("cy") >= 200.0)) ||
        (!near50 && cond(col("cx") >= 9900.0)))
      .orderBy(col("c_custkey"))
  }

  /** WKT text I/O round trip in the hot path: customer points format to
    * WKT, parse back, and filter by box intersection — the result must
    * equal the plain box-range oracle exactly, proving format/parse are
    * lossless (reference interop surface: spatial/Polygon.scala:106-124
    * via JTS WKTReader/Writer). */
  def wktRoundTripQ(s: SparkSession, d: String): DataFrame = {
    import graft.functions._
    customerPts(s, d)
      .withColumn("wkt", stAsWkt(stPoint(col("cx"), col("cy"))))
      .filter(stIntersects(stFromWkt(col("wkt")),
        stShape(graft.spatial.MBR(
          graft.spatial.Point(boxLow: _*), graft.spatial.Point(boxHigh: _*)))))
      .select(col("c_custkey"), col("cx"), col("cy"))
      .orderBy(col("c_custkey"))
  }

  /** Any-Shape distance join: nation-derived RECTANGLES as genuine
    * ShapeCodec MBR structs against customer POINT structs at
    * r = 100.37 — the reference's shape-keyed join surface
    * (util/ShapeUtils.scala:54-71). Rectangle keys keep the oracle
    * honest: MBR×point minDist is the closed axis-deficit form DuckDB
    * replays bit-for-bit (the sp_polygon_join discipline). */
  def shapeDistanceJoinQ(s: SparkSession, d: String): DataFrame = {
    import graft.spatial.ShapeCodec
    val cx = col("n_nationkey").cast("double") * 400.0
    val cy = col("n_nationkey").cast("double") * 40.0
    val boxes = nation(s, d).select(col("n_nationkey"),
      struct(lit(ShapeCodec.TagMBR).as("tag"),
        array(cx - 150.0, cy - 20.0, cx + 150.0, cy + 20.0).as("coords"))
        .as("nbox"))
    val pts = customerPts(s, d).select(col("c_custkey"),
      struct(lit(ShapeCodec.TagPoint).as("tag"),
        array(col("cx"), col("cy")).as("coords")).as("cpt"))
    boxes.shapeDistanceJoin(pts, "nbox", "cpt", 100.37)
      .select(col("n_nationkey"), col("c_custkey"))
      .orderBy(col("n_nationkey"), col("c_custkey"))
  }

  /** Any-Shape kNN join: each nation rectangle's 3 nearest customer
    * points by exact shape minDist — the kNN side of the reference's
    * shape-keyed join surface. Rectangle keys replay in DuckDB as the
    * closed axis-deficit distance inside a window. */
  def shapeKnnJoinQ(s: SparkSession, d: String): DataFrame = {
    import graft.spatial.ShapeCodec
    val cx = col("n_nationkey").cast("double") * 400.0
    val cy = col("n_nationkey").cast("double") * 40.0
    val boxes = nation(s, d).select(col("n_nationkey"),
      struct(lit(ShapeCodec.TagMBR).as("tag"),
        array(cx - 150.0, cy - 20.0, cx + 150.0, cy + 20.0).as("coords"))
        .as("nbox"))
    val pts = customerPts(s, d).select(col("c_custkey"),
      struct(lit(ShapeCodec.TagPoint).as("tag"),
        array(col("cx"), col("cy")).as("coords")).as("cpt"))
    boxes.shapeKnnJoin(pts, "nbox", "cpt", 3, "n_nationkey",
        tieBreak = Seq("c_custkey"))
      .select(col("n_nationkey"), col("c_custkey"))
      .orderBy(col("n_nationkey"), col("c_custkey"))
  }

  /** WKB byte round-trip folded into a range query: points -> OGC WKB
    * bytes -> parsed back -> box intersect. Any bit lost in the binary
    * codec moves a point and changes the row set, so the plain box SQL
    * is a true oracle for the byte layout; byte-level parity with the
    * PostGIS layout is pinned by golden-hex specs (WkbSpec). */
  def wkbRoundTripQ(s: SparkSession, d: String): DataFrame = {
    import graft.functions._
    customerPts(s, d)
      .withColumn("wkb", stAsWkb(stPoint(col("cx"), col("cy"))))
      .filter(stIntersects(stFromWkb(col("wkb")),
        stShape(graft.spatial.MBR(
          graft.spatial.Point(boxLow: _*), graft.spatial.Point(boxHigh: _*)))))
      .select(col("c_custkey"), col("cx"), col("cy"))
      .orderBy(col("c_custkey"))
  }

  /** Exact kNN join, pivot (Voronoi) algorithm — same oracle as the grid
    * form, different physical shape. */
  def knnJoinPivotQ(s: SparkSession, d: String): DataFrame =
    customerPts(s, d)
      .knnJoinPivot(supplierPts(s, d), Seq("cx", "cy"), Seq("sx", "sy"),
        knnJoinK, leftId = "c_custkey", tieBreak = Seq("s_suppkey"))
      .select(col("c_custkey"), col("s_suppkey"))
      .orderBy(col("c_custkey"), col("s_suppkey"))

  private val custPtsSql =
    "SELECT c_custkey, c_acctbal AS cx, CAST(c_custkey % 1000 AS DOUBLE) AS cy FROM customer"
  private val suppPtsSql =
    "SELECT s_suppkey, s_acctbal AS sx, CAST(s_suppkey % 1000 AS DOUBLE) AS sy FROM supplier"

  val oracles: Map[String, String] = Map(
    "sp_box_range" ->
      s"""SELECT * FROM ($custPtsSql) c
         |WHERE cx >= 2000.0 AND cx <= 4000.0 AND cy >= 100.0 AND cy <= 300.0
         |ORDER BY c_custkey""".stripMargin,
    "sp_circle_range" ->
      s"""SELECT * FROM ($custPtsSql) c
         |WHERE sqrt((cx - 5000.0)*(cx - 5000.0) + (cy - 500.0)*(cy - 500.0)) <= 500.0
         |ORDER BY c_custkey""".stripMargin,
    // the at-rest layout changes where bytes live, never values — its
    // oracles are the plain range/knn SQL
    "sp_disk_box_range" ->
      s"""SELECT * FROM ($custPtsSql) c
         |WHERE cx >= 2000.0 AND cx <= 4000.0 AND cy >= 100.0 AND cy <= 300.0
         |ORDER BY c_custkey""".stripMargin,
    "sp_disk_knn" ->
      s"""SELECT * FROM (
         |  SELECT * FROM ($custPtsSql) c
         |  ORDER BY sqrt((cx - 5000.0)*(cx - 5000.0) + (cy - 500.0)*(cy - 500.0)) ASC,
         |           c_custkey ASC
         |  LIMIT 10) t
         |ORDER BY c_custkey""".stripMargin,
    "sp_disk_distance_join" ->
      s"""SELECT c_custkey, s_suppkey FROM ($custPtsSql) c, ($suppPtsSql) s
         |WHERE sqrt((cx - sx)*(cx - sx) + (cy - sy)*(cy - sy)) <= 100.0
         |ORDER BY c_custkey, s_suppkey""".stripMargin,
    // the 1-D layout's time-range query replays as a plain BETWEEN on
    // integer epoch-ms (days 1..3 after the table's first event)
    "sp_disk_time_range" ->
      """WITH m AS (SELECT min(epoch_ms(ts)) AS t0 FROM events)
        |SELECT event_id, CAST(epoch_ms(ts) AS DOUBLE) AS tms
        |FROM events, m
        |WHERE epoch_ms(ts) BETWEEN t0 + 86400000 AND t0 + 259200000
        |ORDER BY event_id""".stripMargin,
    "sp_disk_knn_join" ->
      s"""SELECT c_custkey, s_suppkey FROM (
         |  SELECT c_custkey, s_suppkey,
         |    ROW_NUMBER() OVER (PARTITION BY s_suppkey
         |      ORDER BY sqrt((cx - sx)*(cx - sx) + (cy - sy)*(cy - sy)) ASC,
         |               c_custkey ASC) AS rn
         |  FROM ($custPtsSql) c CROSS JOIN ($suppPtsSql) s) t
         |WHERE rn <= 3 ORDER BY c_custkey, s_suppkey""".stripMargin,
    "sp_disk_append_box" ->
      s"""SELECT * FROM ($custPtsSql) c
         |WHERE cx >= 2000.0 AND cx <= 4000.0 AND cy >= 100.0 AND cy <= 300.0
         |ORDER BY c_custkey""".stripMargin,
    "sp_disk_box_sql" ->
      s"""SELECT * FROM ($custPtsSql) c
         |WHERE cx >= 2000.0 AND cx <= 4000.0 AND cy >= 100.0 AND cy <= 300.0
         |ORDER BY c_custkey""".stripMargin,
    // tombstone deletes: the layout answers as a from-scratch build on
    // the survivors, so the oracle is the plain SQL + survivor filter
    "sp_disk_delete" ->
      s"""SELECT * FROM ($custPtsSql) c
         |WHERE cx >= 2000.0 AND cx <= 4000.0 AND cy >= 100.0 AND cy <= 300.0
         |  AND c_custkey % 10 <> 3
         |ORDER BY c_custkey""".stripMargin,
    // region purge: the layout answers as a from-scratch build on the
    // region's complement — the oracle negates the exact same-IEEE
    // region predicate inside a wider window
    "sp_disk_delete_box" ->
      s"""SELECT * FROM ($custPtsSql) c
         |WHERE cx >= 0.0 AND cx <= 6000.0 AND cy >= 0.0 AND cy <= 600.0
         |  AND NOT (cx >= 2000.0 AND cx <= 4000.0
         |           AND cy >= 100.0 AND cy <= 300.0)
         |ORDER BY c_custkey""".stripMargin,
    "sp_disk_delete_circle" ->
      s"""SELECT * FROM ($custPtsSql) c
         |WHERE cx >= 4000.0 AND cx <= 6000.0 AND cy >= 0.0 AND cy <= 1000.0
         |  AND NOT (sqrt((cx - 5000.0)*(cx - 5000.0)
         |               + (cy - 500.0)*(cy - 500.0)) <= 500.0)
         |ORDER BY c_custkey""".stripMargin,
    // retention purge on the time layout: survivors are rows at or
    // after the cutoff (written tms values are integral millis, so the
    // closed [t0, t0+2d-1ms] region is exactly "before day 2")
    "sp_disk_retention" ->
      """WITH m AS (SELECT min(epoch_ms(ts)) AS t0 FROM events)
        |SELECT event_id, CAST(epoch_ms(ts) AS DOUBLE) AS tms
        |FROM events, m
        |WHERE NOT (epoch_ms(ts) >= t0 AND epoch_ms(ts) <= t0 + 172799999)
        |ORDER BY event_id""".stripMargin,
    // the located verb's contract is the same answer through a cheaper
    // path (O(wave) presence check instead of the O(table) pass), so
    // its oracles are the ids-only verb's SQL on its own survivor set
    "sp_disk_delete_at" ->
      s"""SELECT * FROM ($custPtsSql) c
         |WHERE cx >= 2000.0 AND cx <= 4000.0 AND cy >= 100.0 AND cy <= 300.0
         |  AND c_custkey % 10 <> 7
         |ORDER BY c_custkey""".stripMargin,
    "sp_disk_delete_at_knn" ->
      s"""SELECT * FROM (
         |  SELECT * FROM ($custPtsSql) c
         |  WHERE c_custkey % 10 <> 7
         |  ORDER BY sqrt((cx - 5000.0)*(cx - 5000.0) + (cy - 500.0)*(cy - 500.0)) ASC,
         |           c_custkey ASC
         |  LIMIT 10) t
         |ORDER BY c_custkey""".stripMargin,
    "sp_disk_delete_mixed" ->
      s"""SELECT * FROM ($custPtsSql) c
         |WHERE cx >= 2000.0 AND cx <= 4000.0 AND cy >= 100.0 AND cy <= 300.0
         |  AND c_custkey % 10 <> 3 AND c_custkey % 10 <> 7
         |ORDER BY c_custkey""".stripMargin,
    "sp_disk_delete_knn" ->
      s"""SELECT * FROM (
         |  SELECT * FROM ($custPtsSql) c
         |  WHERE c_custkey % 10 <> 3
         |  ORDER BY sqrt((cx - 5000.0)*(cx - 5000.0) + (cy - 500.0)*(cy - 500.0)) ASC,
         |           c_custkey ASC
         |  LIMIT 10) t
         |ORDER BY c_custkey""".stripMargin,
    "sp_disk_delete_join" ->
      s"""SELECT c_custkey, s_suppkey FROM ($custPtsSql) c, ($suppPtsSql) s
         |WHERE c_custkey % 10 <> 3
         |  AND sqrt((cx - sx)*(cx - sx) + (cy - sy)*(cy - sy)) <= 100.0
         |ORDER BY c_custkey, s_suppkey""".stripMargin,
    // the grid cells are internal — the oracle replays only the two
    // exact predicates (epoch_ms is the ms contract's SQL twin)
    "sp_st_join" ->
      """WITH e AS (SELECT event_id, ts, value AS ex,
        |             CAST(user_id % 1000 AS DOUBLE) AS ey FROM events)
        |SELECT a.event_id AS event_id, b.event_id AS event_id2
        |FROM e a, e b
        |WHERE a.event_id < b.event_id
        |  AND sqrt((a.ex - b.ex)*(a.ex - b.ex)
        |         + (a.ey - b.ey)*(a.ey - b.ey)) <= 5.0
        |  AND abs(epoch_ms(a.ts) - epoch_ms(b.ts)) <= 300000
        |ORDER BY event_id, event_id2""".stripMargin,
    "sp_polygon_range" ->
      s"""SELECT * FROM ($custPtsSql) c
         |WHERE abs((cx - 5000.0) / 2000.37) + abs((cy - 500.0) / 300.13) <= 1.0
         |ORDER BY c_custkey""".stripMargin,
    // ring algebra replayed relationally: IN the shell (inclusive) and
    // NOT strictly inside the hole (hole boundary belongs to the polygon)
    "sp_polygon_holes" ->
      s"""SELECT * FROM ($custPtsSql) c
         |WHERE abs((cx - 5000.0) / 2000.37) + abs((cy - 500.0) / 300.13) <= 1.0
         |  AND NOT (abs((cx - 5000.0) / 1000.19) + abs((cy - 500.0) / 150.07) < 1.0)
         |ORDER BY c_custkey""".stripMargin,
    // union of two disjoint diamonds, each the closed-form diamond
    // inequality of sp_polygon_range — point-set union = OR
    "sp_multipolygon_range" ->
      s"""SELECT * FROM ($custPtsSql) c
         |WHERE abs((cx - 5000.0) / 2000.37) + abs((cy - 500.0) / 300.13) <= 1.0
         |   OR abs((cx - 9000.0) / 1500.29) + abs((cy - 300.0) / 200.11) <= 1.0
         |ORDER BY c_custkey""".stripMargin,
    // rectangle x rectangle intersection = interval overlap per axis —
    // pure comparisons, exactly replayable
    "sp_intersects_join" ->
      s"""SELECT n_nationkey, s_suppkey
         |FROM nation n, ($suppPtsSql) s
         |WHERE n.n_nationkey*400.0 - 150.0 <= sx + 500.0
         |  AND sx - 500.0 <= n.n_nationkey*400.0 + 150.0
         |  AND n.n_nationkey*40.0 - 20.0 <= sy + 80.0
         |  AND sy - 80.0 <= n.n_nationkey*40.0 + 20.0
         |ORDER BY n_nationkey, s_suppkey""".stripMargin,
    // rectangles as polygons: the closed-form axis distance IS the
    // polygon minDist for a point vs an axis-aligned rectangle
    "sp_shape_knn_join" ->
      s"""SELECT n_nationkey, c_custkey FROM (
         |  SELECT n.n_nationkey, c.c_custkey,
         |    row_number() OVER (PARTITION BY n.n_nationkey ORDER BY sqrt(
         |        pow(greatest(n.n_nationkey*400.0 - 150.0 - cx,
         |                     cx - (n.n_nationkey*400.0 + 150.0), 0.0), 2)
         |      + pow(greatest(n.n_nationkey*40.0 - 20.0 - cy,
         |                     cy - (n.n_nationkey*40.0 + 20.0), 0.0), 2)) ASC,
         |      c.c_custkey ASC) AS rn
         |  FROM nation n, ($custPtsSql) c) t
         |WHERE rn <= 3
         |ORDER BY n_nationkey, c_custkey""".stripMargin,
    "sp_shape_distance_join" ->
      s"""SELECT n_nationkey, c_custkey
         |FROM nation n, ($custPtsSql) c
         |WHERE sqrt(
         |    pow(greatest(n.n_nationkey*400.0 - 150.0 - cx,
         |                 cx - (n.n_nationkey*400.0 + 150.0), 0.0), 2)
         |  + pow(greatest(n.n_nationkey*40.0 - 20.0 - cy,
         |                 cy - (n.n_nationkey*40.0 + 20.0), 0.0), 2)) <= 100.37
         |ORDER BY n_nationkey, c_custkey""".stripMargin,
    "sp_polygon_join" ->
      s"""SELECT n_nationkey, c_custkey
         |FROM nation n, ($custPtsSql) c
         |WHERE sqrt(
         |    pow(greatest(n.n_nationkey*400.0 - 150.0 - cx,
         |                 cx - (n.n_nationkey*400.0 + 150.0), 0.0), 2)
         |  + pow(greatest(n.n_nationkey*40.0 - 20.0 - cy,
         |                 cy - (n.n_nationkey*40.0 + 20.0), 0.0), 2)) <= 100.37
         |ORDER BY n_nationkey, c_custkey""".stripMargin,
    "sp_bounds_agg" ->
      """SELECT c_mktsegment,
        | min(c_acctbal) AS xmin, min(CAST(c_custkey % 1000 AS DOUBLE)) AS ymin,
        | max(c_acctbal) AS xmax, max(CAST(c_custkey % 1000 AS DOUBLE)) AS ymax
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // identical clamp-project-measure formula as distanceToSegment, same
    // operation order, so doubles agree bit-for-bit
    "sp_segment_range" ->
      s"""SELECT * FROM ($custPtsSql) c
         |WHERE sqrt(
         |  (cx - (2000.0 + least(greatest(((cx - 2000.0) * 6000.0 + (cy - 100.0) * 800.0)
         |      / 36640000.0, 0.0), 1.0) * 6000.0))
         |  * (cx - (2000.0 + least(greatest(((cx - 2000.0) * 6000.0 + (cy - 100.0) * 800.0)
         |      / 36640000.0, 0.0), 1.0) * 6000.0))
         |  + (cy - (100.0 + least(greatest(((cx - 2000.0) * 6000.0 + (cy - 100.0) * 800.0)
         |      / 36640000.0, 0.0), 1.0) * 800.0))
         |  * (cy - (100.0 + least(greatest(((cx - 2000.0) * 6000.0 + (cy - 100.0) * 800.0)
         |      / 36640000.0, 0.0), 1.0) * 800.0))) <= 150.0
         |ORDER BY c_custkey""".stripMargin,
    "sp_spatiotemporal" ->
      """SELECT event_id, value AS ex,
        | CAST(user_id % 1000 AS DOUBLE) AS ey,
        | epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms
        |FROM events
        |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15 00:00:00'
        |  AND value >= 100.0 AND value <= 300.0
        |  AND (user_id % 1000) >= 40 AND (user_id % 1000) <= 110
        |ORDER BY event_id""".stripMargin,
    "sp_knn" ->
      s"""SELECT * FROM (
         |  SELECT * FROM ($custPtsSql) c
         |  ORDER BY sqrt((cx - 5000.0)*(cx - 5000.0) + (cy - 500.0)*(cy - 500.0)) ASC,
         |           c_custkey ASC
         |  LIMIT 10) t
         |ORDER BY c_custkey""".stripMargin,
    "sp_wkt_roundtrip" ->
      s"""SELECT c_custkey, cx, cy FROM ($custPtsSql) c
         |WHERE cx >= 2000.0 AND cx <= 4000.0 AND cy >= 100.0 AND cy <= 300.0
         |ORDER BY c_custkey""".stripMargin,
    "sp_wkb_roundtrip" ->
      s"""SELECT c_custkey, cx, cy FROM ($custPtsSql) c
         |WHERE cx >= 2000.0 AND cx <= 4000.0 AND cy >= 100.0 AND cy <= 300.0
         |ORDER BY c_custkey""".stripMargin,
    "sp_knn_predicate" ->
      s"""WITH pts AS ($custPtsSql),
         |knn50 AS (
         |  SELECT * FROM pts
         |  ORDER BY sqrt((cx - 5000.0)*(cx - 5000.0) + (cy - 500.0)*(cy - 500.0)) ASC,
         |           c_custkey ASC
         |  LIMIT 50)
         |SELECT * FROM (
         |  SELECT * FROM knn50 WHERE cy >= 200.0
         |  UNION
         |  SELECT * FROM pts
         |  WHERE c_custkey NOT IN (SELECT c_custkey FROM knn50) AND cx >= 9900.0
         |) t ORDER BY c_custkey""".stripMargin,
    "sp_distance_join" ->
      s"""SELECT c_custkey, s_suppkey FROM ($custPtsSql) c, ($suppPtsSql) s
         |WHERE sqrt((cx - sx)*(cx - sx) + (cy - sy)*(cy - sy)) <= 100.0
         |ORDER BY c_custkey, s_suppkey""".stripMargin,
    "sp_distance_join_bc" ->
      s"""SELECT c_custkey, s_suppkey FROM ($custPtsSql) c, ($suppPtsSql) s
         |WHERE sqrt((cx - sx)*(cx - sx) + (cy - sy)*(cy - sy)) <= 100.0
         |ORDER BY c_custkey, s_suppkey""".stripMargin,
    "sp_distance_join_sql" ->
      s"""SELECT c_custkey, s_suppkey FROM ($custPtsSql) c, ($suppPtsSql) s
         |WHERE sqrt((cx - sx)*(cx - sx) + (cy - sy)*(cy - sy)) <= 100.0
         |ORDER BY c_custkey, s_suppkey""".stripMargin,
    "sp_knn_join_sql" ->
      s"""SELECT c_custkey, s_suppkey FROM (
         |  SELECT c_custkey, s_suppkey,
         |    ROW_NUMBER() OVER (PARTITION BY c_custkey
         |      ORDER BY sqrt((cx - sx)*(cx - sx) + (cy - sy)*(cy - sy)) ASC,
         |               s_suppkey ASC) AS rn
         |  FROM ($custPtsSql) c CROSS JOIN ($suppPtsSql) s) t
         |WHERE rn <= 3 ORDER BY c_custkey, s_suppkey""".stripMargin,
    "sp_knn_join_pivot" ->
      s"""SELECT c_custkey, s_suppkey FROM (
         |  SELECT c_custkey, s_suppkey,
         |    ROW_NUMBER() OVER (PARTITION BY c_custkey
         |      ORDER BY sqrt((cx - sx)*(cx - sx) + (cy - sy)*(cy - sy)) ASC,
         |               s_suppkey ASC) AS rn
         |  FROM ($custPtsSql) c CROSS JOIN ($suppPtsSql) s) t
         |WHERE rn <= 3 ORDER BY c_custkey, s_suppkey""".stripMargin,
    "sp_knn_join" ->
      s"""SELECT c_custkey, s_suppkey FROM (
         |  SELECT c_custkey, s_suppkey,
         |    ROW_NUMBER() OVER (PARTITION BY c_custkey
         |      ORDER BY sqrt((cx - sx)*(cx - sx) + (cy - sy)*(cy - sy)) ASC,
         |               s_suppkey ASC) AS rn
         |  FROM ($custPtsSql) c CROSS JOIN ($suppPtsSql) s) t
         |WHERE rn <= 3 ORDER BY c_custkey, s_suppkey""".stripMargin,
    // whichever algorithm the cost gate routes to answers the same SQL
    "sp_knn_join_auto" ->
      s"""SELECT c_custkey, s_suppkey FROM (
         |  SELECT c_custkey, s_suppkey,
         |    ROW_NUMBER() OVER (PARTITION BY c_custkey
         |      ORDER BY sqrt((cx - sx)*(cx - sx) + (cy - sy)*(cy - sy)) ASC,
         |               s_suppkey ASC) AS rn
         |  FROM ($custPtsSql) c CROSS JOIN ($suppPtsSql) s) t
         |WHERE rn <= 3 ORDER BY c_custkey, s_suppkey""".stripMargin,
    // tag 0 = point-in-box, 1 = box-overlap, 2 = circle: dist(center,
    // box) <= r with the same clamp-square-sum-sqrt shape as
    // Dist.pointToMBR, so doubles agree bit-for-bit
    "sp_shape_column_range" ->
      s"""SELECT c_custkey, CAST(c_custkey % 3 AS INT) AS shape_tag
         |FROM ($custPtsSql) c
         |WHERE CASE CAST(c_custkey % 3 AS INT)
         |  WHEN 0 THEN cx >= 2000.0 AND cx <= 4000.0
         |          AND cy >= 100.0 AND cy <= 300.0
         |  WHEN 1 THEN cx - 50.0 <= 4000.0 AND cx + 50.0 >= 2000.0
         |          AND cy - 20.0 <= 300.0 AND cy + 20.0 >= 100.0
         |  ELSE sqrt(
         |    greatest(2000.0 - cx, cx - 4000.0, 0.0)
         |      * greatest(2000.0 - cx, cx - 4000.0, 0.0)
         |    + greatest(100.0 - cy, cy - 300.0, 0.0)
         |      * greatest(100.0 - cy, cy - 300.0, 0.0))
         |    <= 30.0 + CAST(c_custkey % 50 AS DOUBLE)
         |END
         |ORDER BY c_custkey""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sp_box_range" -> (boxRange _),
    "sp_circle_range" -> (circleRange _),
    "sp_disk_box_range" -> (diskBoxRange _),
    "sp_disk_knn" -> (diskKnn _),
    "sp_disk_distance_join" -> (diskDistanceJoin _),
    "sp_disk_knn_join" -> (diskKnnJoin _),
    "sp_disk_time_range" -> (diskTimeRange _),
    "sp_disk_append_box" -> (diskAppendBox _),
    "sp_disk_delete" -> (diskDeleteBox _),
    "sp_disk_delete_knn" -> (diskDeleteKnn _),
    "sp_disk_delete_join" -> (diskDeleteJoin _),
    "sp_disk_delete_at" -> (diskDeleteAtBox _),
    "sp_disk_delete_at_knn" -> (diskDeleteAtKnn _),
    "sp_disk_delete_mixed" -> (diskDeleteMixed _),
    "sp_disk_delete_box" -> (diskDeleteBoxRegion _),
    "sp_disk_delete_circle" -> (diskDeleteCircleRegion _),
    "sp_disk_retention" -> (diskRetention _),
    "sp_disk_box_sql" -> (diskBoxSqlQ _),
    "sp_st_join" -> (spatioTemporalJoinQ _),
    "sp_polygon_join" -> (polygonDistanceJoinQ _),
    "sp_intersects_join" -> (shapeIntersectsJoinQ _),
    "sp_polygon_range" -> (polygonRange _),
    "sp_polygon_holes" -> (polygonHolesRange _),
    "sp_multipolygon_range" -> (multiPolygonRange _),
    "sp_segment_range" -> (segmentRangeQ _),
    "sp_bounds_agg" -> (boundsBySegment _),
    "sp_spatiotemporal" -> (spatioTemporal _),
    "sp_knn" -> (knn _),
    "sp_knn_predicate" -> (knnPredicateQ _),
    "sp_wkt_roundtrip" -> (wktRoundTripQ _),
    "sp_wkb_roundtrip" -> (wkbRoundTripQ _),
    "sp_shape_distance_join" -> (shapeDistanceJoinQ _),
    "sp_shape_knn_join" -> (shapeKnnJoinQ _),
    "sp_distance_join" -> (distanceJoin _),
    "sp_distance_join_bc" -> (distanceJoinBc _),
    "sp_distance_join_sql" -> (distanceJoinSqlQ _),
    "sp_knn_join_sql" -> (knnJoinSqlQ _),
    "sp_knn_join" -> (knnJoin _),
    "sp_knn_join_auto" -> (knnJoinAutoQ _),
    "sp_knn_join_pivot" -> (knnJoinPivotQ _),
    "sp_shape_column_range" -> (shapeColumnRange _)
  )
}
