package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables
import graft.operators.SpatialOps._

/** Oracle equivalence for every spatial verb: each optimized plan must
  * return exactly the rows of its brute-force counterpart (the oracle
  * discipline from SURVEY.md §5). */
class SpatialOpsSpec extends SparkSpec {

  private lazy val cust = Tables.customerPts(spark, sf())
  private lazy val supp = Tables.supplierPts(spark, sf())

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("c_custkey"), col("s_suppkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("boxRange equals conjunctive filter oracle") {
    val got = cust.boxRange(Seq("cx", "cy"), Seq(0.0, 100.0), Seq(5000.0, 600.0))
    val want = cust.filter(col("cx") >= 0 && col("cx") <= 5000 &&
      col("cy") >= 100 && col("cy") <= 600)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("circleRange equals distance filter oracle") {
    val got = cust.circleRange(Seq("cx", "cy"), Seq(5000.0, 500.0), 800.0)
    val d = sqrt(pow(col("cx") - 5000, 2) + pow(col("cy") - 500, 2))
    val want = cust.filter(d <= 800.0)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("knn equals sort+limit oracle, deterministic under ties") {
    val got = cust.knn(Seq("cx", "cy"), Seq(5000.0, 500.0), 7, Seq("c_custkey"))
    val d = sqrt(pow(col("cx") - 5000, 2) + pow(col("cy") - 500, 2))
    val want = cust.orderBy(d.asc, col("c_custkey").asc).limit(7)
    assert(got.collect().map(_.getLong(0)).sorted.toSeq ===
      want.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("grid distanceJoin equals naive theta-join at several radii") {
    Seq(50.0, 100.0, 400.0).foreach { r =>
      val fast = pairSet(cust.distanceJoin(supp, Seq("cx", "cy"), Seq("sx", "sy"), r))
      val slow = pairSet(cust.distanceJoinNaive(supp, Seq("cx", "cy"), Seq("sx", "sy"), r))
      assert(fast === slow, s"radius $r")
    }
  }

  test("grid distanceJoin emits each qualifying pair exactly once") {
    val out = cust.distanceJoin(supp, Seq("cx", "cy"), Seq("sx", "sy"), 100.0)
    assert(out.count() === out.distinct().count())
  }

  test("knnJoin equals windowed oracle (exactness incl. fallback)") {
    val fast = pairSet(cust.knnJoin(supp, Seq("cx", "cy"), Seq("sx", "sy"),
      k = 3, leftId = "c_custkey", tieBreak = Seq("s_suppkey")))
    val slow = pairSet(cust.knnJoinNaive(supp, Seq("cx", "cy"), Seq("sx", "sy"),
      k = 3, leftId = "c_custkey", tieBreak = Seq("s_suppkey")))
    assert(fast === slow)
    // every left row gets exactly k matches (right side has >= k rows)
    assert(fast.groupBy(_._1).forall(_._2.size == 3))
  }

  test("knnJoin exact even when sampling radius is forced tiny") {
    // a degenerate theta estimate must not lose correctness — the
    // starved-row fallback re-runs those rows exactly
    val fast = pairSet(cust.limit(40).knnJoin(supp,
      Seq("cx", "cy"), Seq("sx", "sy"), k = 2, leftId = "c_custkey",
      tieBreak = Seq("s_suppkey"), sampleCap = 5, quantile = 0.0, safety = 1e-6))
    val slow = pairSet(cust.limit(40).knnJoinNaive(supp,
      Seq("cx", "cy"), Seq("sx", "sy"), k = 2, leftId = "c_custkey",
      tieBreak = Seq("s_suppkey")))
    assert(fast === slow)
  }

  test("knnJoin: partially starved lefts are not double-counted") {
    import spark.implicits._
    // Every left has exactly ONE right within the (forced-small) theta
    // and its 2nd-nearest far outside it, so with k=2 every left is
    // starved WITH a partial candidate row. Those partial rows must be
    // excluded from the grid phase's output (the fallback re-emits them),
    // or each close pair appears twice.
    val l = (1 to 50).map(i => (i.toLong, i * 100.0, 0.0)).toDF("lid", "lx", "ly")
    val r = (1 to 50).flatMap { i =>
      Seq((i.toLong * 2, i * 100.0, 1.0),      // 1 unit away: inside theta
          (i.toLong * 2 + 1, i * 100.0, 50.0)) // 50 units away: outside
    }.toDF("rid", "rx", "ry")
    // 2nd-NN distance is ~50 for every sampled left -> quantile 0.5 gives
    // ~50; safety 0.05 forces theta ~2.5: admits the near right only.
    val got = l.knnJoin(r, Seq("lx", "ly"), Seq("rx", "ry"), k = 2,
      leftId = "lid", tieBreak = Seq("rid"), quantile = 0.5, safety = 0.05)
    val want = l.knnJoinNaive(r, Seq("lx", "ly"), Seq("rx", "ry"), k = 2,
      leftId = "lid", tieBreak = Seq("rid"))
    assert(got.count() === want.count()) // duplicates would inflate this
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() === 100)
  }

  test("spark.graft.knn.* conf knobs are honored by knnJoinAuto") {
    import spark.implicits._
    val l = (1 to 50).map(i => (i.toLong, i * 100.0, 0.0)).toDF("lid", "lx", "ly")
    val r = (1 to 50).flatMap { i =>
      Seq((i.toLong * 2, i * 100.0, 1.0), (i.toLong * 2 + 1, i * 100.0, 50.0))
    }.toDF("rid", "rx", "ry")
    try {
      spark.conf.set(graft.GraftConf.SampleCap, "500")
      spark.conf.set(graft.GraftConf.KnnQuantile, "0.5")
      spark.conf.set(graft.GraftConf.KnnSafety, "0.05")
      val tuned = l.knnJoinAuto(r, Seq("lx", "ly"), Seq("rx", "ry"),
        2, "lid", "rid", Seq("rid"))
      assert(tuned.count() === 100) // exactness preserved (rescue)
      // theta = 2nd-NN(50) * quantile-pick * safety(0.05) = 2.5. The
      // grid pass sits behind its top-k checkpoint, so the witness is
      // the plan that checkpoint ran: its grid divisor
      // `floor(<key> / theta)` = `/ 2.5)` is a fragment specific enough
      // that it can only come from the conf-driven theta (sampleCap,
      // quantile, AND safety plumbed)
      val (again, plans) = withBuildPlans(l.knnJoinAuto(r, Seq("lx", "ly"),
        Seq("rx", "ry"), 2, "lid", "rid", Seq("rid")))
      assert(plans.exists(_.contains("/ 2.5)")),
        "expected conf-driven theta 2.5 as the grid divisor")
      assert(again.count() === 100)
    } finally {
      spark.conf.unset(graft.GraftConf.SampleCap)
      spark.conf.unset(graft.GraftConf.KnnQuantile)
      spark.conf.unset(graft.GraftConf.KnnSafety)
    }
  }

  test("knnJoinAuto dispatches on spark.graft.join.knnJoin") {
    val base = pairSet(cust.knnJoinNaive(supp, Seq("cx", "cy"), Seq("sx", "sy"),
      3, "c_custkey", Seq("s_suppkey")))
    try {
      spark.conf.set(graft.GraftConf.KnnJoinAlgo, "naive")
      val viaNaive = pairSet(cust.knnJoinAuto(supp, Seq("cx", "cy"), Seq("sx", "sy"),
        3, "c_custkey", "s_suppkey", Seq("s_suppkey")))
      assert(viaNaive === base)
      spark.conf.set(graft.GraftConf.KnnJoinAlgo, "grid")
      val viaGrid = pairSet(cust.knnJoinAuto(supp, Seq("cx", "cy"), Seq("sx", "sy"),
        3, "c_custkey", "s_suppkey", Seq("s_suppkey")))
      assert(viaGrid === base)
      spark.conf.set(graft.GraftConf.KnnJoinAlgo, "zorder")
      val viaZ = cust.knnJoinAuto(supp, Seq("cx", "cy"), Seq("sx", "sy"),
        3, "c_custkey", "s_suppkey", Seq("s_suppkey"))
      assert(viaZ.count() === base.size) // approximate: k rows per left
    } finally spark.conf.unset(graft.GraftConf.KnnJoinAlgo)
  }

  test("reference-parity Array verbs and Graft facade delegate correctly") {
    val viaArray = cust.range(Array("cx", "cy"), Array(2000.0, 0.0), Array(4000.0, 200.0))
    val viaSeq = cust.boxRange(Seq("cx", "cy"), Seq(2000.0, 0.0), Seq(4000.0, 200.0))
    assert(viaArray.exceptAll(viaSeq).isEmpty && viaSeq.exceptAll(viaArray).isEmpty)
    val k = cust.knn(Array("cx", "cy"), Array(5000.0, 75.0), 5)
    assert(k.count() === 5)
    graft.Graft.indexTable(spark, cust, "t_facade", Seq("cx", "cy"))
    assert(graft.Graft.hasIndex(spark, "t_facade"))
    assert(graft.Graft.showIndex(spark).contains("t_facade"))
    graft.Graft.dropIndexTableByName(spark, "t_facade")
    assert(!graft.Graft.hasIndex(spark, "t_facade"))
  }

  test("distanceJoinAuto broadcasts a small right side and matches naive") {
    val got = cust.distanceJoinAuto(supp, Seq("cx", "cy"), Seq("sx", "sy"), 150.0)
    val want = cust.distanceJoinNaive(supp, Seq("cx", "cy"), Seq("sx", "sy"), 150.0)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("polygonRange: ray-casting kernel equals half-plane filter, codegen path") {
    val diamond = graft.spatial.Polygon(
      (2000.0, 75.0), (5000.0, 5.0), (8000.0, 75.0), (5000.0, 145.0))
    val got = cust.polygonRange(Seq("cx", "cy"), diamond)
    val want = cust.toDF.filter(
      abs((col("cx") - 5000.0) / 3000.0) + abs((col("cy") - 75.0) / 70.0) <= 1.0)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the predicate must run inside whole-stage codegen, not as a fallback
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("point_in_polygon"), plan)
  }

  test("all kNN-join variants return empty (not crash) on an empty left side") {
    val none = cust.toDF.filter(lit(false))
    assert(none.knnJoin(supp, Seq("cx", "cy"), Seq("sx", "sy"),
      3, "c_custkey", Seq("s_suppkey")).count() === 0)
    assert(none.knnJoinPivot(supp, Seq("cx", "cy"), Seq("sx", "sy"),
      3, "c_custkey", Seq("s_suppkey")).count() === 0)
    assert(none.zknnJoin(supp, Seq("cx", "cy"), Seq("sx", "sy"),
      3, "c_custkey", "s_suppkey", Seq("s_suppkey")).count() === 0)
  }

  test("zknnJoin rejects fractional id columns instead of truncating") {
    val badIds = cust.toDF.withColumn("c_custkey", col("c_custkey") + 0.5)
    val e = intercept[IllegalArgumentException] {
      badIds.zknnJoin(supp, Seq("cx", "cy"), Seq("sx", "sy"),
        3, "c_custkey", "s_suppkey", Seq("s_suppkey"))
    }
    assert(e.getMessage.contains("integral id"))
  }

  test("knnJoinPivot two-level route (p beyond the hier threshold) equals naive exactly") {
    import spark.implicits._
    // clustered + a sparse band, so coarse groups and per-group thetas
    // are non-trivial and group pruning actually rejects groups
    val rnd = new scala.util.Random(11)
    val lRows = (1 to 1500).map { i =>
      (i.toLong, (i % 5) * 500.0 + rnd.nextGaussian() * 25,
        (i % 3) * 300.0 + rnd.nextGaussian() * 25)
    }
    val rRows = (1 to 2600).map { i =>
      (i.toLong + 1000000L, (i % 5) * 500.0 + rnd.nextGaussian() * 25,
        (i % 3) * 300.0 + rnd.nextGaussian() * 25)
    }
    val l = lRows.toDF("lid", "lx", "ly")
    val r = rRows.toDF("rid", "rx", "ry")
    def pairs(df: DataFrame) = df.select(col("lid"), col("rid")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val want = pairs(l.knnJoinNaive(r, Seq("lx", "ly"), Seq("rx", "ry"),
      k = 3, leftId = "lid", tieBreak = Seq("rid")))
    // cellSize 4 -> pTarget = 650 > HierPivotThreshold: the two-level
    // kernels + uniform-sampled pivots + per-coarse-group thetas route
    spark.conf.set(graft.GraftConf.KnnPivotCellSize, "4")
    try {
      val got = pairs(l.knnJoinPivot(r, Seq("lx", "ly"), Seq("rx", "ry"),
        k = 3, leftId = "lid", tieBreak = Seq("rid")))
      assert(got === want)
    } finally spark.conf.unset(graft.GraftConf.KnnPivotCellSize)
  }

  test("knnJoinPivot (Voronoi) equals naive kNN join exactly") {
    val got = pairSet(cust.knnJoinPivot(supp, Seq("cx", "cy"), Seq("sx", "sy"),
      k = 3, leftId = "c_custkey", tieBreak = Seq("s_suppkey"), numPivots = 8))
    val want = pairSet(cust.knnJoinNaive(supp, Seq("cx", "cy"), Seq("sx", "sy"),
      k = 3, leftId = "c_custkey", tieBreak = Seq("s_suppkey")))
    assert(got === want)
  }

  // Route witnesses for the starved-left tests: the distinct
  // checkpoints a kNN join's plan reads (each top-k and pivot admission
  // pass is one; the rescue adds none), whether a starved branch was
  // unioned in at all, and whether that branch is the rescue pass.
  private def checkpoints(df: DataFrame): Int = df.queryExecution.analyzed.collect {
    case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
  }.distinct.size
  private def hasFallback(df: DataFrame): Boolean = df.queryExecution.analyzed.collect {
    case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
  }.nonEmpty
  // the rescue kernel appears ONCE: it runs on the starved lefts only,
  // with no inferred filter copying it below the starved split
  private def rescued(df: DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan.toString
    hasFallback(df) && Seq("knn_rescue(", "box_reach(").map(f =>
      plan.sliding(f.length).count(_ == f)).sum == 1
  }
  // `df`'s rows and whether any plan that building or collecting it ran
  // holds a cross product
  private def rowsAndCross(df: => DataFrame, cols: Seq[String]): (Seq[String], Boolean) = {
    val (rows, plans) = withBuildPlans(rowsOf(df, cols))
    (rows, plans.exists(p => p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")))
  }
  // every column of every row, as a sorted multiset
  private def rowsOf(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted

  // A kNN verb under test: its route through `run(l, r, k, quantile,
  // safety)`, its naive twin, and how many checkpoints its main phase
  // reads.
  private case class KnnVerb(name: String, dims: Int, shapes: Boolean, base: Int,
      run: (DataFrame, DataFrame, Int, Double, Double) => DataFrame)

  // Seeded lattice inputs (integer coordinates, so k-th distances tie
  // and the right-id tie-break decides), optionally with an outlier
  // left, null-key lefts, or shapes (left boxes, right points).
  private def knnInputs(v: KnnVerb, seed: Int, nL: Int, nR: Int,
                        outlier: Boolean, nulls: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.spatial.{MBR, Point, ShapeCodec}
    val rng = new scala.util.Random(seed)
    val span = if (v.dims <= 2) 40 else 8
    def pt() = Array.fill(v.dims)(rng.nextInt(span).toDouble)
    val lPts: Seq[Option[Array[Double]]] = Seq.fill(nL)(Some(pt())) ++
      (if (outlier) Seq(Some(Array.fill(v.dims)(1e4))) else Nil) ++ Seq.fill(nulls)(None)
    val rPts = Seq.fill(nR)(pt())
    if (v.shapes) {
      val shp = StructType(Seq(StructField("tag", IntegerType),
        StructField("coords", ArrayType(DoubleType))))
      def enc(s: graft.spatial.Shape) = { val (t, c) = ShapeCodec.encode(s); Row(t, c.toSeq) }
      val l = spark.createDataFrame(java.util.Arrays.asList(lPts.zipWithIndex.map {
        case (p, i) => Row(i.toLong, p.map(a => enc(MBR(Point(a(0), a(1)),
          Point(a(0) + i % 3, a(1) + i % 2)))).orNull)
      }: _*), StructType(Seq(StructField("lid", LongType), StructField("lshape", shp))))
      val r = spark.createDataFrame(java.util.Arrays.asList(rPts.zipWithIndex.map {
        case (p, i) => Row(1000L + i, enc(Point(p(0), p(1))))
      }: _*), StructType(Seq(StructField("rid", LongType), StructField("rshape", shp))))
      (l, r)
    } else {
      def schema(id: String, p: String) = StructType(StructField(id, LongType) +:
        (0 until v.dims).map(d => StructField(s"$p$d", DoubleType)))
      val l = spark.createDataFrame(java.util.Arrays.asList(lPts.zipWithIndex.map {
        case (p, i) => Row.fromSeq(i.toLong +: p.map(_.toSeq.map(Double.box))
          .getOrElse(Seq.fill(v.dims)(null)))
      }: _*), schema("lid", "lx"))
      val r = spark.createDataFrame(java.util.Arrays.asList(rPts.zipWithIndex.map {
        case (p, i) => Row.fromSeq((1000L + i) +: p.toSeq)
      }: _*), schema("rid", "rx"))
      (l, r)
    }
  }

  private def naiveTwin(v: KnnVerb, l: DataFrame, r: DataFrame, k: Int): DataFrame =
    if (v.shapes) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lid")).orderBy(col("__d").asc, col("rid").asc)
      l.crossJoin(r).withColumn("__d", graft.functions.stDistance(col("lshape"), col("rshape")))
        .filter(col("__d").isNotNull)
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
        .drop("__d", "__rn")
    } else l.knnJoinNaive(r, (0 until v.dims).map(d => s"lx$d"),
      (0 until v.dims).map(d => s"rx$d"), k, "lid", Seq("rid"))

  private lazy val knnVerbs: Seq[KnnVerb] = {
    def keys(p: String, d: Int) = (0 until d).map(i => s"$p$i")
    Seq(
      KnnVerb("grid", 2, shapes = false, base = 1, (l, r, k, q, s) =>
        l.knnJoin(r, keys("lx", 2), keys("rx", 2), k, "lid", Seq("rid"),
          quantile = q, safety = s)),
      KnnVerb("pivot flat d=4", 4, shapes = false, base = 2, (l, r, k, q, s) =>
        l.knnJoinPivot(r, keys("lx", 4), keys("rx", 4), k, "lid", Seq("rid"),
          numPivots = 8, quantile = q, safety = s)),
      // cell size 1: pTarget = |right| > HierPivotThreshold
      KnnVerb("pivot hierarchical", 2, shapes = false, base = 2, (l, r, k, q, s) => {
        spark.conf.set(graft.GraftConf.KnnPivotCellSize, "1")
        try l.knnJoinPivot(r, keys("lx", 2), keys("rx", 2), k, "lid", Seq("rid"),
          quantile = q, safety = s)
        finally spark.conf.unset(graft.GraftConf.KnnPivotCellSize)
      }),
      KnnVerb("shape", 2, shapes = true, base = 1, (l, r, k, q, s) =>
        l.shapeKnnJoin(r, "lshape", "rshape", k, "lid", Seq("rid"),
          quantile = q, safety = s)))
  }

  test("starved routing: mass starvation takes one rescue pass, exact") {
    // tiny safety starves most lefts: every verb — grid, flat and
    // hierarchical pivot, shape — must rescue them in ONE pass (no
    // checkpoint beyond its main phase's, no cross product in any plan
    // it ran) and still equal the oracle
    val want = pairSet(cust.knnJoinNaive(supp, Seq("cx", "cy"), Seq("sx", "sy"),
      k = 3, leftId = "c_custkey", tieBreak = Seq("s_suppkey")))
    val pivot = cust.knnJoinPivot(supp, Seq("cx", "cy"), Seq("sx", "sy"),
      k = 3, leftId = "c_custkey", tieBreak = Seq("s_suppkey"), numPivots = 8, safety = 0.2)
    assert(pairSet(pivot) === want && rescued(pivot))
    val grid = cust.knnJoin(supp, Seq("cx", "cy"), Seq("sx", "sy"),
      k = 3, leftId = "c_custkey", tieBreak = Seq("s_suppkey"), safety = 0.2)
    assert(pairSet(grid) === want && rescued(grid))
    val nR = SpatialOps.HierPivotThreshold + 14
    for (v <- knnVerbs) {
      val (l, r) = knnInputs(v, 8, 60, nR, false, 0)
      val twin = naiveTwin(v, l, r, 3)
      lazy val got = v.run(l, r, 3, 0.95, 0.05)
      val (rows, cross) = rowsAndCross(got, twin.columns)
      assert(!cross, s"${v.name} ran a cross")
      assert(rows == rowsOf(twin, twin.columns), v.name)
      assert(rescued(got) && checkpoints(got) == v.base, s"${v.name} took no single rescue")
    }
  }

  test("starved routing: every exact kNN verb equals its naive twin on each route") {
    val nR = SpatialOps.HierPivotThreshold + 14
    for (v <- knnVerbs) {
      // (case, inputs, k, quantile, safety, expected route)
      val cases = Seq(
        // quantile 1 over a whole-left sample: theta covers every left
        ("none starved", knnInputs(v, 1, 60, nR, false, 0), 3, 1.0, 2.0, "none"),
        ("a few starved", knnInputs(v, 2, 60, nR, true, 0), 3, 0.95, 2.0, "rescue"),
        ("many starved", knnInputs(v, 3, 60, nR, false, 0), 3, 0.95, 0.5, "rescue"),
        // a null-key left has no neighbours, so it never starves: with
        // every keyed left satisfied, no rescue is built
        ("null-key lefts", knnInputs(v, 4, 60, nR, false, 3), 3, 1.0, 2.0, "none"),
        ("k >= |right|", knnInputs(v, 5, 30, nR, false, 0), nR + 2, 0.95, 2.0, "rescue"),
        ("empty left", knnInputs(v, 6, 0, nR, false, 0), 3, 0.95, 2.0, "any"))
      for ((name, (l, r), k, q, s, route) <- cases) {
        val got = v.run(l, r, k, q, s)
        val want = naiveTwin(v, l, r, k)
        assert(rowsOf(got, want.columns) == rowsOf(want, want.columns), s"${v.name}: $name")
        route match {
          case "none" => assert(!hasFallback(got), s"${v.name}: $name built a rescue")
          case "rescue" => assert(rescued(got) && checkpoints(got) == v.base,
            s"${v.name}: $name took ${checkpoints(got)} checkpoints, want ${v.base}")
          case _ =>
        }
      }
    }
  }

  test("counted top-k: the derived starved count equals the minus-by-key count") {
    val v = knnVerbs.head
    for ((safety, nulls) <- Seq((2.0, 0), (0.5, 3), (0.1, 5))) {
      val (l, r) = knnInputs(v, 7, 80, 120, true, nulls)
      val (lk, rk) = (Seq("lx0", "lx1"), Seq("rx0", "rx1"))
      val ks = SpatialOps.sampleKnnRadii(l, r, lk, rk, 3, 2000, 0.95, safety)
      val cand = SpatialOps.gridCandidates(l, r, lk, rk, ks.theta, Map.empty)
        .withColumn("__d", graft.functions.pointDistance(lk.map(col), rk.map(col)))
      val top = SpatialOps.topKCounted(cand, "lid", 3, Seq("rid"), distCol = "__d")
      assert(ks.nLeft == 81, "null-key lefts never starve, so never count")
      assert(top.nSatisfied == top.ids.count(), s"safety $safety")
      val keyed = l.filter(col("lx0").isNotNull && col("lx1").isNotNull)
      assert(ks.nLeft - top.nSatisfied == SpatialOps.minusByKey(keyed, top.ids, "lid").count(),
        s"safety $safety")
      assert(top.rows.count() == 3 * top.nSatisfied, s"safety $safety")
    }
  }

  test("zknnJoin: exact distances, high recall vs exact kNN join") {
    val approx = pairSet(cust.zknnJoin(supp, Seq("cx", "cy"), Seq("sx", "sy"),
      k = 3, leftId = "c_custkey", rightId = "s_suppkey",
      tieBreak = Seq("s_suppkey"), shifts = 3))
    val exact = pairSet(cust.knnJoinNaive(supp, Seq("cx", "cy"), Seq("sx", "sy"),
      k = 3, leftId = "c_custkey", tieBreak = Seq("s_suppkey")))
    // approximate in recall, but every left row must still get k rows
    assert(approx.groupBy(_._1).forall(_._2.size == 3))
    assert(approx.map(_._1) === exact.map(_._1), "every left key covered")
    val recall = (approx intersect exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"zKNN recall too low: $recall")
  }

  test("knnJoinAuto 'auto' cost-gates: grid on uniform 2-D, pivot on clustered 64-D") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // gate unit level: uniform 2-D -> grid (9 cheap cell copies beat
    // 64 interpreted pivot multiplies per right row); clustered 64-D ->
    // pivot (3^64 neighbor fan-out is not a plan)
    val uni2 = Array.fill(200)(Array(rng.nextDouble() * 100, rng.nextDouble() * 100))
    assert(SpatialOps.chooseKnnAlgo(uni2, uni2, theta = 5.0, dims = 2) === "grid")
    val centers64 = Array.fill(8)(Array.fill(64)(rng.nextDouble() * 100))
    val clus64 = Array.tabulate(200)(i =>
      centers64(i % 8).map(_ + rng.nextGaussian() * 0.1))
    assert(SpatialOps.chooseKnnAlgo(clus64, clus64, theta = 1.0, dims = 64) === "pivot")
    // past 3-D the route is unconditional: the 3^d ROW replication is
    // shuffle weight the flop model under-prices, so d=4 (81 copies per
    // right row) and up go straight to pivot — even on uniform data the
    // flop comparison would have scored for grid (128 > 81)
    val uni4 = Array.fill(200)(Array.fill(4)(rng.nextDouble() * 100))
    assert(SpatialOps.chooseKnnAlgo(uni4, uni4, theta = 5.0, dims = 4) === "pivot")
    val centers6 = Array.fill(8)(Array.fill(6)(rng.nextDouble() * 100))
    val clus6 = Array.tabulate(200)(i =>
      centers6(i % 8).map(_ + rng.nextGaussian() * 0.1))
    assert(SpatialOps.chooseKnnAlgo(clus6, clus6, theta = 1.0, dims = 6) === "pivot")

    // end-to-end: conf 'auto' dispatches on the gate; exactness pinned
    // against the naive window either way. The grid candidates sit
    // behind a checkpoint, so the grid route is witnessed by the gate's
    // own verdict on the same inputs plus the absence of the pivot's
    // __graft_rcell, which stays visible over the admitted checkpoint.
    try {
      spark.conf.set(graft.GraftConf.KnnJoinAlgo, "auto")
      assert(SpatialOps.chooseKnnAlgoSampled(cust, supp, Seq("cx", "cy"),
        Seq("sx", "sy"), 3, graft.GraftConf.knnQuantile(spark),
        graft.GraftConf.knnSafety(spark)) === "grid")
      val got2d = cust.knnJoinAuto(supp, Seq("cx", "cy"), Seq("sx", "sy"),
        3, "c_custkey", "s_suppkey", Seq("s_suppkey"))
      val p2 = got2d.queryExecution.optimizedPlan.toString
      assert(!p2.contains("__graft_rcell"),
        s"uniform-ish 2-D must take the grid plan:\n$p2")
      assert(pairSet(got2d) === pairSet(cust.knnJoinNaive(supp,
        Seq("cx", "cy"), Seq("sx", "sy"), 3, "c_custkey", Seq("s_suppkey"))))

      val rows = (0 until 60).map(i =>
        (i.toLong, centers64(i % 8).map(v => v + rng.nextGaussian() * 0.1).toSeq))
      val base = rows.toDF("lid", "v")
      val l64 = base.select(col("lid") +:
        (0 until 64).map(i => element_at(col("v"), i + 1).as(s"d$i")): _*)
      val r64 = base.select(col("lid").as("rid") +:
        (0 until 64).map(i => element_at(col("v"), i + 1).as(s"e$i")): _*)
      val lk = (0 until 64).map(i => s"d$i")
      val rk = (0 until 64).map(i => s"e$i")
      assert(SpatialOps.chooseKnnAlgoSampled(l64, r64, lk, rk, 2,
        graft.GraftConf.knnQuantile(spark), graft.GraftConf.knnSafety(spark)) === "pivot")
      val gotHd = l64.knnJoinAuto(r64, lk, rk, 2, "lid", "rid", Seq("rid"))
      val pHd = gotHd.queryExecution.optimizedPlan.toString
      // the admitted checkpoint's 67 columns are cut from the plan
      // string before __graft_rcell; the hydrate join key is not
      assert(pHd.contains("__graft_rrow"),
        s"clustered 64-D must take the pivot plan:\n$pHd")
      val gotSet = gotHd.select("lid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val wantSet = l64.knnJoinNaive(r64, lk, rk, 2, "lid", Seq("rid"))
        .select("lid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotSet === wantSet)

      // d=4 end-to-end (the b5hd bench shape): UNIFORM 4-D data still
      // takes the pivot plan — the 81-cell explode must never fire —
      // and stays exact against the naive window
      val rows4 = (0 until 80).map(i => (i.toLong,
        rng.nextDouble() * 100, rng.nextDouble() * 100,
        rng.nextDouble() * 100, rng.nextDouble() * 100))
      val l4 = rows4.toDF("lid", "lx", "ly", "lz", "lw")
      val r4 = rows4.toDF("rid", "rx", "ry", "rz", "rw")
      val got4 = l4.knnJoinAuto(r4, Seq("lx", "ly", "lz", "lw"),
        Seq("rx", "ry", "rz", "rw"), 2, "lid", "rid", Seq("rid"))
      val p4 = got4.queryExecution.optimizedPlan.toString
      assert(p4.contains("__graft_rcell") && !p4.contains("__graft_cell_lc0"),
        s"uniform 4-D must take the pivot plan, never the 3^4 grid:\n$p4")
      assert(got4.select("lid", "rid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet ===
        l4.knnJoinNaive(r4, Seq("lx", "ly", "lz", "lw"),
            Seq("rx", "ry", "rz", "rw"), 2, "lid", Seq("rid"))
          .select("lid", "rid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
    } finally spark.conf.unset(graft.GraftConf.KnnJoinAlgo)
  }

  test("the auto gate matches the measured-best algorithm on the bench " +
    "SKEW fixture, plan-gated") {
    // bench history (BASELINE.md r9-r12 judge-clean): skew-grid steady
    // 2.97-4.20 s vs skew-pivot 4.10-6.10 s — grid is measured-best on
    // the skew fixture (as on uniform); the gate must route there from
    // its own bounded sample. The fixture is the bench's
    // Tables.skewedPts: 80% of both sides squeeze into a dense cluster,
    // 20% scatter 1000x wider.
    val (sl, sr) = (Tables.skewedPts(spark, sf(), "l"), Tables.skewedPts(spark, sf(), "r"))
    try {
      spark.conf.set(graft.GraftConf.KnnJoinAlgo, "auto")
      assert(SpatialOps.chooseKnnAlgoSampled(sl, sr, Seq("lx", "ly"),
        Seq("rx", "ry"), 3, graft.GraftConf.knnQuantile(spark),
        graft.GraftConf.knnSafety(spark)) === "grid")
      val got = sl.knnJoinAuto(sr, Seq("lx", "ly"),
        Seq("rx", "ry"), 3, "lid", "rid", Seq("rid"))
      val p = got.queryExecution.optimizedPlan.toString
      assert(!p.contains("__graft_rcell"),
        s"the skew fixture must take the grid plan (measured-best):\n$p")
      val gotSet = got.select("lid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val wantSet = sl.knnJoinNaive(sr, Seq("lx", "ly"),
          Seq("rx", "ry"), 3, "lid", Seq("rid"))
        .select("lid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotSet === wantSet && gotSet.nonEmpty)
    } finally spark.conf.unset(graft.GraftConf.KnnJoinAlgo)
  }

  test("zorder starved lefts take the exact rescue, never a cross") {
    import spark.implicits._
    // 2 rights < k=3: every left starves off the curve (candidates per
    // left are bounded by the right count), so the whole result is the
    // rescue's
    val l = (0 until 20).map(i => (i.toLong, i * 10.0, 0.0)).toDF("lid", "lx", "ly")
    val r = Seq((1000L, 5.0, 0.0), (1001L, 15.0, 0.0)).toDF("rid", "rx", "ry")
    lazy val got = l.zknnJoin(r, Seq("lx", "ly"), Seq("rx", "ry"), 3, "lid", "rid", Seq("rid"))
    val want = l.knnJoinNaive(r, Seq("lx", "ly"), Seq("rx", "ry"), 3, "lid", Seq("rid"))
    val (rows, cross) = rowsAndCross(got, want.columns)
    assert(!cross)
    assert(rescued(got), got.queryExecution.optimizedPlan.toString)
    // exact: 2 rights -> 2 neighbors per left, the naive twin's rows
    assert(rows == rowsOf(want, want.columns) && rows.size == 40)
  }

  test("segmentRange equals kernel brute force") {
    val got = cust.segmentRange(Seq("cx", "cy"), (0.0, 0.0), (9000.0, 150.0), 200.0)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val seg = graft.spatial.LineSegment(
      graft.spatial.Point(0.0, 0.0), graft.spatial.Point(9000.0, 150.0))
    val want = cust.toDF.collect().filter { r =>
      val p = graft.spatial.Point(r.getDouble(1), r.getDouble(2))
      graft.spatial.Dist.pointToSegment(p, seg) <= 200.0
    }.map(_.getLong(0)).toSet
    assert(got === want && got.nonEmpty)
  }

  test("forced mass starvation: one rescue pass, no cross plan") {
    import spark.implicits._
    // each left's kth(=1)-NN sits at exactly 3; safety 0.7 crushes the
    // sampled theta to 2.1 < 3, so EVERY left starves in phase 1 — the
    // adversarial shape that once sent the whole left side to the
    // quadratic cross-window in one step. The rescue bounds each left
    // at d(l, s) + 3 from the sample (the whole left here: d = 0), so
    // one pass satisfies every left.
    val l = (0 until 200).map(i => (i.toLong, i * 10.0, 0.0)).toDF("lid", "lx", "ly")
    val r = (0 until 200).map(i => (i.toLong + 1000, i * 10.0 + 3.0, 0.0)).toDF("rid", "rx", "ry")
    val want = l.knnJoinNaive(r, Seq("lx", "ly"), Seq("rx", "ry"), 1, "lid", Seq("rid"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    def grid() = l.knnJoin(r, Seq("lx", "ly"), Seq("rx", "ry"), 1, "lid", Seq("rid"),
      sampleCap = 1000, quantile = 0.95, safety = 0.7)
    def pivot() = l.knnJoinPivot(r, Seq("lx", "ly"), Seq("rx", "ry"), 1, "lid", Seq("rid"),
      numPivots = 8, sampleCap = 1000, quantile = 0.95, safety = 0.7)
    for ((name, run) <- Seq[(String, () => DataFrame)]("grid" -> grid, "pivot" -> pivot)) {
      lazy val got = run()
      val (rows, cross) = rowsAndCross(got, Seq("lid", "rid"))
      assert(!cross, s"$name ran a cross")
      assert(rescued(got), name)
      assert(rows == want.toSeq.map { case (a, b) => s"[$a,$b]" }.sorted && want.size == 200, name)
    }
    // the implementation's own theta estimate confirms the shape: the
    // phase-1 radius misses every kth neighbor
    val theta = SpatialOps.sampleKnnRadii(l, r, Seq("lx", "ly"), Seq("rx", "ry"),
      k = 1, cap = 1000, quantile = 0.95, safety = 0.7).theta
    assert(theta < 3.0, s"phase-1 theta must starve every left, got $theta")
  }

  test("distance join stays correct under extreme cell skew") {
    import spark.implicits._
    // every right row lands in the same grid cell
    val l = (1 to 300).map(i => (i.toLong, i * 1.0, (i % 10) * 1.0))
      .toDF("lid", "lx", "ly")
    val r = (1 to 200).map(j => (j.toLong, 42.0 + (j % 3) * 0.001, 7.0))
      .toDF("rid", "rx", "ry")
    val got = l.distanceJoin(r, Seq("lx", "ly"), Seq("rx", "ry"), 5.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val want = l.distanceJoinNaive(r, Seq("lx", "ly"), Seq("rx", "ry"), 5.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got === want && got.nonEmpty)
  }

  test("knnJoin exact under density skew; per-cell theta prunes candidates") {
    import spark.implicits._
    // dense cluster (400 rows in a 2x2 box) + sparse ring far away: the
    // global 0.95-quantile theta is sized by the sparse rows, so a
    // single global filter would admit huge candidate sets inside the
    // cluster — exactly the skew the per-cell theta exists to bound.
    val l = ((1 to 400).map(i => (i.toLong, (i % 20) * 0.1, (i / 20) * 0.1)) ++
      (1 to 40).map(i => (400L + i, 100.0 + i * 25.0, 100.0 + (i % 7) * 25.0)))
      .toDF("lid", "lx", "ly")
    val r = ((1 to 400).map(j => (j.toLong, (j % 20) * 0.1 + 0.05, (j / 20) * 0.1 + 0.05)) ++
      (1 to 40).map(j => (400L + j, 110.0 + j * 25.0, 90.0 + (j % 5) * 25.0)))
      .toDF("rid", "rx", "ry")
    val want = l.knnJoinNaive(r, Seq("lx", "ly"), Seq("rx", "ry"), k = 3,
      leftId = "lid", tieBreak = Seq("rid"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val got = l.knnJoin(r, Seq("lx", "ly"), Seq("rx", "ry"), k = 3,
      leftId = "lid", tieBreak = Seq("rid"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got === want && got.nonEmpty)
    // the pivot algorithm must stay exact under the same skew (its
    // per-pivot-cell thetas shrink dense cells' radii and admission)
    val gotPivot = l.knnJoinPivot(r, Seq("lx", "ly"), Seq("rx", "ry"), k = 3,
      leftId = "lid", tieBreak = Seq("rid"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(gotPivot === want)

    // the per-cell thetas must make the candidate pass strictly cheaper
    // than one global theta on this distribution
    val (theta, cellThetas) = SpatialOps.estimateKnnRadii(
      l, r, Seq("lx", "ly"), Seq("rx", "ry"), k = 3,
      cap = 2000, quantile = 0.95, safety = 2.0)
    assert(cellThetas.values.exists(_ < theta), "dense cells should get a tighter theta")
    val perCellCand = SpatialOps.gridCandidates(
      l, r, Seq("lx", "ly"), Seq("rx", "ry"), theta, cellThetas)
    val perCell = perCellCand.count()
    val global = SpatialOps.gridCandidates(
      l, r, Seq("lx", "ly"), Seq("rx", "ry"), theta, Map.empty).count()
    assert(perCell < global, s"per-cell candidates $perCell !< global $global")

    // the price of the tighter radius is starvation (lefts with < k
    // candidates, which take the exact fallback): the per-cell quantile
    // must keep that fraction bounded, or the fallback re-detonates
    val lefts = l.count()
    val starved = lefts - perCellCand.groupBy("lid").count()
      .filter(col("count") >= 3).count()
    assert(starved.toDouble / lefts <= 0.20,
      s"starved fraction ${starved.toDouble / lefts} exceeds 20% of $lefts lefts")
  }

  test("grid refinement stays exact with negative coordinates") {
    import spark.implicits._
    // dense cluster straddling the origin in negative space + sparse
    // far-out points: refinement triggers (tight per-cell theta) and
    // floor-based cell ids must stay consistent across the sign change
    val l = ((1 to 300).map(i => (i.toLong, -10.0 + (i % 20) * 0.05, -5.0 + (i / 20) * 0.05)) ++
      (1 to 30).map(i => (300L + i, -5000.0 + i * 300.0, 4000.0 - (i % 6) * 700.0)))
      .toDF("lid", "lx", "ly")
    val r = ((1 to 300).map(j => (j.toLong, -10.02 + (j % 20) * 0.05, -4.98 + (j / 20) * 0.05)) ++
      (1 to 30).map(j => (300L + j, -4800.0 + j * 290.0, 3800.0 - (j % 5) * 680.0)))
      .toDF("rid", "rx", "ry")
    val want = l.knnJoinNaive(r, Seq("lx", "ly"), Seq("rx", "ry"), k = 3,
      leftId = "lid", tieBreak = Seq("rid"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val got = l.knnJoin(r, Seq("lx", "ly"), Seq("rx", "ry"), k = 3,
      leftId = "lid", tieBreak = Seq("rid"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got === want && got.nonEmpty)
    // refinement must actually engage on this distribution
    val (theta, cellThetas) = SpatialOps.estimateKnnRadii(
      l, r, Seq("lx", "ly"), Seq("rx", "ry"), k = 3,
      cap = 2000, quantile = 0.95, safety = 2.0)
    assert(cellThetas.values.exists(_ < theta / 2),
      "expected a dense cell tight enough to refine")
  }

  test("null coordinates are excluded from kNN results, never ranked nearest") {
    import spark.implicits._
    // Spark sorts nulls FIRST under asc, so a null-coord row would rank
    // as the "nearest" neighbor without explicit exclusion; and the grid
    // path drops null cells silently — the two paths must agree: null
    // keys simply don't participate (SQL predicate semantics).
    val l = Seq((1L, Some(0.0), Some(0.0)), (2L, None: Option[Double], Some(1.0)))
      .toDF("lid", "lx", "ly")
    val r = Seq((10L, Some(1.0), Some(1.0)), (11L, None: Option[Double], Some(2.0)),
      (12L, Some(3.0), Some(3.0)))
      .toDF("rid", "rx", "ry")

    val knn1 = l.knn(Seq("lx", "ly"), Seq(0.0, 0.0), 1, Seq("lid"))
      .select("lid").collect().map(_.getLong(0)).toSeq
    assert(knn1 === Seq(1L), s"null-coord row must not rank nearest, got $knn1")

    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("lid", "rid").as[(Long, Long)].collect().toSet
    val expected = Set((1L, 10L)) // only non-null rows participate
    assert(pairs(l.knnJoinNaive(r, Seq("lx", "ly"), Seq("rx", "ry"), 1, "lid", Seq("rid")))
      === expected, "naive")
    assert(pairs(l.knnJoin(r, Seq("lx", "ly"), Seq("rx", "ry"), 1, "lid", Seq("rid")))
      === expected, "grid")
    assert(pairs(l.knnJoinPivot(r, Seq("lx", "ly"), Seq("rx", "ry"), 1, "lid", Seq("rid")))
      === expected, "pivot")
    assert(pairs(l.zknnJoin(r, Seq("lx", "ly"), Seq("rx", "ry"), 1,
      leftId = "lid", rightId = "rid", tieBreak = Seq("rid"))) === expected, "zknn")
  }

  test("spatialFilter: kNN set algebra equals hand-composed plans; pure trees fold") {
    import graft.operators.SpatialPredicate._
    val keys = Seq("cx", "cy")
    val c = Seq(5000.0, 500.0)
    val near = inKnn(keys, c, 20, tieBreak = Seq("c_custkey"))
    val knn20 = cust.knn(keys, c, 20, Seq("c_custkey"))
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("c_custkey").collect().map(_.getLong(0)).toSet

    // knn AND p == knn ∩ σ_p
    assert(ids(cust.spatialFilter(near && cond(col("cy") >= 300.0))) ===
      ids(knn20.filter(col("cy") >= 300.0)))
    // NOT knn == full − knn
    assert(ids(cust.spatialFilter(!near)) === ids(cust.toDF.exceptAll(knn20)))
    // knn OR p == knn ∪ σ_p
    assert(ids(cust.spatialFilter(near || cond(col("cx") >= 9000.0))) ===
      ids(knn20) ++ ids(cust.filter(col("cx") >= 9000.0)))
    // nested: (knn ∧ p) ∨ (¬knn ∧ q)
    val got = ids(cust.spatialFilter(
      (near && cond(col("cy") >= 300.0)) || (!near && cond(col("cx") >= 9000.0))))
    val want = ids(knn20.filter(col("cy") >= 300.0)) ++
      (ids(cust.filter(col("cx") >= 9000.0)) -- ids(knn20))
    assert(got === want && got.nonEmpty)

    // a kNN-free tree must fold to ONE plain Filter — no set ops planned
    val pure = cust.spatialFilter(
      (cond(col("cx") >= 0.0) && !cond(col("cy") < 100.0)) || cond(col("cx") > 9000.0))
    val plan = pure.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Intersect") && !plan.contains("Except"))
    assert(ids(pure) ===
      ids(cust.filter((col("cx") >= 0.0 && !(col("cy") < 100.0)) || col("cx") > 9000.0)))
  }

  test("n-dimensional: 3-D kNN join (grid + pivot) equals naive") {
    import spark.implicits._
    val a = (1 to 120).map(i => (i.toLong, (i % 11) * 1.7, (i % 7) * 2.3, (i % 5) * 3.1))
      .toDF("aid", "ax", "ay", "az")
    val b = (1 to 90).map(i => (i.toLong, (i % 13) * 1.5, (i % 6) * 2.9, (i % 4) * 3.7))
      .toDF("bid", "bx", "by", "bz")
    val keysA = Seq("ax", "ay", "az"); val keysB = Seq("bx", "by", "bz")
    val want = a.knnJoinNaive(b, keysA, keysB, k = 4, "aid", Seq("bid"))
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    val grid = a.knnJoin(b, keysA, keysB, k = 4, "aid", Seq("bid"))
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    val pivot = a.knnJoinPivot(b, keysA, keysB, k = 4, "aid", Seq("bid"))
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    assert(grid === want && pivot === want && want.nonEmpty)
  }

  test("refinePivots splits the dominant-cost cell under skew, no-ops when balanced") {
    val dist = graft.spatial.Dist.pointToPoint _
    // 80/20 skew: dense cluster in [0,1]^2, sparse halo spread 1000x wider
    val dense = (0 until 800).map(i => Array((i % 40) * 0.025, (i / 40) * 0.05))
    val sparse = (0 until 200).map(i => Array(1000.0 + (i % 20) * 500.0, (i / 20) * 800.0))
    val lPool = (dense ++ sparse).toIndexedSeq
    val radii = Array.fill(800)(0.05) ++ Array.fill(200)(400.0)
    val initial = SpatialOps.farthestPointPivots(lPool, dist, 16)
    val refined = SpatialOps.refinePivots(lPool, radii, lPool, dist, initial,
      maxPivots = 32, quantile = 0.95, theta = 400.0)
    assert(refined.length > initial.length, "skew must trigger splitting")
    // the dense cluster must collect most of the added pivots
    val added = refined.drop(initial.length)
    assert(added.count(p => p(0) <= 1.0 && p(1) <= 1.0) > added.length / 2)
    // max cell population must drop substantially
    def maxCell(pivots: IndexedSeq[Array[Double]]): Int =
      lPool.groupBy(p => pivots.indices.minBy(i => dist(p, pivots(i))))
        .values.map(_.size).max
    assert(maxCell(refined) < maxCell(initial) / 2,
      s"refined max cell ${maxCell(refined)} vs initial ${maxCell(initial)}")

    // invariants: budget respected, initial (maximin) pivots preserved as
    // a prefix — sparse regions never lose their nearby pivots
    assert(refined.length <= 32)
    assert(refined.take(initial.length).map(_.toSeq) === initial.map(_.toSeq))

    // already-balanced cells: refinement stops immediately (every cell
    // the same population and cost -> max == mean)
    val fourCorners = IndexedSeq(
      Array(0.0, 0.0), Array(10.0, 0.0), Array(0.0, 10.0), Array(10.0, 10.0))
    val balanced = fourCorners.flatMap(c =>
      (0 until 50).map(i => Array(c(0) + (i % 5) * 0.01, c(1) + (i / 5) * 0.01)))
    val bRefined = SpatialOps.refinePivots(balanced, Array.fill(200)(0.05),
      balanced, dist, fourCorners, maxPivots = 16, quantile = 0.95, theta = 0.05)
    assert(bRefined.length === 4, s"balanced cells must not split (got ${bRefined.length})")
  }

  test("id-less knnJoin: reference verb shape, per-row top-k incl. duplicates") {
    import spark.implicits._
    // the reference verb takes only keys and k (DataSet.scala:154-170);
    // every physical row — duplicates included, like the reference's own
    // example data (BasicSpatialOps.scala:29-31) — gets its own top-k
    val a = Seq((1.0, 1.0, "1"), (2.0, 2.0, "dup"), (2.0, 2.0, "dup"),
      (3.0, 3.0, "5"), (4.0, 4.0, "6")).toDF("x", "y", "tag")
    val b = Seq((1.5, 1.5, 10L), (2.5, 2.5, 20L), (3.5, 3.5, 30L), (9.0, 9.0, 40L))
      .toDF("bx", "by", "bid")
    val got = a.knnJoin(b, Array("x", "y"), Array("bx", "by"), 2)
    assert(got.count() === 10) // 5 physical rows x k=2
    assert(got.columns.toSeq === Seq("x", "y", "tag", "bx", "by", "bid"))
    // each duplicate copy gets the CORRECT distinct neighbor set
    val dupNbrs = got.filter(col("tag") === "dup").select("bid")
      .collect().map(_.getLong(0)).sorted
    assert(dupNbrs.toSeq === Seq(10L, 10L, 20L, 20L))
    // and the verb agrees with the explicit-id path on keyed data
    val keyed = a.withColumn("rid", monotonically_increasing_id())
    val viaId = keyed.knnJoin(b, Seq("x", "y"), Seq("bx", "by"), 2, "rid", Seq("bid"))
      .select("x", "y", "bid")
    val viaRow = got.select("x", "y", "bid")
    assert(viaId.exceptAll(viaRow).isEmpty && viaRow.exceptAll(viaId).isEmpty)
  }

  test("n-dimensional: 3-D distance join via grid equals naive") {
    import spark.implicits._
    val a = (1 to 60).map(i => (i.toLong, i * 1.0, (i % 7) * 2.0, (i % 5) * 3.0))
      .toDF("aid", "ax", "ay", "az")
    val b = (1 to 40).map(i => (i.toLong, i * 1.5, (i % 6) * 2.0, (i % 4) * 3.0))
      .toDF("bid", "bx", "by", "bz")
    val fast = a.distanceJoin(b, Seq("ax", "ay", "az"), Seq("bx", "by", "bz"), 5.0)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val slow = a.distanceJoinNaive(b, Seq("ax", "ay", "az"), Seq("bx", "by", "bz"), 5.0)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast === slow && fast.nonEmpty)
  }

  test("spatioTemporalJoin equals the naive double predicate; no cartesian") {
    val ev = Tables.eventsPts(spark, sf())
    val rSide = ev.select(col("event_id").as("event_id2"),
      col("ts").as("ts2"), col("ex").as("ex2"), col("ey").as("ey2"))
    def pairs(df: DataFrame) = df
      .filter(col("event_id") < col("event_id2"))
      .select("event_id", "event_id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = ev.spatioTemporalJoin(rSide, Seq("ex", "ey"), Seq("ex2", "ey2"),
      "ts", "ts2", r = 20.0, dtMillis = 1800000L)
    val got = pairs(q)
    val want = pairs(ev.join(rSide,
      graft.functions.pointDistance(Seq(col("ex"), col("ey")),
        Seq(col("ex2"), col("ey2"))) <= 20.0 &&
        abs(unix_millis(col("ts")) - unix_millis(col("ts2"))) <= 1800000L))
    assert(got === want && got.nonEmpty)
    // one equi-join on (spatial cells, time cell) — never a cross plan
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"spatio-temporal join grew a cross plan:\n$plan")
  }

  test("shapeIntersectsJoin: PBSM parity with naive, each pair exactly once") {
    import graft.functions.{stIntersects, stShape}
    import spark.implicits._
    // deliberately OVERLAPPING big boxes spanning many shared grid
    // cells: the reference-point rule must still emit each pair once
    def box(id: Long, lox: Double, loy: Double, hix: Double, hiy: Double) =
      (id, graft.spatial.MBR(graft.spatial.Point(lox, loy),
        graft.spatial.Point(hix, hiy)): graft.spatial.Shape)
    def circle(id: Long, cx: Double, cy: Double, r: Double) =
      (id, graft.spatial.Circle(graft.spatial.Point(cx, cy), r): graft.spatial.Shape)
    def poly(id: Long, cx: Double, cy: Double, w: Double, h: Double) =
      (id, graft.spatial.Polygon(Array(
        graft.spatial.Point(cx - w, cy - h), graft.spatial.Point(cx + w, cy - h),
        graft.spatial.Point(cx + w, cy + h), graft.spatial.Point(cx - w, cy + h)))
        : graft.spatial.Shape)
    def pt(id: Long, x: Double, y: Double) =
      (id, graft.spatial.Point(x, y): graft.spatial.Shape)
    val lShapes = Seq(box(1, 0, 0, 100, 100), box(2, 50, 50, 250, 250),
      poly(3, 300, 300, 80, 80), circle(4, -50, -50, 40), pt(5, 75, 75))
    val rShapes = Seq(box(10, 60, 60, 90, 90), box(11, -1000, -1000, 2000, 2000),
      circle(12, 310, 310, 30), pt(13, 75.0, 75.0), box(14, 5000, 5000, 5001, 5001))
    def df(s: Seq[(Long, graft.spatial.Shape)], idName: String, shapeName: String) =
      s.map { case (id, sh) =>
        val (tag, coords) = graft.spatial.ShapeCodec.encode(sh)
        (id, tag, coords.toSeq)
      }.toDF(idName, "__t", "__c")
        .select(col(idName), struct(col("__t").as("tag"),
          col("__c").cast("array<double>").as("coords")).as(shapeName))
    val l = df(lShapes, "lid", "lshape")
    val r = df(rShapes, "rid", "rshape")
    def pairs(d: org.apache.spark.sql.DataFrame) = d.select("lid", "rid")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
    val got = pairs(l.shapeIntersectsJoin(r, "lshape", "rshape"))
    val want = pairs(l.crossJoin(r)
      .filter(stIntersects(col("lshape"), col("rshape"))))
    assert(got === want && got.nonEmpty, s"got=$got want=$want")
    // a NULL shape row drops out consistently: same pairs, no crash in
    // the driver sampler
    val withNull = df(lShapes, "lid", "lshape").unionByName(
      Seq(99L).toDF("lid").withColumn("lshape",
        lit(null).cast(l.schema("lshape").dataType)))
    assert(pairs(withNull.shapeIntersectsJoin(r, "lshape", "rshape")) === got)
    // exactly once: no duplicates even for boxes sharing many cells
    assert(got.distinct === got, s"duplicated pairs: $got")
    // the all-covering box 11 meets every left shape
    assert(got.count(_._2 == 11L) === lShapes.length)
    // supplier-scale parity on real data
    val ncx = col("n_nationkey").cast("double") * 400.0
    val ncy = col("n_nationkey").cast("double") * 40.0
    val lb = Tables.nation(spark, sf()).select(col("n_nationkey"),
      struct(lit(graft.spatial.ShapeCodec.TagMBR).as("tag"),
        array(ncx - 150.0, ncy - 20.0, ncx + 150.0, ncy + 20.0).as("coords"))
        .as("lbox"))
    val rb = Tables.supplierPts(spark, sf()).select(col("s_suppkey"),
      struct(lit(graft.spatial.ShapeCodec.TagMBR).as("tag"),
        array(col("sx") - 500.0, col("sy") - 80.0,
          col("sx") + 500.0, col("sy") + 80.0).as("coords")).as("rbox"))
    val q = lb.shapeIntersectsJoin(rb, "lbox", "rbox")
    val gotReal = q.select("n_nationkey", "s_suppkey").collect()
      .map(x => (x.getInt(0), x.getLong(1))).toSeq.sorted
    val wantReal = lb.crossJoin(rb)
      .filter(stIntersects(col("lbox"), col("rbox")))
      .select("n_nationkey", "s_suppkey").collect()
      .map(x => (x.getInt(0), x.getLong(1))).toSeq.sorted
    assert(gotReal === wantReal && gotReal.nonEmpty)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"intersects join grew a cross plan:\n$plan")
  }

  test("shapeDistanceJoin: mixed-geometry parity with naive, each pair " +
    "exactly once, no cartesian") {
    import graft.functions.stDistance
    import spark.implicits._
    def box(id: Long, lox: Double, loy: Double, hix: Double, hiy: Double) =
      (id, graft.spatial.MBR(graft.spatial.Point(lox, loy),
        graft.spatial.Point(hix, hiy)): graft.spatial.Shape)
    def circle(id: Long, cx: Double, cy: Double, r: Double) =
      (id, graft.spatial.Circle(graft.spatial.Point(cx, cy), r): graft.spatial.Shape)
    def poly(id: Long, cx: Double, cy: Double, w: Double, h: Double) =
      (id, graft.spatial.Polygon(Array(
        graft.spatial.Point(cx - w, cy - h), graft.spatial.Point(cx + w, cy - h),
        graft.spatial.Point(cx + w, cy + h), graft.spatial.Point(cx - w, cy + h)))
        : graft.spatial.Shape)
    def pt(id: Long, x: Double, y: Double) =
      (id, graft.spatial.Point(x, y): graft.spatial.Shape)
    def seg(id: Long, ax: Double, ay: Double, bx: Double, by: Double) =
      (id, graft.spatial.LineSegment(graft.spatial.Point(ax, ay),
        graft.spatial.Point(bx, by)): graft.spatial.Shape)
    // overlapping big boxes + all five kinds on BOTH sides: near pairs,
    // far pairs, touching pairs, identical centers
    val lShapes = Seq(box(1, 0, 0, 100, 100), circle(2, 200, 200, 30),
      poly(3, 300, 300, 80, 80), pt(4, 75, 75), seg(5, -50, 0, -50, 200))
    val rShapes = Seq(box(10, 130, 130, 180, 180), box(11, -1000, -1000, 2000, 2000),
      circle(12, 310, 310, 30), pt(13, 75.0, 120.0), seg(14, 0, 250, 400, 250),
      box(15, 5000, 5000, 5001, 5001))
    def df(s: Seq[(Long, graft.spatial.Shape)], idName: String, shapeName: String) =
      s.map { case (id, sh) =>
        val (tag, coords) = graft.spatial.ShapeCodec.encode(sh)
        (id, tag, coords.toSeq)
      }.toDF(idName, "__t", "__c")
        .select(col(idName), struct(col("__t").as("tag"),
          col("__c").cast("array<double>").as("coords")).as(shapeName))
    val l = df(lShapes, "lid", "lshape")
    val r = df(rShapes, "rid", "rshape")
    def pairs(d: org.apache.spark.sql.DataFrame) = d.select("lid", "rid")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
    for (radius <- Seq(0.0, 25.0, 80.0)) {
      val q = l.shapeDistanceJoin(r, "lshape", "rshape", radius)
      val got = pairs(q)
      val want = pairs(l.crossJoin(r)
        .filter(stDistance(col("lshape"), col("rshape")) <= radius))
      assert(got === want && got.distinct === got,
        s"r=$radius: got=$got want=$want")
      if (radius == 80.0) assert(got.nonEmpty)
    }
    // a NULL shape drops out consistently (null bbox -> no cells)
    val withNull = df(lShapes, "lid", "lshape").unionByName(
      Seq(99L).toDF("lid").withColumn("lshape",
        lit(null).cast(l.schema("lshape").dataType)))
    assert(pairs(withNull.shapeDistanceJoin(r, "lshape", "rshape", 80.0)) ===
      pairs(l.shapeDistanceJoin(r, "lshape", "rshape", 80.0)))
    val plan = l.shapeDistanceJoin(r, "lshape", "rshape", 80.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"shape distance join grew a cross plan:\n$plan")
  }

  test("shapeKnnJoin: mixed-geometry parity with the naive window; " +
    "starved lefts exact; no unbounded cross") {
    import graft.functions.stDistance
    import spark.implicits._
    val rng = new scala.util.Random(5)
    def enc(sh: graft.spatial.Shape): (Int, Seq[Double]) = {
      val (t, c) = graft.spatial.ShapeCodec.encode(sh); (t, c.toSeq)
    }
    // left: all five kinds scattered over [0,1000]^2, incl. one OUTLIER
    // far from everything (its sampled theta radius under-covers ->
    // exercises the starved fallback)
    val lShapes: Seq[(Long, graft.spatial.Shape)] =
      (1L to 40L).map { i =>
        val x = rng.nextDouble() * 1000; val y = rng.nextDouble() * 1000
        val sh: graft.spatial.Shape = (i % 5) match {
          case 0 => graft.spatial.Point(x, y)
          case 1 => graft.spatial.MBR(graft.spatial.Point(x, y),
            graft.spatial.Point(x + 20, y + 15))
          case 2 => graft.spatial.Circle(graft.spatial.Point(x, y), 10)
          case 3 => graft.spatial.Polygon(Array(graft.spatial.Point(x, y),
            graft.spatial.Point(x + 25, y), graft.spatial.Point(x + 12, y + 18)))
          case _ => graft.spatial.LineSegment(graft.spatial.Point(x, y),
            graft.spatial.Point(x + 30, y + 5))
        }
        (i, sh)
      } :+ (99L -> (graft.spatial.Point(90000.0, 90000.0): graft.spatial.Shape))
    val rShapes: Seq[(Long, graft.spatial.Shape)] = (101L to 200L).map { i =>
      val x = rng.nextDouble() * 1000; val y = rng.nextDouble() * 1000
      val sh: graft.spatial.Shape =
        if (i % 3 == 0) graft.spatial.MBR(graft.spatial.Point(x, y),
          graft.spatial.Point(x + 8, y + 8))
        else graft.spatial.Point(x, y)
      (i, sh)
    }
    val l = lShapes.map { case (id, sh) => val (t, c) = enc(sh); (id, t, c) }
      .toDF("lid", "__t", "__c")
      .select(col("lid"), struct(col("__t").as("tag"),
        col("__c").cast("array<double>").as("coords")).as("lshape"))
    val r = rShapes.map { case (id, sh) => val (t, c) = enc(sh); (id, t, c) }
      .toDF("rid", "__t", "__c")
      .select(col("rid"), struct(col("__t").as("tag"),
        col("__c").cast("array<double>").as("coords")).as("rshape"))
    val got = l.shapeKnnJoin(r, "lshape", "rshape", 3, "lid", Seq("rid"))
      .select("lid", "rid").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lid"))
      .orderBy(col("__d").asc, col("rid").asc)
    val want = l.crossJoin(r)
      .withColumn("__d", stDistance(col("lshape"), col("rshape")))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 3)
      .select("lid", "rid").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
    assert(got === want && got.nonEmpty, "shape kNN join != naive window")
    // every left (including the starved outlier) got exactly k rows
    assert(got.groupBy(_._1).forall(_._2.size == 3))
    assert(got.exists(_._1 == 99L), "outlier left lost")
  }

  test("grid sizers sample, not take-first: size-sorted shape tables " +
    "pick the same cell side as shuffled ones") {
    import spark.implicits._
    import graft.spatial.ShapeCodec
    // 4096 boxes with spans growing linearly 1..4096, written SORTED by
    // size (the zoom-order tile layout): a limit(cap) sizer sees only
    // the first 512 (median ~256, ~8x under the true median ~2048) and
    // under-sizes the cell, exploding per-row fan-out. The seeded
    // sampler must read the sorted table like the shuffled one.
    def boxes(spans: DataFrame): DataFrame = spans.select(col("id"),
      struct(lit(ShapeCodec.TagMBR).as("tag"),
        array(lit(0.0), lit(0.0), col("span"), col("span")).as("coords")).as("shape"))
    val cap = 512
    def sampled(df: DataFrame): (Double, Double) = {
      val st = SpatialOps.shapeStats(df, "shape", cap, seed = 7)
      (SpatialOps.medianBoxSpan(st.sample.map(SpatialOps.sampleBox)),
        st.sample.length.toDouble / math.max(st.count, 1L))
    }
    val n = 4096
    val sorted = boxes((1 to n).map(i => (i.toLong, i.toDouble)).toDF("id", "span"))
      .repartitionByRange(8, col("id"))
    val shuffled = sorted.orderBy(rand(7)).repartition(8)
    val trueMedian = n / 2.0
    for ((df, tag) <- Seq((sorted, "sorted"), (shuffled, "shuffled"))) {
      val (m, frac) = sampled(df)
      assert(m > trueMedian * 0.5 && m < trueMedian * 2.0,
        s"$tag-table sampled median $m vs true $trueMedian — first-rows bias")
      assert(frac === cap.toDouble / n)
    }
    // small tables are taken whole: exact median, row order irrelevant
    val tiny = boxes((1 to 99).map(i => (i.toLong, i.toDouble)).toDF("id", "span"))
    assert(sampled(tiny) === ((50.0, 1.0)))
    // null shapes are skipped
    val withNulls = tiny.unionByName(Seq(100L).toDF("id")
      .select(col("id"), lit(null).cast(ShapeCodec.sqlType).as("shape")))
    assert(sampled(withNulls) === ((50.0, 1.0)))
    assert(sampled(tiny.filter(col("id") < 0))._1 === 0.0)
  }

  test("polygonDistanceJoin equals the naive shape-distance filter; no cartesian") {
    import graft.functions.{stDistance, stPoint}
    import graft.spatial.ShapeCodec
    // nation-derived rectangles as genuine polygon structs: centers on a
    // diagonal, so some customers are INSIDE (distance 0), some within
    // r of a boundary, most far away
    val ncx = col("n_nationkey").cast("double") * 400.0
    val ncy = col("n_nationkey").cast("double") * 40.0
    val polys = Tables.nation(spark, sf()).select(col("n_nationkey"),
      struct(lit(ShapeCodec.TagPolygon).as("tag"),
        array(ncx - 150.0, ncy - 20.0, ncx + 150.0, ncy - 20.0,
          ncx + 150.0, ncy + 20.0, ncx - 150.0, ncy + 20.0).as("coords"))
        .as("poly"))
    def pairs(df: DataFrame) = df.select("n_nationkey", "c_custkey")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val q = polys.polygonDistanceJoin(cust, "poly", Seq("cx", "cy"), 100.37)
    val got = pairs(q)
    val want = pairs(polys.join(cust,
      stDistance(col("poly"), stPoint(col("cx"), col("cy"))) <= 100.37))
    assert(got === want && got.nonEmpty)
    // inside points are kept at distance 0 (containment, not just rim)
    val inside = polys.join(cust,
      stDistance(col("poly"), stPoint(col("cx"), col("cy"))) === 0.0)
    assert(pairs(inside).nonEmpty && pairs(inside).subsetOf(got))
    // r=0 degrades to exact containment/boundary contact
    assert(pairs(polys.polygonDistanceJoin(cust, "poly", Seq("cx", "cy"), 0.0))
      === pairs(inside))
    // cell equi-join, never a cross plan
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"polygon join grew a cross plan:\n$plan")
  }

  test("polygonDistanceJoin takes circle bboxes from center ± radius") {
    import spark.implicits._
    import graft.functions.{stDistance, stPoint}
    import graft.spatial.ShapeCodec
    // circles [cx, cy, radius] centred on cell edges, points just across
    // an edge from the centre: a bbox read from the strided coords
    // (x over {cx, radius}, y = {cy}) missed every contained point whose
    // cell differs from the centre's, e.g. (1000, 995) in the circle
    // at (1000, 1000) of radius 10
    val circles = (1 to 5).map(i => (i, 1000.0 * i, 10.0)).toDF("cid", "c", "rad")
      .select(col("cid"), struct(lit(ShapeCodec.TagCircle).as("tag"),
        array(col("c"), col("c"), col("rad")).as("coords")).as("circ"))
    val offsets = Seq((0.0, -5.0), (0.0, 5.0), (-5.0, 0.0), (5.0, 0.0),
      (-7.0, -7.0), (0.0, -12.0), (12.0, 0.0), (-9.0, 9.0), (0.0, -30.0))
    val pts = (for (i <- 1 to 5; ((dx, dy), j) <- offsets.zipWithIndex)
      yield (i * 100L + j, 1000.0 * i + dx, 1000.0 * i + dy)).toDF("pid", "px", "py")
    def pairs(df: DataFrame) = df.select("cid", "pid").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    for (r <- Seq(0.0, 3.0)) {
      val got = pairs(circles.polygonDistanceJoin(pts, "circ", Seq("px", "py"), r))
      val want = pairs(circles.join(pts,
        stDistance(col("circ"), stPoint(col("px"), col("py"))) <= r))
      assert(got === want && got.contains((1, 100L)), s"r = $r")
    }
  }

  test("shape joins take tag-5 and tag-6 bboxes from the decoded shape") {
    import spark.implicits._
    import graft.functions.{stDistance, stIntersects}
    import graft.spatial.{MBR, Point, Polygon, Shape, ShapeCodec, ShapeCollection}
    // Collections of a box and a point, plus polygons with a hole. A
    // collection's part headers shift the coords' (x, y) stride — one
    // point (5, 100) encodes as [1, 0, 2, 5, 100] — so a bbox read from
    // the strided coords lands far from the shape (here y in ~[0, 230]
    // for shapes at y >= 1000) and the cell join drops true pairs.
    def shapeDf(id: String, c: String, shapes: Seq[Shape]): DataFrame =
      shapes.zipWithIndex.map { case (sh, i) =>
        val (tag, coords) = ShapeCodec.encode(sh); (i.toLong, tag, coords.toSeq)
      }.toDF(id, "__t", "__c")
        .select(col(id), struct(col("__t").as("tag"), col("__c").as("coords")).as(c))
    val lefts: Seq[Shape] = (0 until 5).map { i =>
      val (x, y) = (100.0 + 40 * i, 1000.0 + 40 * i)
      ShapeCollection(Array[Shape](MBR(Point(x, y), Point(x + 8, y + 8)),
        Point(x + 20, y + 25)))
    } :+ Polygon(
      Array(Point(300.0, 1200.0), Point(330.0, 1200.0), Point(330.0, 1230.0),
        Point(300.0, 1230.0)),
      Array(Array(Point(310.0, 1210.0), Point(320.0, 1210.0), Point(320.0, 1220.0),
        Point(310.0, 1220.0))))
    // points inside the boxes (some across the box midlines, so in other
    // cells than the box's low corner), on and near the parts' points,
    // in the polygon's ring and hole, and far away
    val rights: Seq[Shape] = (0 until 5).flatMap { i =>
      val (x, y) = (100.0 + 40 * i, 1000.0 + 40 * i)
      Seq(Point(x + 1, y + 1), Point(x + 7, y + 7), Point(x + 4, y + 6),
        Point(x + 20, y + 25), Point(x + 22, y + 26), Point(x + 30, y - 20))
    } ++ Seq(Point(302.0, 1202.0), Point(315.0, 1215.0), Point(328.0, 1229.0),
      Point(5.0, 100.0))
    val l = shapeDf("lid", "lshape", lefts)
    val r = shapeDf("rid", "rshape", rights)
    def pairs(df: DataFrame) = df.select("lid", "rid").as[(Long, Long)].collect().toSet
    val wantI = pairs(l.crossJoin(r).filter(stIntersects(col("lshape"), col("rshape"))))
    assert(wantI.size >= 15)
    assert(pairs(l.shapeIntersectsJoin(r, "lshape", "rshape")) === wantI)
    for (d <- Seq(0.0, 3.0)) {
      val want = pairs(l.crossJoin(r).filter(stDistance(col("lshape"), col("rshape")) <= d))
      assert(pairs(l.shapeDistanceJoin(r, "lshape", "rshape", d)) === want, s"r = $d")
    }
  }

  test("spreadForCross: a stats-free RDD-backed frame reads as unknown and spreads") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val target = spark.sparkContext.defaultParallelism
    val rdd = spark.sparkContext.parallelize((1 to 50).map(i => Row(i.toLong, i * 1.0)), 1)
    val df = spark.createDataFrame(rdd,
      StructType(Seq(StructField("id", LongType), StructField("x", DoubleType))))
    assert(df.rdd.getNumPartitions === 1) // precondition: one core's worth
    assert(SpatialOps.spreadForCross(df).rdd.getNumPartitions === target)
    // the naive join over it still runs spread and exact
    val r = Seq((7L, 3.0)).toDF("rid", "rx")
    val got = df.knnJoinNaive(r, Seq("x"), Seq("rx"), 1, "id", Seq("rid"))
    assert(got.count() === 50)
  }

  test("spatioTemporalJoin: pre-1970 timestamps cell with true floor " +
    "semantics (ADVICE r16)") {
    import spark.implicits._
    // timestamps straddling the epoch, including the exact adversarial
    // offsets from the advice: dtMillis = 300000, left at -599999 ms
    // (cell 0 under truncation, cell -1 under floor) vs right at
    // -899998 ms — |dt| = 299999 <= dt must pair
    val ms = Seq(-899998L, -599999L, -600000L, -1L, 0L, 1L, 299999L,
      -1200000L, 600000L, -300000L, 300000L)
    val l = ms.zipWithIndex.map { case (m, i) =>
      (i.toLong, new java.sql.Timestamp(m), 1.0, 1.0)
    }.toDF("event_id", "ts", "ex", "ey")
    val rSide = ms.zipWithIndex.map { case (m, i) =>
      ((i + 100).toLong, new java.sql.Timestamp(m), 1.0, 1.0)
    }.toDF("event_id2", "ts2", "ex2", "ey2")
    def pairs(df: DataFrame) = df.select("event_id", "event_id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(l.spatioTemporalJoin(rSide, Seq("ex", "ey"),
      Seq("ex2", "ey2"), "ts", "ts2", r = 5.0, dtMillis = 300000L))
    val want = pairs(l.join(rSide,
      graft.functions.pointDistance(Seq(col("ex"), col("ey")),
        Seq(col("ex2"), col("ey2"))) <= 5.0 &&
        abs(unix_millis(col("ts")) - unix_millis(col("ts2"))) <= 300000L))
    assert(got === want && got.nonEmpty,
      s"missing=${(want -- got).toSeq.sorted} extra=${(got -- want).toSeq.sorted}")
  }

  test("spreadForCross: stats gate spreads under-split small inputs — " +
    "including checkpointed fallback frames — without physical planning") {
    import spark.implicits._
    val target = spark.sparkContext.defaultParallelism
    // a tiny one-partition frame spreads to the default parallelism
    val tiny = (1 to 50).map(i => (i.toLong, i * 1.0)).toDF("id", "x")
      .coalesce(1)
    assert(SpatialOps.spreadForCross(tiny).rdd.getNumPartitions === target)
    // localCheckpoint keeps origin stats (the starved-fallback inputs)
    // — the gate must still see SMALL and spread, not read the default
    // Long.MaxValue estimate and skip
    val cp = tiny.localCheckpoint()
    assert(cp.rdd.getNumPartitions < target) // precondition: under-split
    assert(SpatialOps.spreadForCross(cp).rdd.getNumPartitions === target)
  }
}
