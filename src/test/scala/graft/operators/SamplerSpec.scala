package graft.operators

import graft.SparkSpec
import graft.operators.SpatialOps._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the estimator plumbing every kNN join builds on: the stats pass
  * (uniform bounded sampling with no partition-order bias, exact counts,
  * exact distributed kth-NN radii, one Spark job per input), and the
  * per-cell-theta sample floor that differs by cell geometry. Each
  * assertion here is the spec form of a measured 100-TB-class failure
  * (see BASELINE.md round-15 addenda): biased pivots once drained 72% of
  * a 10x slice's lefts into one Voronoi cell, and an extrapolated
  * density correction misestimated theta in BOTH directions at a 0.0013
  * sampling fraction. The job-count tests pin how many Spark jobs the
  * joins start while their plans are built.
  */
class SamplerSpec extends SparkSpec {
  import spark.implicits._

  /** `df` written as a fresh at-rest layout keyed by `keys`. */
  private def layoutOf(df: DataFrame, keys: Seq[String], tag: String,
                       cellBits: Int = 5): String = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_sampler_spec_$tag").toString
    graft.index.SpatialDisk.write(df, path, keys, cellBits)
    path
  }

  private def dist(a: Array[Double], b: Array[Double]): Double =
    math.sqrt(math.pow(a(0) - b(0), 2) + math.pow(a(1) - b(1), 2))

  test("stats pass: uniform cap reaches every partition band") {
    // 10 partitions, each a distinct x-band — the ingest-ordered shape.
    // A head-biased cap (sample(f).limit(cap) or bare limit(cap)) sees
    // only the first band(s); the uniform cap must span nearly all.
    val df = spark.range(0, 30000, 1, 10)
      .select((col("id") / lit(3000)).cast("long").as("band"),
        (col("id") % 3000).cast("double").as("off"))
      .select((col("band") * 1000.0 + col("off") / 3.0).as("x"),
        col("off").as("y"))
    val st = SpatialOps.pointStats(df, Seq("x", "y"), cap = 2000)
    assert(st.count == 30000)
    val pts = st.sample
    assert(pts.length == 2000)
    val bands = pts.map(p => math.floor(p(0) / 1000.0).toLong).distinct
    assert(bands.length >= 9,
      s"uniform sample must reach ~all 10 x-bands, saw ${bands.length}")
  }

  test("stats pass: exact k-th radii equal brute force") {
    val rng = new scala.util.Random(7)
    val rights = Array.fill(500)(Array(rng.nextDouble() * 100, rng.nextDouble() * 100))
    val probes = Array.fill(40)(Array(rng.nextDouble() * 100, rng.nextDouble() * 100))
    val rDf = rights.toSeq.map(a => (a(0), a(1))).toDF("rx", "ry")
      .repartition(7) // multiple partitions: exercises the tree merge
    // cap far under |right|: the radii must not come from the sample
    val got = SpatialOps.pointStats(rDf, Seq("rx", "ry"), cap = 50,
      probes = probes, k = 3).kth
    val want = probes.map(p => rights.map(dist(p, _)).sorted.apply(2))
    assert(got.length == probes.length)
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(math.abs(g - w) < 1e-9, s"probe $i: $g vs $w")
    }
  }

  test("sampleKnnRadii theta is sampling-fraction-stable (no extrapolated correction)") {
    // Same data, two right-side sizes (cap << n so the exact pass runs):
    // theta should track the TRUE kth-NN distance of each density, not
    // the sampling fraction. Doubling density with everything else
    // fixed must SHRINK theta (more neighbors closer), never inflate it
    // — the failure mode of the old rFrac^(1/d) correction at tiny
    // fractions was theta INFLATION on effectively-low-dim data.
    // n points scattered over the SAME ~[0,1000)^2 domain (multiplicative
    // lattice mod two distinct primes: the (x, y) sequence's period is
    // lcm(1009, 997) ≈ 1M, so all n points are distinct — deterministic,
    // no RNG), so growing n genuinely densifies
    def scatter(n: Int, a: Long, b: Long, px: String, py: String) =
      spark.range(0, n, 1, 8).select(
        ((col("id") * a) % 1009).cast("double").as(px),
        ((col("id") * b) % 997).cast("double").as(py))
    val l = scatter(2000, 53, 17, "lx", "ly")
    val thetaSparse = SpatialOps.sampleKnnRadii(
      l, scatter(8000, 37, 91, "rx", "ry"),
      Seq("lx", "ly"), Seq("rx", "ry"), k = 3, cap = 500, quantile = 0.95, safety = 2.0).theta
    val thetaDense = SpatialOps.sampleKnnRadii(
      l, scatter(64000, 37, 91, "rx", "ry"),
      Seq("lx", "ly"), Seq("rx", "ry"), k = 3, cap = 500, quantile = 0.95, safety = 2.0).theta
    assert(thetaDense < thetaSparse,
      s"8x denser right side must shrink theta: sparse $thetaSparse dense $thetaDense")
  }

  test("stats pass: exact k-th shape radii equal brute force") {
    import graft.spatial.{Shape, Point, MBR, ShapeCodec}
    val rng = new scala.util.Random(11)
    def pt() = Point(Array(rng.nextDouble() * 100, rng.nextDouble() * 100))
    def box() = {
      val x = rng.nextDouble() * 100; val y = rng.nextDouble() * 100
      MBR(Point(Array(x, y)),
        Point(Array(x + rng.nextDouble() * 5, y + rng.nextDouble() * 5)))
    }
    val rights: Array[Shape] = Array.fill(300)(if (rng.nextBoolean()) pt() else box())
    val probes: Array[Shape] = Array.fill(25)(if (rng.nextBoolean()) pt() else box())
    val rDf = rights.toSeq.map { s =>
      val (tag, coords) = ShapeCodec.encode(s); (tag, coords.toSeq)
    }.toDF("tag", "coords")
      .select(struct(col("tag"), col("coords")).as("shp"))
      .repartition(5)
    val st = SpatialOps.shapeStats(rDf, "shp", cap = 30, seed = 42, probes = probes, k = 3)
    assert(st.count == 300 && st.sample.length == 30)
    val want = probes.map(p => rights.map(p.minDist).sorted.apply(2))
    st.kth.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(math.abs(g - w) < 1e-9, s"probe $i: $g vs $w")
    }
  }

  test("stats pass: count is exact with nulls over several partitions") {
    val df = spark.range(0, 1000, 1, 6).select(
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id").cast("double")).as("x"),
      when(col("id") % 11 === 0, lit(null)).otherwise(col("id") * 2.0).as("y"))
    val nonNull = (0 until 1000).count(i => i % 7 != 0 && i % 11 != 0)
    for (cap <- Seq(0, 10, 5000)) {
      val st = SpatialOps.pointStats(df, Seq("x", "y"), cap)
      assert(st.count == nonNull, s"cap $cap")
      assert(st.sample.length == math.min(cap, nonNull), s"cap $cap")
      assert(st.sample.forall(p => !p(0).isNaN && p(1) == 2 * p(0)))
    }
  }

  test("stats pass: cap >= n returns every non-null row") {
    val df = spark.range(0, 300, 1, 4).select(
      col("id").cast("double").as("x"),
      when(col("id") % 5 === 0, lit(null)).otherwise(-col("id").cast("double")).as("y"))
    val st = SpatialOps.pointStats(df, Seq("x", "y"), cap = 300)
    val want = (0 until 300).filter(_ % 5 != 0).map(i => (i.toDouble, -i.toDouble))
    assert(st.count == want.length)
    assert(st.sample.map(p => (p(0), p(1))).sorted.toSeq == want)
  }

  test("stats pass: the same seed and partitioning give the same sample") {
    val df = spark.range(0, 5000, 1, 5)
      .select(col("id").cast("double").as("x"), (col("id") % 97).cast("double").as("y"))
    def draw(seed: Long) = SpatialOps.pointStats(df, Seq("x", "y"), cap = 200, seed = seed)
      .sample.map(_.toSeq).toSeq
    val a = draw(42)
    assert(a.length == 200)
    assert(draw(42) == a, "same seed, same partitioning: same rows in the same order")
    assert(draw(7) != a, "another seed draws another sample")
    // ascending priority order: a prefix is the smaller cap's sample
    assert(SpatialOps.pointStats(df, Seq("x", "y"), cap = 50).sample.map(_.toSeq).toSeq ==
      a.take(50))
  }

  test("stats pass: an empty input gives count 0 and no rows; the verbs still refuse it") {
    val empty = Seq.empty[(Long, Double, Double)].toDF("rid", "rx", "ry")
    val probes = Array(Array(1.0, 2.0))
    for (df <- Seq(empty, spark.range(0, 10, 1, 3)
        .select(col("id").as("rid"), lit(null).cast("double").as("rx"), lit(1.0).as("ry")))) {
      val st = SpatialOps.pointStats(df, Seq("rx", "ry"), cap = 10, probes = probes, k = 2)
      assert(st.count == 0 && st.sample.isEmpty && st.kth.isEmpty)
    }
    val l = Seq((1L, 0.0, 0.0), (2L, 5.0, 5.0)).toDF("lid", "lx", "ly")
    val grid = intercept[IllegalArgumentException](
      l.knnJoin(empty, Seq("lx", "ly"), Seq("rx", "ry"), 1, "lid", Seq("rid")))
    assert(grid.getMessage.contains("right side is empty"))
    val pivot = intercept[IllegalArgumentException](
      l.knnJoinPivot(empty, Seq("lx", "ly"), Seq("rx", "ry"), 1, "lid", Seq("rid")))
    assert(pivot.getMessage.contains("right side is empty"))
  }

  test("stats pass: k >= |right| gives the farthest right as the k-th radius") {
    val rights = Array(Array(0.0, 0.0), Array(3.0, 4.0), Array(10.0, 0.0))
    val rDf = rights.toSeq.map(a => (a(0), a(1))).toDF("rx", "ry").repartition(2)
    val probes = Array(Array(0.0, 0.0), Array(6.0, 8.0))
    for (k <- Seq(3, 4, 10)) {
      val got = SpatialOps.pointStats(rDf, Seq("rx", "ry"), cap = 1, probes = probes, k = k).kth
      val want = probes.map(p => rights.map(dist(p, _)).max)
      assert(got.toSeq == want.toSeq, s"k = $k")
    }
  }

  test("stats pass: one Spark job per input") {
    import graft.spatial.{MBR, Point, ShapeCodec}
    // over the cap on both sides, two partitions each
    def pts(n: Int, x: String, y: String) = spark.range(0, n, 1, 2)
      .select((col("id") % 101).cast("double").as(x), (col("id") % 89).cast("double").as(y))
    val (l, r) = (pts(3000, "lx", "ly"), pts(4000, "rx", "ry"))
    assert(jobsOf(SpatialOps.sampleKnnRadii(l, r, Seq("lx", "ly"), Seq("rx", "ry"),
      k = 3, cap = 500, quantile = 0.95, safety = 2.0)) == 2)
    val boxes = spark.range(0, 2000, 1, 2).as[Long].map { i =>
      val (tag, c) = ShapeCodec.encode(MBR(Point(i % 50 * 1.0, i % 31 * 1.0),
        Point(i % 50 + 2.0, i % 31 + 3.0)))
      (tag, c.toSeq)
    }.toDF("tag", "coords").select(struct(col("tag"), col("coords")).as("shp"))
    assert(jobsOf(SpatialOps.sampleBoxes(boxes, "shp", cap = 512, seed = 7)) == 1)
  }

  test("joins reject shared column names, naming verb and column, before any job") {
    import graft.operators.VectorOps._
    val (l, r) = (Seq((1L, 0.0, 0.0)).toDF("lid", "x", "ly"),
      Seq((2L, 1.0, 1.0)).toDF("rid", "x", "ry"))
    val (lv, rv) = (Seq((1L, Seq(0f, 1f), 0.0)).toDF("lid", "lv", "x"),
      Seq((2L, Seq(1f, 0f), 1.0)).toDF("rid", "rv", "x"))
    val (lk, rk) = (Seq("x", "ly"), Seq("x", "ry"))
    val layout = layoutOf(r, rk, "disjoint")
    val verbs: Seq[(String, () => Any)] = Seq(
      "knnJoin" -> (() => l.knnJoin(r, lk, rk, 1, "lid", Seq("rid"))),
      "knnJoinPivot" -> (() => l.knnJoinPivot(r, lk, rk, 1, "lid", Seq("rid"))),
      "zknnJoin" -> (() => l.zknnJoin(r, lk, rk, 1, "lid", "rid", Seq("rid"))),
      "knnJoinNaive" -> (() => l.knnJoinNaive(r, lk, rk, 1, "lid", Seq("rid"))),
      "knnJoinVec" -> (() => lv.knnJoinVec(rv, "lv", "rv", "lid", 1, Seq("rid"))),
      "distanceJoinNaive" -> (() => l.distanceJoinNaive(r, lk, rk, 1.0)),
      "SpatialDisk.knnJoin" -> (() =>
        graft.index.SpatialDisk.knnJoin(l, lk, layout, 1, "lid", Seq("rid"))),
      "SpatialDisk.distanceJoin" -> (() =>
        graft.index.SpatialDisk.distanceJoin(l, lk, layout, 1.0)))
    for ((verb, call) <- verbs) {
      var msg = ""
      val jobs = jobsOf {
        msg = intercept[IllegalArgumentException](call()).getMessage
      }
      assert(msg == s"requirement failed: $verb requires disjoint column names, shared: x")
      assert(jobs == 0, s"$verb started $jobs jobs before rejecting")
    }
  }

  test("kNN joins start a fixed number of jobs at build time") {
    import graft.spatial.{MBR, Point, ShapeCodec}
    // two partitions per side, distinct points (the lattice period
    // lcm(101, 89) exceeds both sizes)
    def pts(n: Int, id: String, x: String, y: String) = spark.range(0, n, 1, 2)
      .select(col("id").as(id), (col("id") * 37 % 101).cast("double").as(x),
        (col("id") * 53 % 89).cast("double").as(y))
    val (l, r) = (pts(600, "lid", "lx", "ly"), pts(800, "rid", "rx", "ry"))
    val (lk, rk) = (Seq("lx", "ly"), Seq("rx", "ry"))
    val grid = jobsOf(l.knnJoin(r, lk, rk, 3, "lid", Seq("rid")))
    val pivot = jobsOf(l.knnJoinPivot(r, lk, rk, 3, "lid", Seq("rid")))
    val boxes = spark.range(0, 300, 1, 2).as[Long].map { i =>
      val (tag, c) = ShapeCodec.encode(MBR(Point(i * 37 % 101 * 1.0, i * 53 % 89 * 1.0),
        Point(i * 37 % 101 + 2.0, i * 53 % 89 + 3.0)))
      (i, tag, c.toSeq)
    }.toDF("lid", "tag", "coords")
      .select(col("lid"), struct(col("tag"), col("coords")).as("lshape"))
    val shapePts = r.select(col("rid"), struct(lit(ShapeCodec.TagPoint).as("tag"),
      array(col("rx"), col("ry")).as("coords")).as("rshape"))
    val shape = jobsOf(boxes.shapeKnnJoin(shapePts, "lshape", "rshape", 3, "lid",
      Seq("rid")))
    // the layout join's three build actions (stats pass, candidate-cell
    // set, top-k checkpoint) run as 6 jobs, counting their shuffle
    // stages; at 8 x 8 cells no left starves, so the plan holds no
    // rescue union
    val layout = layoutOf(r, rk, "jobs", cellBits = 3)
    var joined: DataFrame = null
    val disk = jobsOf { joined = graft.index.SpatialDisk.knnJoin(l, lk, layout, 3, "lid",
      Seq("rid")) }
    assert(!joined.queryExecution.optimizedPlan.toString.contains("Union"))
    assert((grid, pivot, shape, disk) == (9, 8, 5, 6))
  }

  test("perCellQuantile: minSamples gates sparse-sampled cells, default keeps all") {
    val cells = Array.fill(10)("dense") ++ Array("sparse", "sparse")
    val radii = Array.tabulate(10)(i => 1.0 + i * 0.1) ++ Array(0.2, 0.3)
    val all = SpatialOps.perCellQuantile(cells, radii, 0.95, cap = 10.0)
    assert(all.keySet == Set("dense", "sparse"))
    assert(all("sparse") == 0.3) // 2-sample "quantile" is the max sample
    val floored = SpatialOps.perCellQuantile(cells, radii, 0.95, cap = 10.0, minSamples = 8)
    assert(floored.keySet == Set("dense"),
      "a 2-sample cell must fall back to the global theta under the pivot floor")
  }
}
