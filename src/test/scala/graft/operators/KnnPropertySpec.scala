package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}

import graft.SparkSpec
import graft.operators.SpatialOps._
import graft.operators.VectorOps._

/** Generated differential tests: every exact kNN verb — grid, flat and
  * hierarchical pivot, shape, vector, the at-rest layout join, and the
  * z-order join's exact rescue — returns its naive twin's rows, every
  * column and the right-id tie-break included, on hostile inputs. Each
  * input kind is one scalacheck property with a fixed seed, so a run is
  * reproducible and a failure reports the generated case. */
class KnnPropertySpec extends SparkSpec {

  /** Both sides' points (None: a null key), k and the radius safety. */
  private case class KnnCase(kind: String, dims: Int, lPts: Seq[Option[Seq[Double]]],
                             rPts: Seq[Option[Seq[Double]]], k: Int, safety: Double) {
    override def toString: String =
      s"$kind d=$dims |l|=${lPts.size} |r|=${rPts.size} k=$k safety=$safety " +
        s"l=${lPts.take(4)}... r=${rPts.take(4)}..."
  }

  // Integer lattice points (span 6: duplicates and k-th distance ties
  // everywhere) mapped through `at`; sizes up to 300 rights so some
  // cases reach the hierarchical pivot route (> 256 pivots at cell size 1).
  private def caseGen(kind: String): Gen[KnnCase] = for {
    dims <- Gen.oneOf(2, 4)
    nL <- if (kind == "empty left") Gen.const(0) else Gen.choose(1, 40)
    nR <- if (kind == "empty right") Gen.const(0)
          else Gen.oneOf(Gen.choose(1, 40), Gen.choose(257, 300))
    seed <- Gen.choose(0L, 1L << 30)
  } yield {
    val rng = new scala.util.Random(seed)
    def lattice(): Seq[Double] = kind match {
      // on one line: d(l, r) = d(l, s) + d(s, r) exactly for s between
      case "collinear" => rng.nextInt(40).toDouble +: Seq.fill(dims - 1)(0.0)
      case _ => Seq.fill(dims)(rng.nextInt(6).toDouble)
    }
    // exact maps, so ties stay ties
    val at: Seq[Double] => Seq[Double] = kind match {
      case "negative" => _.map(_ - 1e6)
      case "extreme span" => p => if (rng.nextBoolean()) p.map(_ * 1e12) else p.map(_ / (1L << 30))
      case _ => identity
    }
    val nulls = if (kind == "null keys") 3 else 0
    KnnCase(kind, dims,
      Seq.fill(nL)(Some(at(lattice()))) ++ Seq.fill(nulls)(None),
      Seq.fill(nR)(Some(at(lattice()))) ++ Seq.fill(nulls)(None),
      k = if (kind == "k >= |right|") nR + 2 else 3,
      safety = if (kind == "mass starvation") 0.05 else 2.0)
  }

  private def pointFrames(c: KnnCase): (DataFrame, DataFrame) = {
    def frame(id: String, p: String, pts: Seq[Option[Seq[Double]]], base: Long) =
      spark.createDataFrame(java.util.Arrays.asList(pts.zipWithIndex.map { case (q, i) =>
        Row.fromSeq((base + i) +: q.map(_.map(Double.box)).getOrElse(Seq.fill(c.dims)(null)))
      }: _*), StructType(StructField(id, LongType) +:
        (0 until c.dims).map(d => StructField(s"$p$d", DoubleType))))
    (frame("lid", "lx", c.lPts, 0L), frame("rid", "rx", c.rPts, 1000L))
  }

  // left boxes (a point, grown by up to 2 x 1 lattice steps), right
  // points, both on the first two coordinates
  private def shapeFrames(c: KnnCase): (DataFrame, DataFrame) = {
    import graft.spatial.{MBR, Point, ShapeCodec}
    val shp = StructType(Seq(StructField("tag", IntegerType),
      StructField("coords", ArrayType(DoubleType))))
    def enc(s: graft.spatial.Shape) = { val (t, cs) = ShapeCodec.encode(s); Row(t, cs.toSeq) }
    val step = c.lPts.flatten.flatten.map(math.abs).filter(_ > 0).reduceOption(_ min _)
      .getOrElse(1.0)
    val l = spark.createDataFrame(java.util.Arrays.asList(c.lPts.zipWithIndex.map {
      case (p, i) => Row(i.toLong, p.map(a => enc(MBR(Point(a(0), a(1)),
        Point(a(0) + i % 3 * step, a(1) + i % 2 * step)))).orNull)
    }: _*), StructType(Seq(StructField("lid", LongType), StructField("lshape", shp))))
    val r = spark.createDataFrame(java.util.Arrays.asList(c.rPts.zipWithIndex.map {
      case (p, i) => Row(1000L + i, p.map(a => enc(Point(a(0), a(1)))).orNull)
    }: _*), StructType(Seq(StructField("rid", LongType), StructField("rshape", shp))))
    (l, r)
  }

  private def vecFrames(c: KnnCase): (DataFrame, DataFrame) = {
    val (l, r) = pointFrames(c)
    def vec(df: DataFrame, p: String, out: String) = df.select(col(df.columns.head),
      when((0 until c.dims).map(d => col(s"$p$d").isNotNull).reduce(_ && _),
        array((0 until c.dims).map(d => col(s"$p$d").cast("float")): _*)).as(out))
    (vec(l, "lx", "lv"), vec(r, "rx", "rv"))
  }

  // the naive twin: cross product, `dist`, per-left row_number by
  // (dist, rid)
  private def twin(l: DataFrame, r: DataFrame, k: Int, dist: org.apache.spark.sql.Column,
                   keep: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val w = Window.partitionBy(col("lid")).orderBy(col("__d").asc, col("rid").asc)
    l.crossJoin(r).withColumn("__d", dist).filter(col("__d").isNotNull)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
      .select((l.columns ++ r.columns).map(col) ++ keep: _*)
  }

  private def rowsOf(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted

  private def verbs(c: KnnCase): Seq[(String, () => DataFrame, DataFrame)] = {
    val (pl, pr) = pointFrames(c)
    val (lk, rk) = ((0 until c.dims).map(d => s"lx$d"), (0 until c.dims).map(d => s"rx$d"))
    val pointTwin = pl.knnJoinNaive(pr, lk, rk, c.k, "lid", Seq("rid"))
    val (sl, sr) = shapeFrames(c)
    val (vl, vr) = vecFrames(c)
    val nR = c.rPts.count(_.nonEmpty)
    // the layout holds no null key and no empty table (its write refuses
    // both); null-key rights never pair, so the twin is unchanged
    val layout = if (nR == 0) Nil else {
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_knn_property_layout").toString
      graft.index.SpatialDisk.write(pr.na.drop(rk), path, rk,
        cellBits = 16 / c.dims min 5, bits = 62 / c.dims min 18)
      Seq(("layout", () => graft.index.SpatialDisk.knnJoin(pl, lk, path, c.k, "lid",
        Seq("rid")), pointTwin))
    }
    layout ++ Seq(
      ("pivot flat", () => pl.knnJoinPivot(pr, lk, rk, c.k, "lid", Seq("rid"),
        numPivots = 8, safety = c.safety), pointTwin),
      ("shape", () => sl.shapeKnnJoin(sr, "lshape", "rshape", c.k, "lid", Seq("rid"),
        safety = c.safety),
        twin(sl, sr, c.k, graft.functions.stDistance(col("lshape"), col("rshape")), Nil)),
      ("vector", () => vl.knnJoinVec(vr, "lv", "rv", "lid", c.k, Seq("rid"),
        numPivots = 8, safety = c.safety),
        twin(vl, vr, c.k, graft.functions.l2Distance(col("lv"), col("rv")),
          Seq(col("__d").as("l2"))))) ++
    // cell size 1 reaches the two-level route past 256 rights
    (if (nR > SpatialOps.HierPivotThreshold) Seq(("pivot hierarchical", () => {
      spark.conf.set(graft.GraftConf.KnnPivotCellSize, "1")
      try pl.knnJoinPivot(pr, lk, rk, c.k, "lid", Seq("rid"), safety = c.safety)
      finally spark.conf.unset(graft.GraftConf.KnnPivotCellSize)
    }, pointTwin)) else Nil) ++
    // the grid join is 2-D; the curve join is exact only where its
    // rescue carries every left: fewer rights than k
    (if (c.dims == 2) Seq(("grid", () => pl.knnJoin(pr, lk, rk, c.k, "lid", Seq("rid"),
      safety = c.safety), pointTwin)) else Nil) ++
    (if (c.k > nR) Seq(("zorder rescue", () => pl.zknnJoin(pr, lk, rk,
      c.k, "lid", "rid", Seq("rid")), pointTwin)) else Nil)
  }

  /** Every verb on one case: its rows equal its twin's — or, for an
    * empty right, where the grid, pivot and vector verbs refuse the
    * input, it raises that documented error — and under mass
    * starvation, or for the layout join on any case, no plan it ran,
    * build or action, holds a cross product. */
  private def property(kind: String): Prop =
    Prop.forAllNoShrink(caseGen(kind)) { c =>
      val emptyRight = c.rPts.forall(_.isEmpty)
      val twins = scala.collection.mutable.Map.empty[DataFrame, Seq[String]]
      Prop.all(verbs(c).map { case (name, run, want) =>
        val (got, plans) = withBuildPlans(
          try Right(rowsOf(run(), want.columns))
          catch { case e: IllegalArgumentException => Left(e.getMessage) })
        val exact = got match {
          case Right(rows) => rows == twins.getOrElseUpdate(want, rowsOf(want, want.columns))
          case Left(msg) => emptyRight && msg.contains("right side is empty")
        }
        val cross = (c.kind == "mass starvation" || name == "layout") && plans.exists(p =>
          p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
        Prop(exact && !cross) :| s"$name: ${if (!exact) "rows differ" else "ran a cross"}"
      }: _*)
    }

  for ((kind, seed) <- Seq("ties and duplicates", "collinear", "empty left", "empty right",
      "k >= |right|", "negative", "extreme span", "null keys", "mass starvation").zipWithIndex)
    test(s"every exact kNN verb equals its naive twin: $kind") {
      val params = Test.Parameters.default.withMinSuccessfulTests(1).withWorkers(1)
        .withInitialSeed(org.scalacheck.rng.Seed(1000L + seed))
      val result = Test.check(params, property(kind))
      assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
    }
}
