package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.operators.SpatialOps._

/** In-process A/B of the kNN-join candidate materialization
  * (`spark.graft.knn.materializeCandidates`): alternates the two modes
  * within one JVM so JIT state, cache residency, and ambient load hit
  * both sides equally (between-process runs of the same entry drift up
  * to 2.5x on this host — single-run comparisons are meaningless).
  * Prints per-entry medians for each mode. Not part of the driver
  * contract; a measurement tool.
  *
  * Usage: AbBench [sfDir] [reps]
  */
object AbBench {

  private def entries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "b5_knn_join_grid" -> ((s: SparkSession, d: String) =>
      customerPts(s, d).knnJoin(supplierPts(s, d), Seq("cx", "cy"), Seq("sx", "sy"),
        3, "c_custkey", Seq("s_suppkey"))),
    "b5_knn_join_zorder" -> ((s: SparkSession, d: String) =>
      customerPts(s, d).zknnJoin(supplierPts(s, d), Seq("cx", "cy"), Seq("sx", "sy"),
        3, "c_custkey", "s_suppkey", Seq("s_suppkey"))),
    "b5_knn_join_pivot" -> ((s: SparkSession, d: String) =>
      customerPts(s, d).knnJoinPivot(supplierPts(s, d), Seq("cx", "cy"), Seq("sx", "sy"),
        3, "c_custkey", Seq("s_suppkey"))),
    "b5s_knn_join_skew_grid" -> ((s: SparkSession, d: String) =>
      skewedPts(s, d, "l").knnJoin(skewedPts(s, d, "r"), Seq("lx", "ly"),
        Seq("rx", "ry"), 3, "lid", Seq("rid"))),
    "b5s_knn_join_skew_pivot" -> ((s: SparkSession, d: String) =>
      skewedPts(s, d, "l").knnJoinPivot(skewedPts(s, d, "r"), Seq("lx", "ly"),
        Seq("rx", "ry"), 3, "lid", Seq("rid")))
  )

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup both modes once (JIT + codegen)
    Seq("true", "false").foreach { m =>
      spark.conf.set(graft.GraftConf.KnnMaterialize, m)
      entries.head._2(spark, sfDir).count()
    }

    val times = scala.collection.mutable.Map[(String, String), List[Double]]()
      .withDefaultValue(Nil)
    for (r <- 1 to reps; (name, fn) <- entries; mode <- Seq("true", "false")) {
      spark.conf.set(graft.GraftConf.KnnMaterialize, mode)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val w = (System.nanoTime() - t0) / 1e9
      times((name, mode)) ::= w
      System.err.println(f"[ab] rep$r $name mat=$mode $w%.2f s")
    }
    def med(xs: List[Double]): Double = xs.sorted.apply(xs.size / 2)
    println("entry, median_materialize_on, median_materialize_off, all_on, all_off")
    entries.foreach { case (name, _) =>
      val on = times((name, "true"))
      val off = times((name, "false"))
      println(f"$name, ${med(on)}%.2f, ${med(off)}%.2f, " +
        on.map(x => f"$x%.2f").mkString("[", " ", "]") + ", " +
        off.map(x => f"$x%.2f").mkString("[", " ", "]"))
    }
    spark.stop()
  }
}
