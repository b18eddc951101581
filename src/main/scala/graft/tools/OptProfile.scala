package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.operators.SpatialOps._
import graft.operators.VectorOps._

/** Round-16 optimization profiler: times ONE named bench-shaped entry
  * in isolation (cold + two steady repeats) with optional conf
  * overrides, so a regression can be attributed to a phase without
  * re-running the whole sweep. Not part of the driver contract — a
  * measurement harness like [[ExplainPlans]] / [[ScaleTrend]].
  *
  * Usage: OptProfile <entry> [conf=value ...]
  *   e.g. OptProfile b6v spark.graft.knn.maxPivots=4096
  */
object OptProfile {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", s"$cpus")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "8g")
    args.drop(1).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      b.config(k, v)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.install(spark)

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def entry(name: String): DataFrame = name match {
      case "b6v" =>
        val left = embeddings(spark, d).select(col("vec_id"), col("embedding"))
        val right = embeddings(spark, d).select(
          col("vec_id").as("vec_id2"), col("embedding").as("embedding2"))
        left.knnJoinVec(right, "embedding", "embedding2", "vec_id", 3, Seq("vec_id2"))
      case "b6v_cross" =>
        // the cross+kernel stage alone (narrow projection, no window)
        val left = embeddings(spark, d).select(col("vec_id"), col("embedding"))
        val right = embeddings(spark, d).select(
          col("vec_id").as("vec_id2"), col("embedding").as("embedding2"))
        left.crossJoin(right)
          .select(col("vec_id"), col("vec_id2"),
            graft.functions.l2Distance(col("embedding"), col("embedding2")).as("__d"))
      case "b6v_narrow_win" =>
        // cross + narrow projection + window, no hydrate
        import org.apache.spark.sql.expressions.Window
        val left = embeddings(spark, d).select(col("vec_id"), col("embedding"))
        val right = embeddings(spark, d).select(
          col("vec_id").as("vec_id2"), col("embedding").as("embedding2"))
        val w = Window.partitionBy(col("vec_id")).orderBy(col("__d").asc, col("vec_id2").asc)
        left.crossJoin(right)
          .select(col("vec_id"), col("vec_id2"),
            graft.functions.l2Distance(col("embedding"), col("embedding2")).as("__d"))
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 3)
      case "b6v_naive" =>
        import org.apache.spark.sql.expressions.Window
        val left = embeddings(spark, d).select(col("vec_id"), col("embedding"))
        val right = embeddings(spark, d).select(
          col("vec_id").as("vec_id2"), col("embedding").as("embedding2"))
        val w = Window.partitionBy(col("vec_id")).orderBy(col("__d").asc, col("vec_id2").asc)
        left.crossJoin(right)
          .withColumn("__d", graft.functions.l2Distance(col("embedding"), col("embedding2")))
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 3)
      case "b5p" =>
        customerPts(spark, d).knnJoinPivot(renamed(spark, d),
          Seq("cx", "cy"), Seq("c2x", "c2y"), 3, "c_custkey", Seq("c2_custkey"))
      case "b5g" =>
        customerPts(spark, d).knnJoin(renamed(spark, d),
          Seq("cx", "cy"), Seq("c2x", "c2y"), 3, "c_custkey", Seq("c2_custkey"))
      case "b5hd" =>
        spark.conf.set(graft.GraftConf.KnnJoinAlgo, "auto")
        val l4 = pts4d(spark, d, "l")
        val r4 = pts4d(spark, d, "r")
        try l4.knnJoinAuto(r4, Seq("lx", "ly", "lz", "lw"),
          Seq("rx", "ry", "rz", "rw"), 3, "lid", "rid", Seq("rid"))
        finally spark.conf.unset(graft.GraftConf.KnnJoinAlgo)
      case "b5s_pivot" =>
        skewedPts(spark, d, "l").knnJoinPivot(skewedPts(spark, d, "r")
            .select(col("rid").as("rid"), col("rx"), col("ry")),
          Seq("lx", "ly"), Seq("rx", "ry"), 3, "lid", Seq("rid"))
      case "b4st" =>
        val l = eventsPts(spark, d)
        val rSide = eventsPts(spark, d).select(col("event_id").as("event_id2"),
          col("ts").as("ts2"), col("ex").as("ex2"), col("ey").as("ey2"))
        l.spatioTemporalJoin(rSide, Seq("ex", "ey"), Seq("ex2", "ey2"),
            "ts", "ts2", r = 5.0, dtMillis = 300000L)
          .filter(col("event_id") < col("event_id2"))
      case "b4sts" =>
        def skew(df: DataFrame, x: String, y: String): DataFrame =
          df.withColumn(x, when(col("__id") % 10 < 3, pmod(col(x), lit(10.0)))
              .otherwise(col(x)))
            .withColumn(y, when(col("__id") % 10 < 3, pmod(col(y), lit(10.0)))
              .otherwise(col(y)))
            .drop("__id")
        val ls = skew(eventsPts(spark, d).withColumn("__id", col("event_id")),
          "ex", "ey")
        val rs = skew(eventsPts(spark, d)
          .select(col("event_id").as("event_id2"), col("ts").as("ts2"),
            col("ex").as("ex2"), col("ey").as("ey2"))
          .withColumn("__id", col("event_id2")), "ex2", "ey2")
        ls.spatioTemporalJoin(rs, Seq("ex", "ey"), Seq("ex2", "ey2"),
            "ts", "ts2", r = 5.0, dtMillis = 300000L)
          .filter(col("event_id") < col("event_id2"))
      case "b8pr" =>
        val e = lineitem(spark, d)
          .select(col("l_suppkey").as("src"), (col("l_partkey") + 50000000L).as("dst"))
          .distinct()
        graft.operators.GraphOps.pageRank(e, "src", "dst", iters = 3)
      case "b8b" =>
        import graft.operators.CorpusOps._
        documents(spark, d).boilerplateScore("doc_id", "text", n = 5, minDocs = 2L)
      case "b8tc" =>
        val li = lineitem(spark, d).select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val pairs = li.as("x").join(li.as("y"), Seq("ok"))
          .filter(col("x.pk") < col("y.pk"))
          .select(col("x.pk").as("src"), col("y.pk").as("dst"))
        graft.operators.GraphOps.triangleCounts(pairs, "src", "dst")
      case other => sys.error(s"unknown entry $other")
    }

    val name = args.headOption.getOrElse("b6v")
    if (sys.env.get("OPT_EXPLAIN").contains("1")) entry(name).explain("formatted")
    for (i <- 0 until 3) {
      val t0 = System.nanoTime()
      noop(entry(name))
      println(f"[optprofile] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }

  private def renamed(s: SparkSession, d: String): DataFrame =
    customerPts(s, d).select(col("c_custkey").as("c2_custkey"),
      col("cx").as("c2x"), col("cy").as("c2y"))

  private def pts4d(s: SparkSession, d: String, p: String): DataFrame =
    customerPts(s, d).select(
      col("c_custkey").as(s"${p}id"),
      col("cx").as(s"${p}x"),
      col("cy").as(s"${p}y"),
      (col("c_custkey") % 773).cast("double").as(s"${p}z"),
      (col("c_custkey") % 337).cast("double").as(s"${p}w"))
}
