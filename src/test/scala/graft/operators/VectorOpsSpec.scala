package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables
import graft.operators.VectorOps._

class VectorOpsSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf())

  private def cosScala(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0) 0.0 else dot / den
  }

  private lazy val all: Array[(Long, Array[Float])] =
    emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  test("cosineTopK matches scala brute force bit-for-bit") {
    val q = all.find(_._1 == 1L).get._2
    val got = emb.cosineTopK("embedding", "vec_id", q, 5)
      .select("vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val want = all.map { case (id, v) => (id, cosScala(v, q)) }
      .sortBy { case (id, c) => (-c, id) }.take(5)
    assert(got.toSeq === want.toSeq)
  }

  test("similarityJoinExact returns exactly the above-threshold pairs") {
    val right = emb.select(col("vec_id").as("vec_id2"),
      col("embedding").as("embedding2"))
    val got = emb.similarityJoinExact(right, "embedding", "embedding2",
      "vec_id", "vec_id2", 0.3)
      .filter(col("vec_id") < col("vec_id2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      i <- all.indices; j <- (i + 1) until all.length
      if cosScala(all(i)._2, all(j)._2) >= 0.3
    } yield (math.min(all(i)._1, all(j)._1), math.max(all(i)._1, all(j)._1))).toSet
    assert(got === want)
  }

  test("similarityJoinExact hoisted-norm cosine is bit-identical to the kernel") {
    import spark.implicits._
    // includes a zero vector: the hoisted form must keep cosineF's
    // zero-denominator -> 0.0 contract, not divide by zero
    val data = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(-1.5f, 0.25f, 8.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f)),
      (4L, Array(0.1f, -0.2f, 0.3f))).toDF("id", "v")
    val r = data.select(col("id").as("id2"), col("v").as("v2"))
    // threshold -2 keeps every pair (cosine >= -1), so the value of each
    // pair is compared, not just membership above a cut
    val got = data.similarityJoinExact(r, "v", "v2", "id", "id2", -2.0)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    val want = data.crossJoin(r)
      .withColumn("cos", graft.functions.cosineSimilarity(col("v"), col("v2")))
      .collect().map(x => (x.getLong(0), x.getLong(2)) -> x.getDouble(4)).toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) =>
      assert(java.lang.Double.doubleToRawLongBits(v) ===
        java.lang.Double.doubleToRawLongBits(want(k)), s"pair $k")
    }
  }

  test("embeddingNearDupPairs: exact precision, candidates subset of exact join") {
    val got = emb.embeddingNearDupPairs("embedding", "vec_id",
      threshold = 0.25, planes = 16, bandBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byId = all.toMap
    got.foreach { case (a, b, c) =>
      assert(c === cosScala(byId(a), byId(b)))
      assert(c >= 0.25 && a < b)
    }
  }

  test("cosineTopKLsh returns a subset of the scan ranked identically") {
    val q = all.find(_._1 == 0L).get._2
    val got = emb.cosineTopKLsh("embedding", "vec_id", q, 5)
      .select("vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.nonEmpty)
    // scores must be exact and sorted desc
    got.foreach { case (id, c) => assert(c === cosScala(byIdOf(id), q)) }
    assert(got.map(-_._2).toSeq === got.map(-_._2).sorted.toSeq)
    // the query vector itself always shares all bands with itself
    assert(got.head._1 === 0L && got.head._2 === 1.0)
  }

  test("cosineTopKLsh recall against the exact top-k (fixed data, fixed seed)") {
    // the recall property the driver oracle deliberately does NOT carry
    // (it is corpus-size-dependent); pinned here on deterministic data —
    // the dd_minhash_pairs split between contract oracle and spec
    val q = all.find(_._1 == 0L).get._2
    val k = 10
    val got = emb.cosineTopKLsh("embedding", "vec_id", q, k)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val want = all.map { case (id, v) => (id, cosScala(v, q)) }
      .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1).toSet
    val recall = got.count(want).toDouble / want.size
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }

  test("cosineTopKIvf: exact scores, self in top-1, decent recall at nprobe=8") {
    val q = all.find(_._1 == 0L).get._2
    val got = emb.cosineTopKIvf("embedding", "vec_id", q, 10, nlist = 16, nprobe = 8)
      .select("vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.nonEmpty)
    got.foreach { case (id, c) => assert(c === cosScala(byIdOf(id), q)) }
    assert(got.head._1 === 0L && got.head._2 === 1.0)
    val want = all.map { case (id, v) => (id, cosScala(v, q)) }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    val recall = got.map(_._1).count(want).toDouble / want.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
  }

  test("knnJoinVec (pivot over embedding space) equals brute-force kNN join") {
    import org.apache.spark.sql.expressions.Window
    val left = emb.select(col("vec_id"), col("embedding"))
    val right = emb.select(col("vec_id").as("vec_id2"), col("embedding").as("embedding2"))
    val got = left.knnJoinVec(right, "embedding", "embedding2", "vec_id",
        k = 3, tieBreak = Seq("vec_id2"), numPivots = 8, sampleCap = 200)
      .select("vec_id", "vec_id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("__d").asc, col("vec_id2").asc)
    val want = left.crossJoin(right)
      .withColumn("__d", graft.functions.l2Distance(col("embedding"), col("embedding2")))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 3)
      .select("vec_id", "vec_id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
  }

  test("knnJoinVec takes the pivot path on clustered data and stays exact") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 8 tight, well-separated clusters: kth-NN distances are tiny next to
    // inter-cluster distances, so the admit-fraction gate picks pivots.
    // sampleCap ABOVE the table size (whole-table sample): a subsample
    // that leaves clusters with < k sampled members inflates theta past
    // the admit-fraction gate and the verb silently returns the naive
    // plan — which is how a pivot-path-only break once slipped through
    // this very test (ADVICE r7).
    val rng = new scala.util.Random(7)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextDouble() * 100f))
    val rows = (0 until 320).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.1).toFloat))
    }
    val left = rows.toDF("vid", "vec")
    val right = rows.map { case (id, v) => (id, v) }.toDF("vid2", "vec2")
    val joined = left.knnJoinVec(right, "vec", "vec2", "vid", k = 3,
      tieBreak = Seq("vid2"), numPivots = 8, sampleCap = 400)
    // pin the code path: the pivot plan carries the cell equi-join
    // (__graft_rcell) — the naive plan has no cell columns at all. (The
    // exact-fallback branch for starved lefts legitimately contains a
    // cross join, so assert the pivot markers, not cross-join absence.)
    val plan = joined.queryExecution.optimizedPlan.toString
    assert(plan.contains("__graft_rcell"), s"pivot path not taken:\n$plan")
    val got = joined
      .select("vid", "vid2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = Window.partitionBy(col("vid")).orderBy(col("__d").asc, col("vid2").asc)
    val want = left.crossJoin(right)
      .withColumn("__d", graft.functions.l2Distance(col("vec"), col("vec2")))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 3)
      .select("vid", "vid2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    // the exposed distance column must survive the pivot path (the r7
    // break: the top-k split dropped __graft_d before outCols selected it)
    val l2s = joined.filter(col("vid") === col("vid2")).select("l2").collect()
    assert(l2s.nonEmpty && l2s.forall(_.getDouble(0) === 0.0))
  }

  test("knnJoinVec approx escape hatch: engages under the tripped gate, " +
    "no cross plan, recall >= 0.9 on clustered data") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // same clustered shape as the pivot test, but safety=1e9 inflates
    // theta so the admit-fraction gate TRIPS on purpose — the exact
    // verb would hand back the quadratic cross-window plan
    val rng = new scala.util.Random(11)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextDouble() * 100f))
    val rows = (0 until 320).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.1).toFloat))
    }
    val left = rows.toDF("vid", "vec")
    val right = rows.map { case (id, v) => (id, v) }.toDF("vid2", "vec2")
    def run() = left.knnJoinVec(right, "vec", "vec2", "vid", k = 3,
      tieBreak = Seq("vid2"), numPivots = 8, sampleCap = 400,
      safety = 1e9)
    // gate tripped + conf off -> the exact cross-window plan (contract)
    val exactPlan = run().queryExecution.optimizedPlan.toString
    assert(!exactPlan.contains("__cell"), "gate did not trip as intended")
    spark.conf.set(graft.GraftConf.KnnVecApprox, "true")
    try {
      val approx = run()
      val plan = approx.queryExecution.optimizedPlan.toString
      // approx path engaged: the cell equi-join markers. (The starved-
      // left fallback branch legitimately contains a cross join over
      // the — typically empty — uncovered set, the same precedent as
      // the pivot path's exact fallback, so assert the markers, not
      // cross-join absence.)
      assert(plan.contains("__cell") && plan.contains("__probes"),
        s"approx path not taken:\n$plan")
      val got = approx.select("vid", "vid2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val w = Window.partitionBy(col("vid")).orderBy(col("__d").asc, col("vid2").asc)
      val want = left.crossJoin(right)
        .withColumn("__d", graft.functions.l2Distance(col("vec"), col("vec2")))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 3)
        .select("vid", "vid2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = got.intersect(want).size.toDouble / want.size
      assert(recall >= 0.9, f"approx recall $recall%.3f < 0.9")
      // key parity: the conf changes WHICH neighbors, never which left
      // ids appear (starved lefts route to the exact fallback)
      assert(got.map(_._1) === want.map(_._1),
        "approx route dropped or invented left ids")
      // schema parity with the exact verb (callers switch via conf only)
      assert(approx.columns.toSeq === Seq("vid", "vec", "vid2", "vec2", "l2"))
    } finally spark.conf.unset(graft.GraftConf.KnnVecApprox)
  }

  test("knnJoinVec approx: two-level quantizer (nlist >= 64) holds recall " +
    "on clustered data") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(13)
    val centers = Array.fill(8)(Array.fill(16)((rng.nextDouble() * 100).toFloat))
    val rows = (0 until 320).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.1).toFloat))
    }
    val left = rows.toDF("vid", "vec")
    val right = rows.map { case (id, v) => (id, v) }.toDF("vid2", "vec2")
    spark.conf.set(graft.GraftConf.KnnVecApprox, "true")
    spark.conf.set(graft.GraftConf.KnnVecApproxNlist, "64")
    try {
      val approx = left.knnJoinVec(right, "vec", "vec2", "vid", k = 3,
        tieBreak = Seq("vid2"), sampleCap = 400, safety = 1e9)
      val plan = approx.queryExecution.optimizedPlan.toString
      // markers, not cross-absence: the starved fallback branch has one
      assert(plan.contains("__cell") && plan.contains("__probes"),
        s"two-level path not taken:\n$plan")
      val got = approx.select("vid", "vid2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val w = Window.partitionBy(col("vid")).orderBy(col("__d").asc, col("vid2").asc)
      val want = left.crossJoin(right)
        .withColumn("__d", graft.functions.l2Distance(col("vec"), col("vec2")))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 3)
        .select("vid", "vid2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = got.intersect(want).size.toDouble / want.size
      assert(recall >= 0.9, f"two-level approx recall $recall%.3f < 0.9")
    } finally {
      spark.conf.unset(graft.GraftConf.KnnVecApprox)
      spark.conf.unset(graft.GraftConf.KnnVecApproxNlist)
    }
  }

  test("knnJoinVec returns empty (not crash) on an empty left side") {
    val none = emb.select(col("vec_id"), col("embedding")).filter(lit(false))
    val right = emb.select(col("vec_id").as("vec_id2"), col("embedding").as("embedding2"))
    assert(none.knnJoinVec(right, "embedding", "embedding2", "vec_id",
      k = 3, tieBreak = Seq("vec_id2")).count() === 0)
  }

  test("IVF disk layout: probed scan prunes partitions, scores exact") {
    // explicit file:// URI: the whole layout (data + centroid metadata)
    // must round-trip through hadoop-filesystem IO, never java.nio —
    // the same code path an hdfs:// or s3a:// deployment would take
    val path = "file://" + java.nio.file.Files.createTempDirectory("graft_ivf").toString
    emb.writeIvf(path, "embedding", "vec_id", nlist = 8)
    val q = all.find(_._1 == 0L).get._2
    val got = VectorOps.readIvfTopK(spark, path, "embedding", "vec_id", q, 5, nprobe = 4)
    val rows = got.select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.nonEmpty && rows.head._1 === 0L && rows.head._2 === 1.0)
    rows.foreach { case (id, c) => assert(c === cosScala(byIdOf(id), q)) }
    // the probe must reach the scan as directory-level partition pruning
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__graft_cell"), plan)
  }

  test("plain-IVF delete: tombstoned vectors never rank; compact folds " +
    "bit-identically; fsck round-trips; legacy layouts refuse") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_del")
    val path = "file://" + dir.toString
    emb.writeIvf(path, "embedding", "vec_id", nlist = 8)
    val q = all.find(_._1 == 1L).get._2
    def topk() = VectorOps.readIvfTopK(spark, path, "embedding", "vec_id",
      q, 8, nprobe = 8).select("vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = topk()
    VectorOps.deleteFromIvf(spark, path,
      emb.filter(col("vec_id") % 4 === 1).select(col("vec_id")), "vec_id")
    val after = topk()
    assert(!after.exists(_._1 % 4 == 1), "a tombstoned vector ranked")
    // full probes (nprobe = nlist) = the deleted read is exactly the
    // brute-force cosine top-k over the survivors
    assert(before.nonEmpty && before.exists(_._1 % 4 == 1),
      "fixture too weak: no tombstoned id in the pre-delete top-k")
    val want = emb.filter(col("vec_id") % 4 =!= 1)
      .cosineTopK("embedding", "vec_id", q, 8)
      .select("vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after === want, "deleted read != survivor top-k at full probes")
    // the read refuses a mismatched id column once waves exist
    val eCol = intercept[IllegalArgumentException] {
      VectorOps.readIvfTopK(spark, path, "embedding", "other", q, 3)
    }
    assert(eCol.getMessage.contains("keyed by"), eCol.getMessage)
    // fsck: tombstones inventoried, all green
    val rows = VectorOps.fsckIvf(spark, path).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2))).toSeq
    assert(rows.forall(_._2), s"fsck not green after delete: $rows")
    assert(rows.exists(r => r._1 == "tombstones" && r._3.contains("vec_id")))
    // compact folds: SAME centroids and assignments, so reads are
    // bit-identical minus the anti-join; tombstones dir gone
    VectorOps.compactIvf(spark, path)
    assert(topk() === after, "compacted read != tombstoned read")
    assert(!new java.io.File(dir.toString, "tombstones").exists())
    assert(VectorOps.fsckIvf(spark, path).collect().forall(_.getBoolean(1)))
    // a torn delete (unadmitted tombstone token) is a no-op
    import spark.implicits._
    emb.filter(col("vec_id") % 4 === 2)
      .select(col("vec_id").as("__graft_tomb_id"))
      .withColumn("__graft_token", lit("never-admitted"))
      .write.mode("append").parquet(s"$path/tombstones")
    assert(topk() === after, "unadmitted tombstones deleted something")
    // a legacy untokened layout refuses the delete verb loudly
    val dir2 = java.nio.file.Files.createTempDirectory("graft_ivf_del_leg")
    val path2 = "file://" + dir2.toString
    emb.writeIvf(path2, "embedding", "vec_id", nlist = 8)
    val m2 = spark.read.textFile(s"$path2/centroids").collect()
      .find(_.startsWith("[[")).get
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir2.toString, "centroids"))
    java.nio.file.Files.write(
      dir2.resolve("centroids.json"), m2.getBytes("UTF-8"))
    val stripped = spark.read.parquet(s"$path2/data").drop("__graft_token")
    stripped.write.mode("overwrite").parquet(s"$path2/data_tmp")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir2.toString, "data"))
    org.apache.commons.io.FileUtils.moveDirectory(
      new java.io.File(dir2.toString, "data_tmp"),
      new java.io.File(dir2.toString, "data"))
    val eLeg = intercept[IllegalArgumentException] {
      VectorOps.deleteFromIvf(spark, path2,
        emb.limit(3).select(col("vec_id")), "vec_id")
    }
    assert(eLeg.getMessage.contains("legacy"), eLeg.getMessage)
  }

  test("IVF read falls back to the legacy centroids.json metadata file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_legacy")
    val path = "file://" + dir.toString
    emb.writeIvf(path, "embedding", "vec_id", nlist = 8)
    // rewrite the layout as the pre-token, pre-text-directory format:
    // one centroids.json file holding the [[...],[...]] payload and
    // data WITHOUT the token column (a token on exactly one side is
    // the torn case and must be refused — covered below)
    val meta = spark.read.textFile(s"$path/centroids").collect()
      .find(_.startsWith("[[")).get
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir.toString, "centroids"))
    java.nio.file.Files.write(
      dir.resolve("centroids.json"), meta.getBytes("UTF-8"))
    val stripped = spark.read.parquet(s"$path/data").drop("__graft_token")
    stripped.write.mode("overwrite").parquet(s"$path/data_tmp")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir.toString, "data"))
    org.apache.commons.io.FileUtils.moveDirectory(
      new java.io.File(dir.toString, "data_tmp"),
      new java.io.File(dir.toString, "data"))
    val q = all.find(_._1 == 0L).get._2
    val rows = VectorOps.readIvfTopK(spark, path, "embedding", "vec_id", q, 5, nprobe = 4)
      .select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.nonEmpty && rows.head._1 === 0L)
    rows.foreach { case (id, c) => assert(c === cosScala(byIdOf(id), q)) }
    // the torn case: TOKENED data under untokened metadata (a legacy
    // rewrite that crashed between the data and centroids jobs) is
    // refused, never silently probed with stale centroids
    val dir2 = java.nio.file.Files.createTempDirectory("graft_ivf_torn")
    val path2 = "file://" + dir2.toString
    emb.writeIvf(path2, "embedding", "vec_id", nlist = 8)
    val m2 = spark.read.textFile(s"$path2/centroids").collect()
      .find(_.startsWith("[[")).get
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir2.toString, "centroids"))
    java.nio.file.Files.write(
      dir2.resolve("centroids.json"), m2.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      VectorOps.readIvfTopK(spark, path2, "embedding", "vec_id", q, 5,
        nprobe = 4).collect()
    }
    assert(e.getMessage.contains("no token line"), e.getMessage)
  }

  private def byIdOf(id: Long): Array[Float] = all.find(_._1 == id).get._2

  test("quantizeInt8: values in [-127,127], dequantization error bounded, zero vector safe") {
    import spark.implicits._
    val withZero = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((9999L, Array.fill(4)(0.0f))).toDF("vec_id", "embedding"))
    val rows = withZero.quantizeInt8("embedding", "vec_id")
      .join(withZero, Seq("vec_id"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val q = r.getSeq[Int](r.fieldIndex("q"))
      val v = r.getSeq[Float](r.fieldIndex("embedding"))
      assert(q.forall(x => x >= -127 && x <= 127))
      if (scale == 0.0) assert(q.forall(_ == 0))
      else {
        // max dequantization error = half a quantization step
        val step = scale / 127.0
        q.zip(v).foreach { case (qi, vi) =>
          assert(math.abs(qi * step - vi) <= step / 2 + 1e-9,
            s"vec ${r.getLong(0)}: $qi * $step vs $vi")
        }
      }
    }
  }

  test("quantizeInt8: an input column named 'scale' is not clobbered") {
    import spark.implicits._
    val in = Seq((1L, Array(1.0f, -2.0f), 999.0), (2L, Array(0.0f, 4.0f), 888.0))
      .toDF("vec_id", "embedding", "scale")
    val out = in.quantizeInt8("embedding", "vec_id").collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("scale")).toMap
    // the emitted scale is the computed max-abs, not the input column
    assert(out(1L) === 2.0 && out(2L) === 4.0)
  }

  test("kmeansAssign replays exactly against an independent driver Lloyd's") {
    val k = 6; val iters = 2; val seedL = 42L; val scale = 65536.0
    val got = emb.kmeansAssign("embedding", "vec_id", k, iters)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // independent replay from the raw floats: quantize, Knuth-hash
    // seeds, strict-< argmin (first minimum = lowest cluster id),
    // integer-exact centroid sums — the operator's whole contract
    val q: Array[(Long, Array[Long])] = all.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * scale).toLong)
    }
    def hash(id: Long) = ((id + seedL) * 2654435761L) % 4294967296L
    var centers = q.sortBy { case (id, _) => (hash(id), id) }
      .take(k).map(_._2.map(_.toDouble))
    def assignOf(cs: Array[Array[Double]], v: Array[Long]): Int = {
      var best = 0; var bd = Double.MaxValue
      for (c <- cs.indices) {
        var s = 0.0; var i = 0
        while (i < v.length) { val d = v(i).toDouble - cs(c)(i); s += d * d; i += 1 }
        if (s < bd) { bd = s; best = c }
      }
      best
    }
    for (_ <- 1 to iters) {
      val dim = q.head._2.length
      val sums = Array.fill(k)(new Array[Long](dim))
      val cnt = new Array[Long](k)
      q.foreach { case (_, v) =>
        val c = assignOf(centers, v); cnt(c) += 1
        var i = 0; while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      centers = centers.zipWithIndex.map { case (old, c) =>
        if (cnt(c) == 0L) old else sums(c).map(_.toDouble / cnt(c).toDouble)
      }
    }
    val want = q.map { case (id, v) => id -> assignOf(centers, v) }.toMap
    assert(got === want)
    assert(got.values.toSet.size > 1, "degenerate: everything in one cluster")
  }

  test("kmeansAssign stays correct at large k (codegen-fallback envelope)") {
    // k*dim = 6144 literal constants in the argmin expression — past
    // whole-stage codegen's comfort zone; evaluation may fall back to
    // interpreted, but assignment must stay exact (verified against the
    // same independent replay as the small-k test, one iteration)
    val k = 96
    val got = emb.kmeansAssign("embedding", "vec_id", k, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.size === all.length)
    val q = all.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 65536.0).toLong) }
    def hash(id: Long) = ((id + 42L) * 2654435761L) % 4294967296L
    var centers = q.sortBy { case (id, _) => (hash(id), id) }
      .take(k).map(_._2.map(_.toDouble))
    def assignOf(cs: Array[Array[Double]], v: Array[Long]): Int = {
      var best = 0; var bd = Double.MaxValue
      for (c <- cs.indices) {
        var s = 0.0; var i = 0
        while (i < v.length) { val d = v(i).toDouble - cs(c)(i); s += d * d; i += 1 }
        if (s < bd) { bd = s; best = c }
      }
      best
    }
    val dim = q.head._2.length
    val sums = Array.fill(k)(new Array[Long](dim)); val cnt = new Array[Long](k)
    q.foreach { case (_, v) =>
      val c = assignOf(centers, v); cnt(c) += 1
      var i = 0; while (i < dim) { sums(c)(i) += v(i); i += 1 }
    }
    centers = centers.zipWithIndex.map { case (old, c) =>
      if (cnt(c) == 0L) old else sums(c).map(_.toDouble / cnt(c).toDouble) }
    val want = q.map { case (id, v) => id -> assignOf(centers, v) }.toMap
    assert(got === want)
  }

  test("kmeansAssign is partition-independent") {
    val a = emb.kmeansAssign("embedding", "vec_id", k = 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val b = emb.repartition(7).kmeansAssign("embedding", "vec_id", k = 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(a === b)
  }

  test("cosineTopKIvfTrained: exact scores, self top-1, recall >= untrained on clusters") {
    import spark.implicits._
    // 8 tight clusters: trained centroids settle one per dense region,
    // so probing the query's cell covers its true neighbors; the
    // hash-sampled quantizer has no such guarantee
    val rng = new scala.util.Random(13)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextDouble() * 100f))
    val rows = (0 until 320).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.1).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = rows.head._2
    val exact = df.cosineTopK("embedding", "vec_id", q, 10)
      .select("vec_id", "cos").collect().map(r => r.getLong(0) -> r.getDouble(1))
    val trained = df.cosineTopKIvfTrained("embedding", "vec_id", q, 10,
      nlist = 8, nprobe = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    // self found, scores bit-exact vs the exact scan's
    assert(trained.exists(_._1 == 0L))
    val exactMap = exact.toMap
    trained.foreach { case (id, c) =>
      exactMap.get(id).foreach(e => assert(c === e, s"vec $id")) }
    val untrained = df.cosineTopKIvf("embedding", "vec_id", q, 10,
      nlist = 8, nprobe = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val exactIds = exact.map(_._1).toSet
    val rTrained = trained.map(_._1).toSet.intersect(exactIds).size
    val rUntrained = untrained.intersect(exactIds).size
    assert(rTrained >= rUntrained,
      s"trained recall $rTrained < untrained $rUntrained")
    assert(rTrained >= 8, s"trained recall only $rTrained/10")
  }

  test("cosineTopKPq: exact re-ranked scores, self top-1, high recall on clusters") {
    import spark.implicits._
    // same clustered shape as the trained-IVF spec: per-subspace
    // codebooks settle on the per-cluster slice means, so ADC ranks the
    // query's own cluster first and the refine set covers the true top-k
    val rng = new scala.util.Random(17)
    val centers = Array.fill(8)(Array.fill(32)(rng.nextDouble() * 100f))
    val rows = (0 until 320).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.1).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = rows.head._2
    val exact = df.cosineTopK("embedding", "vec_id", q, 10)
      .select("vec_id", "cos").collect().map(r => r.getLong(0) -> r.getDouble(1))
    val pq = df.cosineTopKPq("embedding", "vec_id", q, 10,
      m = 4, ksub = 8, refine = 40, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(pq.length == 10)
    assert(pq.maxBy(_._2)._1 == 0L, "self not top-1")
    // returned scores are the exact kernel's (re-rank is exact cosine)
    val exactMap = exact.toMap
    pq.foreach { case (id, c) =>
      exactMap.get(id).foreach(e => assert(c === e, s"vec $id")) }
    val recall = pq.map(_._1).toSet.intersect(exact.map(_._1).toSet).size
    assert(recall >= 8, s"pq recall only $recall/10")
  }

  test("cosineTopKPq is partition-independent and guards its parameters") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val rows = (0 until 96).map(i =>
      (i.toLong, Array.fill(16)((rng.nextDouble() * 10).toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val q = rows.head._2
    def run(d: org.apache.spark.sql.DataFrame) =
      d.cosineTopKPq("embedding", "vec_id", q, 5, m = 4, ksub = 4,
          refine = 20, iters = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(run(df) === run(df.repartition(7)))
    // dim not divisible by m
    assertThrows[IllegalArgumentException] {
      df.cosineTopKPq("embedding", "vec_id", q, 5, m = 3)
    }
    // empty input -> empty frame, not a crash
    assert(df.filter(col("vec_id") < 0)
      .cosineTopKPq("embedding", "vec_id", q, 5).count() == 0L)
  }

  test("cosineTopKIvfPq: composed index — exact scores, self top-1, cluster recall") {
    import spark.implicits._
    val rng = new scala.util.Random(41)
    val centers = Array.fill(8)(Array.fill(32)(rng.nextDouble() * 100f))
    val rows = (0 until 320).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.1).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = rows.head._2
    val exact = df.cosineTopK("embedding", "vec_id", q, 10)
      .select("vec_id", "cos").collect().map(r => r.getLong(0) -> r.getDouble(1))
    val got = df.cosineTopKIvfPq("embedding", "vec_id", q, 10,
      nlist = 8, nprobe = 2, m = 4, ksub = 8, refine = 40, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(got.length == 10)
    assert(got.maxBy(_._2)._1 == 0L, "self not top-1")
    val exactMap = exact.toMap
    got.foreach { case (id, c) =>
      exactMap.get(id).foreach(e => assert(c === e, s"vec $id")) }
    val recall = got.map(_._1).toSet.intersect(exact.map(_._1).toSet).size
    assert(recall >= 8, s"ivf-pq recall only $recall/10")
    // the cell filter actually prunes: candidates all sit in probed cells
    val assign = df.kmeansAssign("embedding", "vec_id", k = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probedCells = got.map { case (id, _) => assign(id) }.toSet
    assert(probedCells.size <= 2, s"results span ${probedCells.size} cells > nprobe")
  }

  test("cosineTopKIvfPq residual mode: recall at equal codes beats raw PQ " +
    "on clustered data; raw path unchanged") {
    import spark.implicits._
    // tight clusters: raw PQ's 4-center subspace codebooks can only
    // encode coarse cluster position, so every member of the query's
    // cluster collides onto one code and ADC cannot rank within it;
    // residual codebooks spend the same bits on WITHIN-cluster offsets
    val rng = new scala.util.Random(5)
    val centers = Array.fill(8)(Array.fill(16)((rng.nextDouble() * 10).toFloat))
    val rows = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.2).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = rows(3)._2
    val k = 10
    val exactIds = df.cosineTopK("embedding", "vec_id", q, k)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // equal codes (m=4, ksub=4), all cells probed so ONLY ADC quality
    // differs, small refine so the ADC ranking is what recall rides on
    def run(res: Boolean) = df.cosineTopKIvfPq("embedding", "vec_id", q, k,
      nlist = 8, nprobe = 8, m = 4, ksub = 4, refine = 15, iters = 2,
      residual = res)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val raw = run(res = false)
    val resd = run(res = true)
    val rawRecall = raw.map(_._1).toSet.intersect(exactIds).size
    val resRecall = resd.map(_._1).toSet.intersect(exactIds).size
    // the claim under test: equal bits spent on residuals rank strictly
    // better than on raw vectors (measured 7/10 vs 5/10 on this fixture)
    assert(resRecall > rawRecall,
      s"residual recall $resRecall/$k not above raw $rawRecall/$k")
    assert(resRecall >= 7, s"residual recall only $resRecall/$k (raw $rawRecall/$k)")
    // re-ranked scores stay exact in residual mode
    val cosMap = all0(df).toMap
    resd.foreach { case (id, c) => assert(c === cosScala(cosMap(id), q)) }
  }

  private def all0(df: org.apache.spark.sql.DataFrame): Array[(Long, Array[Float])] =
    df.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  test("IVF-PQ disk layout: identical results to the in-memory verb, " +
    "cells pruned, vectors read only for the refine set") {
    val q = all.find(_._1 == 1L).get._2
    for (res <- Seq(false, true)) {
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_ivfpq_spec_$res").toString
      emb.writeIvfPq(path, "embedding", "vec_id",
        nlist = 8, m = 4, ksub = 4, iters = 2, residual = res)
      val disk = VectorOps.readIvfPqTopK(spark, path, "embedding", "vec_id",
        q, 10, nprobe = 4, refine = 40)
      val mem = emb.cosineTopKIvfPq("embedding", "vec_id", q, 10,
        nlist = 8, nprobe = 4, m = 4, ksub = 4, refine = 40, iters = 2,
        residual = res)
      val dv = disk.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val mv = mem.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(dv === mv, s"disk != memory at residual=$res")
      assert(dv.nonEmpty)
      // probe pruning reaches the scan as PartitionFilters; the refine
      // read carries the bounded id IN filter
      val plan = disk.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("__graft_cell"),
        s"no partition pruning in refine scan:\n$plan")
      assert(plan.contains("In(vec_id"),
        s"no id IN pushdown in refine scan:\n$plan")
    }
  }

  test("vector layout reads list only probed cell directories, not the layout") {
    // pre-listing pruning (the SpatialDisk discipline ported to the
    // vector family): at real cell counts the full directory LISTING
    // dominates a selective query even when PartitionFilters prune the
    // scan — so the probed cells must become explicit reader paths
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_prune")
    val path = "file://" + dir.toString
    emb.writeIvfPq(path, "embedding", "vec_id", nlist = 8, m = 4, ksub = 4,
      iters = 2)
    val totalCells = new java.io.File(dir.toString, "data").listFiles()
      .count(_.getName.startsWith("__graft_cell="))
    assert(totalCells > 4, s"fixture too small to observe pruning: $totalCells")
    val q = all.find(_._1 == 1L).get._2
    // single-query read: 2 probed cells -> at most 2 listed directories
    graft.index.PrunedCellScan.lastPathCount.set(-1L)
    val fsBefore = graft.index.PrunedCellScan.fsCalls.get()
    val rows = VectorOps.readIvfPqTopK(spark, path, "embedding", "vec_id",
      q, 5, nprobe = 2, refine = 20).collect()
    assert(rows.nonEmpty)
    val listed = graft.index.PrunedCellScan.lastPathCount.get()
    assert(listed >= 1 && listed <= 2 && listed < totalCells,
      s"single-query read listed $listed of $totalCells cell dirs")
    // one listStatus per pruned read, never per-candidate probes
    assert(graft.index.PrunedCellScan.fsCalls.get() - fsBefore <= 2,
      "pruning must issue ONE cell-level listing per read")
    // join read: the wave's probed-cell union, still < the layout
    import spark.implicits._
    val wave = all.take(3).map { case (id, v) => (id + 10000, v) }.toSeq
      .toDF("wv_id", "wv")
    graft.index.PrunedCellScan.lastPathCount.set(-1L)
    val joined = VectorOps.readIvfPqTopKJoin(wave, "wv", "wv_id", path,
      "embedding", "vec_id", k = 3, nprobe = 1, refine = 10).collect()
    assert(joined.nonEmpty)
    val jListed = graft.index.PrunedCellScan.lastPathCount.get()
    assert(jListed >= 1 && jListed <= 3 && jListed < totalCells,
      s"join read listed $jListed of $totalCells cell dirs")
    // the IVF (non-PQ) read prunes the same way
    val path2 = "file://" + java.nio.file.Files
      .createTempDirectory("graft_ivf_prune").toString
    emb.writeIvf(path2, "embedding", "vec_id", nlist = 8)
    graft.index.PrunedCellScan.lastPathCount.set(-1L)
    val ivfRows = VectorOps.readIvfTopK(spark, path2, "embedding", "vec_id",
      q, 5, nprobe = 3).collect()
    assert(ivfRows.nonEmpty)
    val iListed = graft.index.PrunedCellScan.lastPathCount.get()
    assert(iListed >= 1 && iListed <= 3,
      s"ivf read listed $iListed cell dirs for nprobe=3")
  }

  test("IVF-PQ disk layout: a torn meta/data pair is refused, not mis-ranked") {
    val q = all.find(_._1 == 1L).get._2
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfpq_spec_torn").toString
    emb.writeIvfPq(path, "embedding", "vec_id", nlist = 8, m = 4, ksub = 4,
      iters = 2)
    // simulate the failure the token exists for: a rewrite that replaced
    // one artifact but not the other — same codebooks, different token
    import spark.implicits._
    val tampered = spark.read.textFile(s"$path/meta").collect().toSeq
      .map(l => if (l.startsWith("token=")) "token=some-other-write" else l)
    spark.createDataset(tampered).coalesce(1).write.mode("overwrite")
      .text(s"$path/meta")
    val e = intercept[Throwable] {
      VectorOps.readIvfPqTopK(spark, path, "embedding", "vec_id", q, 10,
        nprobe = 4, refine = 40).collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .flatMap(t => Option(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("write-token mismatch")),
      s"torn layout not refused: $msgs")
  }

  test("repairIvfPq: a torn wave rolls back — fsck red -> repair -> " +
    "green, reads answer like the pre-tear layout") {
    val q = all.find(_._1 == 1L).get._2
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfpq_spec_repair").toString
    emb.writeIvfPq(path, "embedding", "vec_id", nlist = 8, m = 4, ksub = 4,
      iters = 2)
    // tombstones survive a repair: delete some ids first
    VectorOps.deleteFromIvfPq(spark, path,
      emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")), "vec_id")
    def topk() = VectorOps.readIvfPqTopK(spark, path, "embedding", "vec_id",
      q, 10, nprobe = 8, refine = 40).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = topk()
    // inject a torn wave: rows land in the data dir under a token the
    // meta never admitted
    spark.read.parquet(s"$path/data").limit(17)
      .withColumn("__graft_token", lit("never-admitted"))
      .withColumn("vec_id", col("vec_id") + 500000L)
      .write.mode("append").partitionBy("__graft_cell")
      .parquet(s"$path/data")
    val torn = VectorOps.fsckIvfPq(spark, path).collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(!torn("data_tokens")._1 &&
      torn("data_tokens")._2.contains("repairIvfPq"),
      s"fsck must name the torn wave and the repair verb: $torn")
    // reads refuse the torn layout (the token assert) — repair is the exit
    VectorOps.repairIvfPq(spark, path)
    assert(VectorOps.fsckIvfPq(spark, path).collect().forall(_.getBoolean(1)),
      "repair did not restore an all-green fsck")
    assert(topk() === want,
      "repaired layout answers differently from the pre-tear one")
    // repair on a healthy layout is a no-op (same answers)
    VectorOps.repairIvfPq(spark, path)
    assert(topk() === want)
  }

  test("appendIvfPq: waves reach exact parity at full probes; id clashes refused") {
    for (res <- Seq(false, true)) {
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_ivfpq_spec_append_$res").toString
      val a = emb.filter(col("vec_id") % 2 === 0)
      val b = emb.filter(col("vec_id") % 2 =!= 0)
      a.writeIvfPq(path, "embedding", "vec_id", nlist = 8, m = 4, ksub = 4,
        iters = 2, residual = res)
      b.appendIvfPq(path, "embedding", "vec_id")
      // exactness escape: probing every cell with refine >= rows re-ranks
      // the FULL layout by exact cosine — appended rows must land in the
      // brute-force answer with exact scores, whatever the stale codes say
      val q = all.find(_._1 == 1L).get._2
      val total = emb.count().toInt
      val got = VectorOps.readIvfPqTopK(spark, path, "embedding", "vec_id",
        q, 10, nprobe = 8, refine = total)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = emb.cosineTopK("embedding", "vec_id", q, 10)
        .select(col("vec_id"), col("cos"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got === want && got.size === 10, s"residual=$res")
      // the default-probe read still answers (recall path intact)
      assert(VectorOps.readIvfPqTopK(spark, path, "embedding", "vec_id",
        q, 10, nprobe = 4, refine = 50).count() === 10L)
      // a wave colliding with existing ids is refused loudly (through
      // the bloom maybes -> confirm join — the shared gate's message)
      val e = intercept[IllegalArgumentException] {
        a.limit(1).appendIvfPq(path, "embedding", "vec_id")
      }
      assert(e.getMessage.contains("already exists"), e.getMessage)
    }
  }

  test("appendIvfPq clash gate rides per-wave id Blooms at O(wave)") {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfpq_spec_idbloom").toString
    val a = emb.filter(col("vec_id") % 2 === 0)
    val b = emb.filter(col("vec_id") % 2 =!= 0)
    a.writeIvfPq(path, "embedding", "vec_id", nlist = 8, m = 4, ksub = 4,
      iters = 2)
    assert(spark.read.textFile(s"$path/meta").collect()
      .contains("idbloom=yes"), "long-id write must land the id Bloom")
    // the gate's FAST PATH clears a disjoint wave wave-locally (returns
    // true only when the stored table was never touched)
    assert(graft.operators.DedupOps.idClashCheck(spark, path, "data",
      "spec", b.select(col("vec_id")), "vec_id",
      Map("__idbloom" -> "yes")),
      "a disjoint wave must clear on the bloom fast path")
    b.appendIvfPq(path, "embedding", "vec_id")
    // the appended wave extended coverage: re-adding ITS ids is refused
    val e = intercept[IllegalArgumentException] {
      b.limit(1).appendIvfPq(path, "embedding", "vec_id")
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // compact folds the wave filters into ONE rebuilt Bloom and the
    // gate still works both ways
    VectorOps.compactIvfPq(spark, path)
    assert(spark.read.parquet(s"$path/idbloom").count() === 1L,
      "compact must rebuild a single id Bloom")
    val e2 = intercept[IllegalArgumentException] {
      a.limit(1).appendIvfPq(path, "embedding", "vec_id")
    }
    assert(e2.getMessage.contains("already exists"), e2.getMessage)
    // fsck reports the filter set present
    val rows = VectorOps.fsckIvfPq(spark, path).collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toMap
    assert(rows("idbloom_present"))
  }

  test("auditIvfPqRecall: exact at full probes, deterministic, drift visible") {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfpq_spec_audit").toString
    emb.writeIvfPq(path, "embedding", "vec_id", nlist = 8, m = 4, ksub = 4,
      iters = 2)
    val total = emb.count().toInt
    val full = VectorOps.auditIvfPqRecall(spark, path, "embedding", "vec_id",
      nQueries = 4, k = 5, nprobe = 8, refine = total)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(full.length === 4 && full.forall(_._2 === 1.0),
      s"full probes must be exact: ${full.toSeq}")
    // restricted probes: recall well-defined in [0,1] and deterministic
    def partial() = VectorOps.auditIvfPqRecall(spark, path, "embedding",
      "vec_id", nQueries = 4, k = 5, nprobe = 1, refine = 5)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val p1 = partial(); val p2 = partial()
    assert(p1 === p2 && p1.forall(t => t._2 >= 0.0 && t._2 <= 1.0))
    // drift: append a far-shifted wave the codebooks never saw — the
    // exactness invariant holds (full probes stay 1.0 over the larger
    // layout) while the production-probe audit is the signal that CAN
    // read below 1.0
    import spark.implicits._
    val shifted = all.map { case (id, v) =>
      (id + 100000L, v.zipWithIndex.map { case (x, i) =>
        if (i == 0) x + 1000f else x })
    }.toSeq.toDF("vec_id", "embedding")
    shifted.appendIvfPq(path, "embedding", "vec_id")
    val total2 = total + all.length
    val full2 = VectorOps.auditIvfPqRecall(spark, path, "embedding",
      "vec_id", nQueries = 4, k = 5, nprobe = 8, refine = total2)
      .collect().map(_.getDouble(1))
    assert(full2.forall(_ === 1.0),
      s"full probes must stay exact under drift: ${full2.toSeq}")
    val drifted = VectorOps.auditIvfPqRecall(spark, path, "embedding",
      "vec_id", nQueries = 4, k = 5, nprobe = 1, refine = 5)
      .collect().map(_.getDouble(1))
    assert(drifted.exists(_ < 1.0),
      s"the drifted layout must be visible at production probes: ${drifted.toSeq}")
  }

  test("retrainIvfPq: the audit fires on drift, the retrain restores parity") {
    import spark.implicits._
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfpq_spec_retrain").toString
    // 8 tight clusters (the trained-IVF fixture): a HEALTHY layout is at
    // full recall at production probes, so the drift->retrain arc is
    // visible end to end instead of buried in baseline noise
    val rng = new scala.util.Random(13)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextDouble() * 100f))
    val rows = (0 until 320).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.1).toFloat))
    }
    rows.toDF("vec_id", "embedding")
      .writeIvfPq(path, "embedding", "vec_id", nlist = 8, m = 4, ksub = 4,
        iters = 2)
    // production settings: 2 of 8 cells probed; refine 100 because
    // m=4/ksub=4 yields only 256 code words, so tight clusters tie
    // ~80-deep in ADC and a shallower refine truncates inside a tie
    def audit() = VectorOps.auditIvfPqRecall(spark, path, "embedding",
      "vec_id", nQueries = 8, k = 5, nprobe = 2, refine = 100)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val pre = audit()
    assert(pre.length === 8 && pre.forall(_._2 === 1.0),
      s"healthy layout must audit at parity: $pre")
    // drift: a second mode the codebooks never saw (mirrored far
    // centers), appended as a wave — encodes with the OLD books
    val centers2 = Array.fill(8)(Array.fill(16)(-(rng.nextDouble() * 100f) - 50f))
    val wave = (0 until 320).map { i =>
      val c = centers2(i % 8)
      (1000L + i, c.map(v => (v + rng.nextGaussian() * 0.1).toFloat))
    }
    wave.toDF("vec_id", "embedding").appendIvfPq(path, "embedding", "vec_id")
    val drifted = audit()
    assert(drifted.exists(_._2 < 1.0), s"the audit must fire: $drifted")
    assert(drifted.filter(_._1.toLong >= 1000L).exists(_._2 <= 0.5),
      s"recall collapses exactly on the un-trained wave: $drifted")
    // ACT on the trigger: retrain codebooks from the CURRENT layout
    // (both waves) and rewrite as a new generation
    VectorOps.retrainIvfPq(spark, path, "embedding", "vec_id")
    val healed = audit()
    assert(healed.forall(_._2 === 1.0),
      s"retrain must restore production recall to full-probe parity: " +
        s"drifted=$drifted healed=$healed")
    // same rows, fresh MATCHING token pair, snapshot cleaned up
    assert(spark.read.parquet(s"$path/data").count() === 640L)
    val tok = spark.read.textFile(s"$path/meta").collect()
      .find(_.startsWith("token=")).get
    val dataTok = spark.read.parquet(s"$path/data")
      .select("__graft_token").distinct().collect().map(_.getString(0))
    assert(dataTok.length === 1 && s"token=${dataTok(0)}" === tok)
    assert(!new java.io.File(s"$path/retrain_snapshot").exists())
  }

  test("meanPoolEmbeddings: exact per-position means, ragged and partition-safe") {
    import spark.implicits._
    val chunks = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f)),
      (1L, Array(3.0f, 6.0f, 9.0f)),
      (2L, Array(10.0f, 20.0f)),
      (2L, Array(30.0f, 40.0f)),
      (2L, Array(50.0f, 60.0f, 70.0f))) // ragged third position
      .toDF("doc_id", "emb")
    val got = chunks.meanPoolEmbeddings("doc_id", "emb")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Double](2).toSeq)).sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, 2L, Seq(2.0, 4.0, 6.0)),
      // ragged: position 2 pools over the ONE chunk that has it
      (2L, 3L, Seq(30.0, 40.0, 70.0))))
    // partition-independent: the exact integer-quantized sums make the
    // means bit-identical whatever the layout
    val repartitioned = chunks.repartition(7).meanPoolEmbeddings("doc_id", "emb")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](2).toSeq))
      .sortBy(_._1).toSeq
    assert(repartitioned === got.map(t => (t._1, t._3)))
  }

  test("ivfpq delete: tombstoned vectors never rank; compact and retrain fold") {
    import spark.implicits._
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfpq_del_spec").toString
    val emb = Tables.embeddings(spark, sf())
    emb.writeIvfPq(path, "embedding", "vec_id", nlist = 8, m = 4, ksub = 4,
      iters = 2)
    val delIds = emb.filter(col("vec_id") % 5 === 0).select(col("vec_id"))
    VectorOps.deleteFromIvfPq(spark, path, delIds, "vec_id")
    val total = emb.count().toInt
    val q = emb.filter(col("vec_id") === 1)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    // exactness escape on the tombstoned layout == brute top-k over the
    // SURVIVORS, bit for bit
    val got = VectorOps.readIvfPqTopK(spark, path, "embedding", "vec_id",
        q, 10, nprobe = 8, refine = total)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = emb.join(delIds, Seq("vec_id"), "left_anti")
      .cosineTopK("embedding", "vec_id", q, 10)
      .select(col("vec_id"), col("cos"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === want, "deleted layout != brute top-k on survivors")
    assert(got.forall(_._1 % 5 != 0), "a tombstoned id ranked")
    // the join verb and the semantic gate subtract the same tombstones
    val wave = emb.filter(col("vec_id") % 50 === 1)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val joined = VectorOps.readIvfPqTopKJoin(wave, "qvec", "qid", path,
        "embedding", "vec_id", k = 3, nprobe = 8, refine = total)
      .collect()
    assert(joined.nonEmpty && joined.forall(_.getLong(1) % 5 != 0))
    val gated = VectorOps.ivfSemanticGate(
        emb.select(col("vec_id").as("wid"), col("embedding").as("wvec")),
        "wvec", "wid", path, "embedding", "vec_id", 0.99, nprobe = 8)
      .collect()
    assert(gated.nonEmpty && gated.forall(_.getLong(1) % 5 != 0))
    // idempotent re-delete; dead id refuses append until a fold
    VectorOps.deleteFromIvfPq(spark, path, delIds, "vec_id")
    assert(VectorOps.readIvfPqTopK(spark, path, "embedding", "vec_id", q,
      10, nprobe = 8, refine = total)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === got)
    val clash = intercept[IllegalArgumentException] {
      emb.filter(col("vec_id") % 5 === 0).limit(3)
        .appendIvfPq(path, "embedding", "vec_id")
    }
    assert(clash.getMessage.contains("already exists"), clash.getMessage)
    // compact folds: tombstones gone, same answers, dead ids revive
    VectorOps.compactIvfPq(spark, path)
    assert(!new java.io.File(path, "tombstones").exists())
    assert(VectorOps.readIvfPqTopK(spark, path, "embedding", "vec_id", q,
      10, nprobe = 8, refine = total)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === got)
    emb.filter(col("vec_id") % 5 === 0).limit(3)
      .appendIvfPq(path, "embedding", "vec_id")
    // retrain folds too: delete again, retrain, the tombstoned rows are
    // physically gone from the new generation
    val delAgain = emb.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
    VectorOps.deleteFromIvfPq(spark, path, delAgain, "vec_id")
    val before = spark.read.parquet(s"$path/data").count()
    VectorOps.retrainIvfPq(spark, path, "embedding", "vec_id")
    assert(!new java.io.File(path, "tombstones").exists())
    val after = spark.read.parquet(s"$path/data").count()
    assert(after < before, "retrain did not fold the tombstones")
    assert(spark.read.parquet(s"$path/data")
      .filter(col("vec_id") % 7 === 0).count() === 0L)
  }

  test("residual DISK layout: single-query and join verbs exact at the escape") {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfpq_resid_spec").toString
    val emb = Tables.embeddings(spark, sf())
    emb.writeIvfPq(path, "embedding", "vec_id", nlist = 8, m = 4, ksub = 4,
      iters = 2, residual = true)
    val total = emb.count().toInt
    val q = emb.filter(col("vec_id") === 3)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val want = emb.cosineTopK("embedding", "vec_id", q, 10)
      .select(col("vec_id"), col("cos"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // single-query verb (driver-side residual ADC tables)
    val got1 = VectorOps.readIvfPqTopK(spark, path, "embedding", "vec_id",
        q, 10, nprobe = 8, refine = total)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got1 === want, "residual disk single-query != brute at escape")
    // join verb (the codegen'd centroid_shift_d + pq_adc path)
    val wave = emb.filter(col("vec_id") === 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val got2 = VectorOps.readIvfPqTopKJoin(wave, "qvec", "qid", path,
        "embedding", "vec_id", k = 10, nprobe = 8, refine = total)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(got2 === want, "residual disk join != brute at escape")
  }

  test("readIvfPqTopKJoin: per-left parity with the single-query verb; exact at escape") {
    import spark.implicits._
    for (res <- Seq(false, true)) {
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_ivfpq_spec_join_$res").toString
      emb.writeIvfPq(path, "embedding", "vec_id", nlist = 8, m = 4, ksub = 4,
        iters = 2, residual = res)
      val wave = emb.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // pruned path: every left's rows equal the single-query verb's at
      // IDENTICAL parameters (same probe selection, ADC, refine cut)
      val got = VectorOps.readIvfPqTopKJoin(wave, "qvec", "qid", path,
          "embedding", "vec_id", k = 5, nprobe = 3, refine = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (q, rs) =>
          q -> rs.map(t => (t._2, t._3)).sortBy(_._1).toSeq }
      assert(got.nonEmpty)
      val queries = wave.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      queries.foreach { case (qid, qv) =>
        val want = VectorOps.readIvfPqTopK(spark, path, "embedding",
            "vec_id", qv, k = 5, nprobe = 3, refine = 20)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
        assert(got(qid) === want, s"residual=$res query $qid diverges")
      }
      // exactness escape: full probes + refine >= rows == brute cosine
      val total = emb.count().toInt
      val escape = VectorOps.readIvfPqTopKJoin(wave, "qvec", "qid", path,
          "embedding", "vec_id", k = 5, nprobe = 8, refine = total)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val brute = queries.flatMap { case (qid, qv) =>
        emb.cosineTopK("embedding", "vec_id", qv, 5)
          .collect().map(r => qid -> r.getLong(0))
      }.sorted.toSeq
      assert(escape === brute, s"residual=$res escape != brute")
    }
  }

  test("compactIvfPq: wave shards collapse, results identical, fresh token") {
    import spark.implicits._
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfpq_spec_compact").toString
    emb.filter(col("vec_id") % 4 === 0)
      .writeIvfPq(path, "embedding", "vec_id", nlist = 8, m = 4, ksub = 4)
    (1 to 3).foreach(i => emb.filter(col("vec_id") % 4 === i)
      .appendIvfPq(path, "embedding", "vec_id"))
    def dataFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(s"$path/data")).length
    }
    val q = all.find(_._1 == 1L).get._2
    val total = emb.count().toInt
    def topk() = VectorOps.readIvfPqTopK(spark, path, "embedding", "vec_id",
      q, 10, nprobe = 4, refine = 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def topkExact() = VectorOps.readIvfPqTopK(spark, path, "embedding",
      "vec_id", q, 10, nprobe = 8, refine = total)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = dataFiles()
    val wantProd = topk(); val wantExact = topkExact()
    val tokenBefore = spark.read.textFile(s"$path/meta").collect()
      .find(_.startsWith("token=")).get
    VectorOps.compactIvfPq(spark, path)
    // no retraining: cells and codes identical, so BOTH probe settings
    // return bit-identical results over strictly fewer files
    assert(dataFiles() < before,
      s"compact must shrink file count: $before -> ${dataFiles()}")
    assert(topk() === wantProd && topkExact() === wantExact)
    val tokenAfter = spark.read.textFile(s"$path/meta").collect()
      .find(_.startsWith("token=")).get
    assert(tokenAfter !== tokenBefore)
    val dataTok = spark.read.parquet(s"$path/data")
      .select("__graft_token").distinct().collect().map(_.getString(0))
    assert(dataTok.length === 1 && s"token=${dataTok(0)}" === tokenAfter)
    assert(!new java.io.File(s"$path/compact_snapshot").exists())
    // a torn layout is refused up front
    val tampered = spark.read.textFile(s"$path/meta").collect().toSeq
      .map(l => if (l.startsWith("token=")) "token=some-other-write" else l)
    spark.createDataset(tampered).coalesce(1).write.mode("overwrite")
      .text(s"$path/meta")
    val e = intercept[IllegalArgumentException] {
      VectorOps.compactIvfPq(spark, path)
    }
    assert(e.getMessage.contains("write-token mismatch"), e.getMessage)
  }

  test("retrainIvfPq refuses a torn layout instead of baking in the tear") {
    import spark.implicits._
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfpq_spec_retrain_torn").toString
    emb.writeIvfPq(path, "embedding", "vec_id", nlist = 4, m = 4, ksub = 4)
    val tampered = spark.read.textFile(s"$path/meta").collect().toSeq
      .map(l => if (l.startsWith("token=")) "token=some-other-write" else l)
    spark.createDataset(tampered).coalesce(1).write.mode("overwrite")
      .text(s"$path/meta")
    val e = intercept[IllegalArgumentException] {
      VectorOps.retrainIvfPq(spark, path, "embedding", "vec_id")
    }
    assert(e.getMessage.contains("write-token mismatch"), e.getMessage)
  }

  test("writeIvfPq: null ids get their own message, not 'must be unique'") {
    import spark.implicits._
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfpq_spec_nullid").toString
    val withNull = Seq(
      (Option(1L), Array(1f, 0f, 0f, 0f)),
      (Option.empty[Long], Array(0f, 1f, 0f, 0f)),
      (Option(3L), Array(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      withNull.writeIvfPq(path, "embedding", "vec_id", nlist = 2, m = 2,
        ksub = 2, iters = 1)
    }
    assert(e.getMessage.contains("null"), e.getMessage)
  }

  test("pqTrain: codebook shapes, codes in range, one shared seed set") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val rows = (0 until 64).map(i =>
      (i.toLong, Array.fill(8)((rng.nextDouble() * 4).toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val base = VectorOps.quantizedBase(df, "embedding", "vec_id", 65536.0,
      keepVec = false)
    val books = VectorOps.pqTrain(base, "vec_id", m = 2, ksub = 4,
      iters = 2, seed = 42L).get
    assert(books.length == 2 && books.forall(_.length == 4) &&
      books.forall(_.forall(_.length == 4)))
    // the codebooks are slices of ONE Knuth-hash seed ordering: the
    // untrained (iters=0) books for every subspace come from the same rows
    val books0 = VectorOps.pqTrain(base, "vec_id", m = 2, ksub = 4,
      iters = 0, seed = 42L).get
    val seedIds = base.select(col("vec_id"), col("__qv"))
      .orderBy(VectorOps.centroidOrder("vec_id", 42L), col("vec_id"))
      .limit(4).collect().map(_.getSeq[Long](1).map(_.toDouble).toArray)
    assert(books0(0).toSeq.map(_.toSeq) === seedIds.map(_.slice(0, 4).toSeq).toSeq)
    assert(books0(1).toSeq.map(_.toSeq) === seedIds.map(_.slice(4, 8).toSeq).toSeq)
    val coded = VectorOps.withPqCodes(base, books, subDim = 4)
    val codes = coded.select(col("__pqc0"), col("__pqc1")).collect()
    assert(codes.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 4 &&
      r.getInt(1) >= 0 && r.getInt(1) < 4))
  }

  test("semanticContaminationAgainst: exact precision, banded recall of true dup") {
    import spark.implicits._
    // eval set = 3 vectors; corpus contains an exact copy of eval #1000
    // (must be found — identical sketches share every band), plus
    // unrelated noise
    val rng = new scala.util.Random(5)
    def vec() = Array.fill(32)((rng.nextGaussian() * 0.3).toFloat)
    val ev = Seq((1000L, vec()), (1001L, vec()), (1002L, vec()))
    val corpus = ((1L, ev.head._2.clone) +:
      (2L to 40L).map(i => (i, vec()))).toDF("vec_id", "embedding")
    val eval_ = ev.toDF("eval_id", "eval_emb")
    val got = corpus.semanticContaminationAgainst(eval_, "embedding", "vec_id",
      "eval_emb", "eval_id", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the planted exact duplicate is always recalled, at cosine 1.0
    assert(got.exists { case (c, e, cos) => c == 1L && e == 1000L && cos >= 0.9999 })
    // exact precision: every emitted pair really is above threshold
    val evMap = ev.toMap
    val corpusMap = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    got.foreach { case (c, e, cos) =>
      assert(cos === cosScala(corpusMap(c), evMap(e)), s"pair ($c,$e)")
      assert(cos >= 0.9)
    }
  }

  test("semanticDedupPairs: exact precision, block-complete recall, exact cosines") {
    import spark.implicits._
    // tight clusters far apart: every true near-dup pair (cos >= 0.999)
    // lies inside one physical cluster, and no Voronoi boundary between
    // k-means centroids cuts through a cluster of diameter ~0.4 at
    // separation ~100 — so the blocked result must equal brute force
    val rng = new scala.util.Random(11)
    val centers = Array.fill(6)(Array.fill(16)(rng.nextDouble() * 100f))
    val rows = (0 until 240).map { i =>
      val c = centers(i % 6)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.1).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = df.semanticDedupPairs("embedding", "vec_id", k = 6, threshold = 0.999)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byPair = got.map { case (a, b, c) => (a, b) -> c }.toMap
    assert(byPair.size === got.length)
    val want = (for {
      i <- rows.indices; j <- (i + 1) until rows.length
      c = cosScala(rows(i)._2, rows(j)._2) if c >= 0.999
    } yield (rows(i)._1, rows(j)._1) -> c).toMap
    // exact precision: every emitted pair is a true near-dup, with the
    // kernel's bit-exact cosine
    byPair.foreach { case (p, c) =>
      assert(want.contains(p), s"false positive $p")
      assert(c === want(p), s"pair $p")
    }
    // completeness within blocks: the ONLY pairs the blocker may miss
    // are those k-means separated (a tight cluster can catch two seed
    // centroids and split — SemDeDup's documented recall trade). Every
    // same-block near-dup pair must be present.
    val cluster = df.kmeansAssign("embedding", "vec_id", k = 6, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val sameBlock = want.keySet.filter { case (a, b) => cluster(a) == cluster(b) }
    assert(byPair.keySet === sameBlock)
    // deterministic recall floor on this fixture (seeded, no flake):
    // splits cost at most a few clusters' cross-half pairs
    assert(byPair.size.toDouble / want.size >= 0.5,
      s"recall ${byPair.size}/${want.size}")
  }

  test("principalDirection recovers a planted dominant axis") {
    import spark.implicits._
    // energy concentrated along (0.6, 0.8, 0); small off-axis noise
    val rows = (1 to 60).map { i =>
      val t = (i % 7 - 3).toFloat
      val n = ((i * 31) % 5 - 2).toFloat * 0.05f
      (i.toLong, Array(0.6f * t, 0.8f * t + n, n))
    }
    val pc = rows.toDF("vec_id", "embedding")
      .principalDirection("embedding")
    val alignment = math.abs(0.6 * pc(0) + 0.8 * pc(1))
    assert(alignment > 0.99, s"axis alignment $alignment, pc=${pc.toSeq}")
    val norm = math.sqrt(pc.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-12)
  }

  test("principalDirection: independent driver replay, bit-for-bit") {
    import spark.implicits._
    val rows = (1 to 25).map { i =>
      (i.toLong, Array.tabulate(4)(j => math.sin(i * 4 + j + 1).toFloat))
    }
    val got = rows.toDF("vec_id", "embedding").principalDirection("embedding")
    // full independent replay: quantize, exact BigInt Gram, 8 pinned rounds
    val q = rows.map(_._2.map(x => math.floor(x.toDouble * 65536.0).toLong))
    val d = 4
    val g = Array.ofDim[Double](d, d)
    for (a <- 0 until d; b <- 0 until d) {
      val s = q.foldLeft(BigInt(0))((acc, v) => acc + BigInt(v(a)) * v(b))
      g(a)(b) = s.doubleValue
    }
    var v = Array.fill(d)(1.0)
    for (_ <- 1 to 8) {
      val m = Array.tabulate(d) { a =>
        var acc = 0.0; var b = 0
        while (b < d) { acc += g(a)(b) * v(b); b += 1 }
        acc
      }
      var n2 = 0.0; var a = 0
      while (a < d) { n2 += m(a) * m(a); a += 1 }
      val nrm = math.sqrt(n2)
      v = m.map(_ / nrm)
    }
    assert(got.toSeq === v.toSeq)
  }

  test("principalDirections: deflation finds the orthogonal second axis") {
    import spark.implicits._
    // two planted axes: strong along (0.6, 0.8, 0), weaker along (0, 0, 1)
    val rows = (1 to 80).map { i =>
      val t = (i % 9 - 4).toFloat
      val s2 = (i % 5 - 2).toFloat * 0.4f
      (i.toLong, Array(0.6f * t, 0.8f * t, s2))
    }
    val dirs = rows.toDF("vec_id", "embedding")
      .principalDirections("embedding", k = 2)
    val (p1, p2) = (dirs(0), dirs(1))
    assert(math.abs(0.6 * p1(0) + 0.8 * p1(1)) > 0.99, s"pc1 ${p1.toSeq}")
    assert(math.abs(p2(2)) > 0.99, s"pc2 ${p2.toSeq}")
    val ortho = p1.zip(p2).map { case (x, y) => x * y }.sum
    assert(math.abs(ortho) < 1e-6, s"pc1·pc2 = $ortho")
  }

  test("principalComponent: partition-independent; projection shuffle-free") {
    def run(df: org.apache.spark.sql.DataFrame) =
      df.principalComponent("embedding", "vec_id")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val base = emb.limit(300)
    val a = run(base)
    assert(a === run(base.repartition(13)) && a.nonEmpty)
    // train/project split equals the fused call bit-for-bit
    val dir = base.principalDirection("embedding")
    val split = base.projectOnto("embedding", "vec_id", dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(a === split)
    val plan = base.projectOnto("embedding", "vec_id", dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection must not shuffle:\n$plan")
  }

  test("driver IN-list hops share one ceiling: an over-limit refine " +
    "fails loudly, naming the knob") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pushdown_cap")
    val path = "file://" + dir.toString
    emb.limit(200).writeIvfPq(path, "embedding", "vec_id", nlist = 4,
      m = 4, ksub = 4, iters = 1)
    val q = all.find(_._1 == 1L).get._2
    spark.conf.set(graft.GraftConf.MaxDriverPushdown, "64")
    try {
      val e = intercept[IllegalArgumentException] {
        VectorOps.readIvfPqTopK(spark, path, "embedding", "vec_id", q,
          k = 5, nprobe = 2, refine = 65)
      }
      assert(e.getMessage.contains(graft.GraftConf.MaxDriverPushdown) &&
        e.getMessage.contains("readIvfPqTopK"),
        s"error must name the knob and the verb: ${e.getMessage}")
      // at or under the ceiling the verb runs as before
      assert(VectorOps.readIvfPqTopK(spark, path, "embedding", "vec_id",
        q, k = 5, nprobe = 2, refine = 64).collect().nonEmpty)
    } finally spark.conf.unset(graft.GraftConf.MaxDriverPushdown)
    // the default ceiling admits every shipped default (refine = 50 etc.)
    assert(graft.GraftConf.maxDriverPushdown(spark) >= 4096)
  }

  test("projectFold kernel: bit-identical to the aggregate(zip_with) HOF " +
    "chain, compiled (no CodegenFallback scorer in the PCA plan)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Array(0.31, -1.7, 2.4e-3, 997.25)
    // adversarial floats: denormals, huge/tiny magnitudes, sign mixes —
    // the fold must reproduce the HOF chain's IEEE sequence exactly
    val rows = (1 to 400).map { i =>
      (i.toLong, Array(
        (i * 0.37f - 70f) * 1e-4f, (i % 13 - 6).toFloat * 3.7e5f,
        java.lang.Float.MIN_VALUE * i, (i % 7 - 3).toFloat / 3.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val hof = aggregate(
      zip_with(col("embedding"), array(dir.map(lit).toIndexedSeq: _*),
        (x, w) => x.cast("double") * w),
      lit(0.0), (acc, x) => acc + x)
    val both = df.select(col("vec_id"),
      graft.functions.projectFold(col("embedding"), dir).as("k"),
      hof.as("h")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"fold mismatch at vec_id=${r.getLong(0)}: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
    // null semantics match the HOF chain: null vec, null element,
    // length mismatch -> null
    val oddSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = true))))
    val odd = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, null),
        org.apache.spark.sql.Row(2L, Seq[Any](1.0f, null, 2.0f, 3.0f)),
        org.apache.spark.sql.Row(3L, Seq[Any](1.0f, 2.0f)), // shorter
        org.apache.spark.sql.Row(4L, Seq[Any](1f, 2f, 3f, 4f, 5f, 6f))),
      oddSchema)
    val oddBoth = odd.select(col("vec_id"),
      graft.functions.projectFold(col("embedding"), dir).as("k"), hof.as("h"))
      .collect()
    oddBoth.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2),
        s"null semantics diverge at vec_id=${r.getLong(0)}")
      if (!r.isNullAt(1)) assert(r.getDouble(1) === r.getDouble(2))
    }
    // the scorer stays inside whole-stage codegen: project_fold in the
    // plan, no interpreted aggregate/zip_with chain
    val plan = emb.principalComponents("embedding", "vec_id", k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("project_fold"), s"kernel missing from plan:\n$plan")
    assert(!plan.contains("zip_with"), s"HOF scorer still in plan:\n$plan")
  }

  test("projectFold rejects a non-float array at analysis, not runtime") {
    import spark.implicits._
    val ints = Seq((1L, Array(1, 2, 3))).toDF("vec_id", "embedding")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      ints.select(graft.functions.projectFold(col("embedding"),
        Array(1.0, 2.0, 3.0))).collect()
    }
    assert(e.getMessage.contains("array<int>"), e.getMessage)
  }
}
