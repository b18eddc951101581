package graft.index

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables
import graft.operators.SpatialOps._

class SpatialDiskSpec extends SparkSpec {

  private lazy val cust = Tables.customerPts(spark, sf())

  /** File scans of an executed plan, descending through AQE wrappers
    * and materialized query stages (TreeNode.collect treats them as
    * leaves). */
  private def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansOf(q.plan)
    }.flatten

  private def freshLayout(tag: String): String = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_spatial_disk_spec_$tag").toString
    SpatialDisk.write(cust, path, Seq("cx", "cy"))
    path
  }

  test("disk box/circle range equal the in-memory verbs exactly") {
    val path = freshLayout("eq")
    val lo = Array(2000.0, 100.0); val hi = Array(4000.0, 300.0)
    val gotBox = SpatialDisk.boxRange(spark, path, lo, hi)
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    val wantBox = cust.boxRange(Seq("cx", "cy"), lo.toSeq, hi.toSeq)
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(gotBox === wantBox && gotBox.nonEmpty)
    // output schema is the written table — no layout columns leak
    assert(SpatialDisk.boxRange(spark, path, lo, hi).columns.toSeq ===
      cust.columns.toSeq)

    val c = Array(5000.0, 500.0)
    val gotCirc = SpatialDisk.circleRange(spark, path, c, 500.0)
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    val wantCirc = cust.circleRange(Seq("cx", "cy"), c.toSeq, 500.0)
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(gotCirc === wantCirc && gotCirc.nonEmpty)
  }

  test("the scan prunes cell directories via PartitionFilters") {
    val path = freshLayout("prune")
    val q = SpatialDisk.boxRange(spark, path,
      Array(2000.0, 100.0), Array(4000.0, 300.0))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__graft_cell"),
      s"no directory pruning in the scan:\n$plan")
    // the partition filter must actually carry the enumerated cell set
    assert(plan.contains("INSET"),
      s"cell IN-set missing from PartitionFilters:\n$plan")
    // the fine-z covering interval reaches the scan for row-group stats
    assert(plan.contains("__graft_z"),
      s"fine-z interval missing from the scan:\n$plan")
  }

  test("a selective box reads a sliver of the directories") {
    val path = freshLayout("sliver")
    // the box spans ~1/5 x ~1/5 of each axis, so the pruned read must
    // touch well under half the populated directories — measured from
    // the scan's own numPartitions metric, not the (elided) plan text
    val total = spark.read.parquet(s"$path/data")
      .select(count_distinct(col("__graft_cell"))).head().getLong(0)
    val q = SpatialDisk.boxRange(spark, path,
      Array(2000.0, 100.0), Array(4000.0, 300.0))
    val qe = q.queryExecution
    q.collect()
    val scans = qe.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, s"no file scan in:\n${qe.executedPlan}")
    val read = scans.head.metrics("numPartitions").value
    assert(read * 2 < total,
      s"query read $read of $total populated cells — no pruning win")
  }

  test("disk kNN equals the in-memory kNN; the walk prunes directories") {
    val path = freshLayout("knn")
    val c = Array(5000.0, 500.0)
    val got = SpatialDisk.knn(spark, path, c, 10, Seq("c_custkey"))
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    val want = cust.knn(Seq("cx", "cy"), c.toSeq, 10, Seq("c_custkey"))
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === want && got.size === 10)
    // the guaranteed-radius circle must not read the whole layout
    val total = spark.read.parquet(s"$path/data")
      .select(count_distinct(col("__graft_cell"))).head().getLong(0)
    val q = SpatialDisk.knn(spark, path, c, 10, Seq("c_custkey"))
    val qe = q.queryExecution
    q.collect()
    val scans = qe.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val read = scans.head.metrics("numPartitions").value
    assert(read * 2 < total,
      s"kNN read $read of $total populated cells — no pruning win")
    // k past the table size degrades to the ordered full scan, still exact
    val all = SpatialDisk.knn(spark, path, c, cust.count().toInt + 5,
      Seq("c_custkey")).count()
    assert(all === cust.count())
  }

  test("append: an ingest wave lands in the same layout generation") {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_spec_append").toString
    val first = cust.filter(col("c_custkey") % 2 === 0)
    val second = cust.filter(col("c_custkey") % 2 =!= 0)
    SpatialDisk.write(first, path, Seq("cx", "cy"))
    SpatialDisk.append(second, path)
    // an appended point OUTSIDE the original bounds clamps into an edge
    // cell on write and on query — still found
    import spark.implicits._
    val outlier = Seq((999999999L, 50000.0, 50000.0)).toDF("c_custkey", "cx", "cy")
    SpatialDisk.append(outlier, path)
    val lo = Array(2000.0, 100.0); val hi = Array(4000.0, 300.0)
    val gotBox = SpatialDisk.boxRange(spark, path, lo, hi)
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    val wantBox = cust.boxRange(Seq("cx", "cy"), lo.toSeq, hi.toSeq)
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(gotBox === wantBox && gotBox.nonEmpty)
    val c = Array(5000.0, 500.0)
    val gotKnn = SpatialDisk.knn(spark, path, c, 10, Seq("c_custkey"))
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    val wantKnn = cust.knn(Seq("cx", "cy"), c.toSeq, 10, Seq("c_custkey"))
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(gotKnn === wantKnn)
    val everything = SpatialDisk.boxRange(spark, path,
      Array(-1e9, -1e9), Array(1e9, 1e9)).count()
    assert(everything === cust.count() + 1, "the outlier must be findable")
    val far = SpatialDisk.circleRange(spark, path,
      Array(50000.0, 50000.0), 10.0)
      .select("c_custkey").collect().map(_.getLong(0)).toSeq
    assert(far === Seq(999999999L), "the out-of-bounds outlier must be found")
  }

  test("distanceJoin against the layout equals the in-memory join; dirs pruned") {
    val path = freshLayout("dj")
    val supp = graft.Tables.supplierPts(spark, sf())
    val got = SpatialDisk.distanceJoin(supp, Seq("sx", "sy"), path, 100.0)
      .select("s_suppkey", "c_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = supp.distanceJoinNaive(cust, Seq("sx", "sy"), Seq("cx", "cy"), 100.0)
      .select("s_suppkey", "c_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got === want && got.nonEmpty)
    // a clustered left reads a sliver of the directories
    val total = spark.read.parquet(s"$path/data")
      .select(count_distinct(col("__graft_cell"))).head().getLong(0)
    val clustered = supp.filter(col("sx") < 1000.0 && col("sy") < 200.0)
    val q = SpatialDisk.distanceJoin(clustered, Seq("sx", "sy"), path, 50.0)
    val qe = q.queryExecution
    q.collect()
    val scans = scansOf(qe.executedPlan)
      .filter(_.toString.contains("__graft_cell"))
    assert(scans.nonEmpty, s"no layout scan found in:\n${qe.executedPlan}")
    val read = scans.map(_.metrics("numPartitions").value).max
    assert(read * 2 < total,
      s"clustered left read $read of $total cells — no pruning win")
  }

  test("append merges the wave's stats — equal to re-aggregating the layout") {
    // half written, half appended: the append-time merge (counts ADD,
    // MBRs UNION — O(wave), never a full-layout re-aggregation) must
    // publish the same per-cell stats a fresh scan of the written data
    // would produce
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_spec_merge").toString
    SpatialDisk.write(cust.filter(col("c_custkey") % 2 === 0), path,
      Seq("cx", "cy"))
    SpatialDisk.append(cust.filter(col("c_custkey") % 2 =!= 0), path)
    assert(publishedStats(path) === diskStats(path),
      "merged per-cell stats must equal the re-aggregated stats")
  }

  /** Per-cell (count, x range, y range) re-aggregated from the files. */
  private def diskStats(path: String) = spark.read.parquet(s"$path/data")
    .groupBy(col("__graft_cell"))
    .agg(count(lit(1)), min(col("cx")), max(col("cx")),
      min(col("cy")), max(col("cy")))
    .collect().map(r => r.getAs[Number](0).longValue() ->
      (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toMap

  /** The per-cell stats the meta publishes, in [[diskStats]]' shape. */
  private def publishedStats(path: String) = spark.read.textFile(s"$path/meta").collect()
    .find(_.startsWith("cells=")).get.substring("cells=".length)
    .split(";").map { s =>
      val Array(id, n, bounds) = s.split(":")
      val b = bounds.split(",").map(_.toDouble)
      id.toLong -> ((n.toLong, b(0), b(1), b(2), b(3)))
    }.toMap

  private def fsckClean(path: String): Boolean =
    SpatialDisk.fsck(spark, path).collect().forall(_.getBoolean(1))

  test("write takes its per-cell stats from the write itself — equal to the files'") {
    val path = freshLayout("write_stats")
    assert(publishedStats(path) === diskStats(path))
    assert(fsckClean(path), "fsck after write")
    SpatialDisk.append(cust.filter(col("c_custkey") % 3 === 0)
      .withColumn("c_custkey", col("c_custkey") + 100000L), path)
    assert(publishedStats(path) === diskStats(path))
    assert(fsckClean(path), "fsck after append")
    SpatialDisk.compact(path, spark)
    assert(publishedStats(path) === diskStats(path))
    assert(fsckClean(path), "fsck after compact")
    // an empty wave writes nothing and publishes the same stats
    val before = publishedStats(path)
    SpatialDisk.append(cust.limit(0), path)
    assert(publishedStats(path) === before)
  }

  test("layout probes and Tables.table plan without jobs; a write runs only its data jobs") {
    val path = freshLayout("jobs")
    val (lo, hi) = (Array(2000.0, 100.0), Array(4000.0, 300.0))
    assert(jobsOf(SpatialDisk.boxRange(spark, path, lo, hi)) === 0)
    assert(jobsOf(SpatialDisk.circleRange(spark, path, Array(5000.0, 500.0), 500.0)) === 0)
    assert(jobsOf(SpatialDisk.knn(spark, path, Array(5000.0, 500.0), 5,
      Seq("c_custkey"))) === 0)
    // bounds + null counts (2 jobs), the range sampler, the shuffle, the
    // write; the meta and the cell stats add none
    assert(jobsOf(SpatialDisk.write(cust, path, Seq("cx", "cy"))) === 5)
    val dir = java.nio.file.Files.createTempDirectory("graft_tables_jobs").toString
    cust.write.parquet(s"$dir/pts.parquet")
    assert(jobsOf(Tables.table(spark, dir, "pts")) === 0)
  }

  test("a layout whose meta has no schema line, split over part files, reads the same rows") {
    import spark.implicits._
    val path = freshLayout("legacy_meta")
    val c = Array(5000.0, 500.0)
    def answers() = Seq(
        SpatialDisk.boxRange(spark, path, Array(2000.0, 100.0), Array(4000.0, 300.0)),
        SpatialDisk.circleRange(spark, path, c, 500.0),
        SpatialDisk.knn(spark, path, c, 7, Seq("c_custkey")))
      .map(_.collect().map(_.toString).sorted.toSeq)
    val fresh = answers()
    assert(fresh.forall(_.nonEmpty))
    val lines = graft.operators.DedupOps.readMetaLines(spark, path, "spec")
    assert(lines.exists(_.startsWith("schema=")))
    // what a writer before the schema line left: the text writer's part
    // files, with their .crc siblings
    lines.filterNot(_.startsWith("schema=")).toSeq.toDS().repartition(3)
      .write.mode("overwrite").text(s"$path/meta")
    val names = new java.io.File(s"$path/meta").list().toSeq
    assert(names.count(_.startsWith("part-")) > 1 && names.exists(_.endsWith(".crc")),
      s"want several part files with checksums: $names")
    assert(answers() === fresh)
    assert(fsckClean(path))
  }

  test("a null-key left takes no fallback in the layout kNN join and matches naive") {
    val path = freshLayout("kj_null")
    val supp = graft.Tables.supplierPts(spark, sf())
      .withColumn("sx", when(col("s_suppkey") % 4 === 0, lit(null)).otherwise(col("sx")))
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("s_suppkey", "c_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = SpatialDisk.knnJoin(supp, Seq("sx", "sy"), path, 3,
      leftId = "s_suppkey", tieBreak = Seq("c_custkey"))
    val want = supp.knnJoinNaive(cust, Seq("sx", "sy"), Seq("cx", "cy"),
      3, leftId = "s_suppkey", tieBreak = Seq("c_custkey"))
    assert(pairs(got) === pairs(want) && pairs(want).nonEmpty)
  }

  test("pruning issues ONE filesystem listing, not per-cell probes") {
    val path = freshLayout("fscalls")
    val before = SpatialDisk.pruneFsCalls.get()
    // plan construction is where prunedScan runs its driver-side pruning
    val q = SpatialDisk.boxRange(spark, path,
      Array(2000.0, 100.0), Array(4000.0, 300.0))
    q.collect()
    val calls = SpatialDisk.pruneFsCalls.get() - before
    assert(calls >= 1 && calls <= 2,
      s"expected at most 2 FS metadata calls for one query, saw $calls")
  }

  test("write refuses fine-z bits past the quantizer's 30-bit ceiling") {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_spec_bits").toString
    val e = intercept[IllegalArgumentException] {
      SpatialDisk.write(cust.select("c_custkey", "cx"), path,
        Seq("cx"), cellBits = 5, bits = 40)
    }
    assert(e.getMessage.contains("bits out of range"),
      s"contract must be checked where the parameter enters: ${e.getMessage}")
  }

  test("knnJoin against the layout equals the in-memory kNN join; dirs pruned") {
    val path = freshLayout("kj")
    val supp = graft.Tables.supplierPts(spark, sf())
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("s_suppkey", "c_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = pairs(SpatialDisk.knnJoin(supp, Seq("sx", "sy"), path, 3,
      leftId = "s_suppkey", tieBreak = Seq("c_custkey")))
    val want = pairs(supp.knnJoinNaive(cust, Seq("sx", "sy"), Seq("cx", "cy"),
      3, leftId = "s_suppkey", tieBreak = Seq("c_custkey")))
    assert(got === want && got.nonEmpty)
    // every left gets exactly k rows (layout larger than k)
    val perLeft = SpatialDisk.knnJoin(supp, Seq("sx", "sy"), path, 3,
      leftId = "s_suppkey", tieBreak = Seq("c_custkey"))
      .groupBy("s_suppkey").count().select("count")
      .distinct().collect().map(_.getLong(0)).toSeq
    assert(perLeft === Seq(3L))
    // k past the layout size degrades to all rows per left, still exact
    val all = SpatialDisk.knnJoin(supp.limit(2), Seq("sx", "sy"), path,
      cust.count().toInt + 5, leftId = "s_suppkey",
      tieBreak = Seq("c_custkey")).count()
    assert(all === 2L * cust.count())
    // a clustered left reads a sliver of the directories. The candidate
    // phase materializes at build time (the counted top-k checkpoint),
    // so the pruning is observed through prunedScan's own path counter
    // rather than the (checkpoint-reading) result plan.
    val total = spark.read.parquet(s"$path/data")
      .select(count_distinct(col("__graft_cell"))).head().getLong(0)
    val clustered = supp.filter(col("sx") < 1000.0 && col("sy") < 200.0)
    SpatialDisk.knnJoin(clustered, Seq("sx", "sy"), path, 3,
      leftId = "s_suppkey", tieBreak = Seq("c_custkey")).collect()
    val read = SpatialDisk.pruneLastPathCount.get()
    assert(read >= 0 && read * 2 < total,
      s"clustered left read $read of $total cells — no pruning win")
  }

  test("knnJoin: lefts outside the layout take the one rescue pass, never a cross") {
    // an 8 x 8-cell lattice layout, where no inside left starves, and
    // every fifth left moved 10-20 units past the layout's x extent:
    // some of those starve at their estimated radius
    def pts(n: Int, id: String, x: String, y: String) = spark.range(0, n, 1, 2)
      .select(col("id").as(id), (col("id") * 37 % 101).cast("double").as(x),
        (col("id") * 53 % 89).cast("double").as(y))
    val r = pts(800, "rid", "rx", "ry")
    val l = pts(600, "lid", "lx", "ly").withColumn("lx",
      when(col("lid") % 5 === 0, col("lx") / 10 + 110.0).otherwise(col("lx")))
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_spec_kj_rescue").toString
    SpatialDisk.write(r, path, Seq("rx", "ry"), cellBits = 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    var joined: org.apache.spark.sql.DataFrame = null
    var jobs = 0
    val (got, plans) = withBuildPlans {
      jobs = jobsOf { joined = SpatialDisk.knnJoin(l, Seq("lx", "ly"), path, 3,
        leftId = "lid", tieBreak = Seq("rid")) }
      rows(joined)
    }
    assert(got === rows(l.knnJoinNaive(r, Seq("lx", "ly"), Seq("rx", "ry"), 3,
      leftId = "lid", tieBreak = Seq("rid"))))
    // the union's second branch is the rescue; its first, the kept top-k,
    // holds the satisfied lefts: only some starve
    val union = joined.queryExecution.sparkPlan.collectFirst {
      case u: org.apache.spark.sql.execution.UnionExec => u }
    assert(union.exists(_.children(1).toString.contains("knn_rescue")), "no rescue branch")
    val kept = union.get.children.head.executeCollect().length
    assert(kept > 0 && kept < got.size, s"kept $kept of ${got.size} rows")
    // the rescue is built from driver values: the same jobs as a
    // starvation-free build (SamplerSpec)
    assert(jobs == 6)
    assert(!plans.exists(p =>
      p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")))
  }

  test("compact: wave shards collapse to few files, same answers, fresh token") {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_spec_compact").toString
    SpatialDisk.write(cust.filter(col("c_custkey") % 4 === 0), path, Seq("cx", "cy"))
    (1 to 3).foreach(i =>
      SpatialDisk.append(cust.filter(col("c_custkey") % 4 === i), path))
    def dataFiles(): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(s"$path/data"))
    }
    def tokenOf(): String = spark.read.textFile(s"$path/meta").collect()
      .find(_.startsWith("token=")).get
    val before = dataFiles().length
    val tokenBefore = tokenOf()
    val lo = Array(2000.0, 100.0); val hi = Array(4000.0, 300.0)
    val wantBox = SpatialDisk.boxRange(spark, path, lo, hi)
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    SpatialDisk.compact(path, spark)
    // four write waves collapsed: strictly fewer files, same rows
    val after = dataFiles().length
    assert(after < before, s"compact must shrink file count: $before -> $after")
    assert(SpatialDisk.boxRange(spark, path,
      Array(-1e9, -1e9), Array(1e9, 1e9)).count() === cust.count())
    val gotBox = SpatialDisk.boxRange(spark, path, lo, hi)
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(gotBox === wantBox)
    // a NEW generation: fresh token, matching pair
    assert(tokenOf() !== tokenBefore)
    val dataTok = spark.read.parquet(s"$path/data")
      .select("__graft_token").distinct().collect().map(_.getString(0))
    assert(dataTok.length === 1 && s"token=${dataTok(0)}" === tokenOf())
    assert(!new java.io.File(s"$path/compact_snapshot").exists())
    // a torn layout is refused up front, not baked into the next generation
    import spark.implicits._
    val tampered = spark.read.textFile(s"$path/meta").collect().toSeq
      .map(l => if (l.startsWith("token=")) "token=some-other-write" else l)
    spark.createDataset(tampered).coalesce(1).write.mode("overwrite")
      .text(s"$path/meta")
    val e = intercept[IllegalArgumentException] {
      SpatialDisk.compact(path, spark)
    }
    // the meta's token matches NO data row — compact refuses with the
    // nothing-to-compact-from message (repair refuses this tear too:
    // there are no admitted rows to roll back to)
    assert(e.getMessage.contains("no rows under the meta's token"),
      e.getMessage)
  }

  test("a torn meta/data pair is refused, not silently mis-routed") {
    val path = freshLayout("torn")
    import spark.implicits._
    val tampered = spark.read.textFile(s"$path/meta").collect().toSeq
      .map(l => if (l.startsWith("token=")) "token=some-other-write" else l)
    spark.createDataset(tampered).coalesce(1).write.mode("overwrite")
      .text(s"$path/meta")
    val e = intercept[Throwable] {
      SpatialDisk.boxRange(spark, path,
        Array(2000.0, 100.0), Array(4000.0, 300.0)).collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .flatMap(t => Option(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("write-token mismatch")),
      s"torn layout not refused: $msgs")
  }

  test("the layout is dimension-general: 1-D and 3-D write/box/kNN parity") {
    import spark.implicits._
    // 1-D: a time-line layout (the at-rest form of a temporal range
    // index) — box range degenerates to BETWEEN, kNN to nearest-values
    val oneD = cust.select(col("c_custkey"), col("cx"))
    val p1 = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_spec_1d").toString
    SpatialDisk.write(oneD, p1, Seq("cx"), cellBits = 6, bits = 18)
    val got1 = SpatialDisk.boxRange(spark, p1, Array(2000.0), Array(4000.0))
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    val want1 = oneD.filter(col("cx").between(2000.0, 4000.0))
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(got1 === want1 && got1.nonEmpty)
    val gotK1 = SpatialDisk.knn(spark, p1, Array(5000.0), 7, Seq("c_custkey"))
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    val wantK1 = oneD.knn(Seq("cx"), Seq(5000.0), 7, Seq("c_custkey"))
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(gotK1 === wantK1 && gotK1.size === 7)

    // 3-D: the write-side d*cellBits <= 16 and d*bits <= 62 contracts
    // leave room (5,5,5 cells; 18-bit z per dim)
    val threeD = cust.select(col("c_custkey"), col("cx"), col("cy"))
      .withColumn("cz", (col("c_custkey") % 97).cast("double"))
    val p3 = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_spec_3d").toString
    SpatialDisk.write(threeD, p3, Seq("cx", "cy", "cz"), cellBits = 5,
      bits = 18)
    val lo = Array(2000.0, 100.0, 10.0); val hi = Array(6000.0, 600.0, 60.0)
    val got3 = SpatialDisk.boxRange(spark, p3, lo, hi)
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    val want3 = threeD.boxRange(Seq("cx", "cy", "cz"), lo.toSeq, hi.toSeq)
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(got3 === want3 && got3.nonEmpty)
    val c3 = Array(5000.0, 500.0, 50.0)
    val gotK3 = SpatialDisk.knn(spark, p3, c3, 9, Seq("c_custkey"))
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    val wantK3 = threeD.knn(Seq("cx", "cy", "cz"), c3.toSeq, 9, Seq("c_custkey"))
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(gotK3 === wantK3 && gotK3.size === 9)
    // the 3-D kNN join twin stays exact too
    val q3 = threeD.limit(20).select(col("c_custkey").as("qid"),
      col("cx").as("qx"), col("cy").as("qy"), col("cz").as("qz"))
    val gotJ = SpatialDisk.knnJoin(q3, Seq("qx", "qy", "qz"), p3, 3,
      leftId = "qid", tieBreak = Seq("c_custkey"))
      .select("qid", "c_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val wantJ = q3.knnJoinNaive(threeD, Seq("qx", "qy", "qz"),
      Seq("cx", "cy", "cz"), 3, leftId = "qid", tieBreak = Seq("c_custkey"))
      .select("qid", "c_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotJ === wantJ && gotJ.nonEmpty)
  }

  test("delete: every read path answers as a from-scratch build on the " +
    "survivors; kNN counts stay guaranteed") {
    val path = freshLayout("del")
    val dead = cust.filter(col("c_custkey") % 10 === 3)
    val survivors = cust.filter(col("c_custkey") % 10 =!= 3)
    SpatialDisk.delete(spark, path, dead.select("c_custkey"), "c_custkey")
    val refPath = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_spec_delref").toString
    SpatialDisk.write(survivors, path = refPath, Seq("cx", "cy"))
    val lo = Array(2000.0, 100.0); val hi = Array(4000.0, 300.0)
    def keys(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(keys(SpatialDisk.boxRange(spark, path, lo, hi)) ===
      keys(SpatialDisk.boxRange(spark, refPath, lo, hi)),
      "box over the tombstoned layout != from-scratch build on survivors")
    assert(keys(SpatialDisk.boxRange(spark, path, lo, hi)).nonEmpty)
    // the stats-walk kNN stands on the DECREMENTED per-cell counts: the
    // guaranteed radius must still cover k LIVE rows
    val c = Array(5000.0, 500.0)
    assert(keys(SpatialDisk.knn(spark, path, c, 10, Seq("c_custkey"))) ===
      keys(survivors.knn(Seq("cx", "cy"), c.toSeq, 10,
        tieBreak = Seq("c_custkey"))),
      "stats-walk kNN over the tombstoned layout is no longer exact")
    // joins: the anti-join rides the pruned candidate scan
    val supp = Tables.supplierPts(spark, sf())
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("s_suppkey", "c_custkey").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pairs(SpatialDisk.knnJoin(supp, Seq("sx", "sy"), path, 3,
        leftId = "s_suppkey", tieBreak = Seq("c_custkey"))) ===
      pairs(supp.knnJoinNaive(survivors, Seq("sx", "sy"), Seq("cx", "cy"),
        3, leftId = "s_suppkey", tieBreak = Seq("c_custkey"))),
      "kNN join over the tombstoned layout != naive join on survivors")
    assert(pairs(SpatialDisk.distanceJoin(supp, Seq("sx", "sy"), path, 100.0))
      === pairs(SpatialDisk.distanceJoin(supp, Seq("sx", "sy"), refPath, 100.0)))
    // fsck: tombstones inventoried, counts exact WITH the accounting
    val fsck = SpatialDisk.fsck(spark, path).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2))).toSeq
    assert(fsck.forall(_._2), s"fsck not green after delete: $fsck")
    assert(fsck.exists(r => r._1 == "tombstones" && r._3.contains("c_custkey")))
    assert(fsck.exists(r => r._1 == "cell_counts_exact" &&
      r._3.contains("tombstones accounted")))
    // delete is idempotent and the id column is pinned by the first wave
    SpatialDisk.delete(spark, path, dead.select("c_custkey"), "c_custkey")
    assert(keys(SpatialDisk.boxRange(spark, path, lo, hi)) ===
      keys(SpatialDisk.boxRange(spark, refPath, lo, hi)))
    // the all-dead re-delete admitted NOTHING: an admitted wave with no
    // tombstone rows on disk would read as a MISSING wave here
    assert(SpatialDisk.fsck(spark, path).collect().forall(_.getBoolean(1)),
      "fsck not green after an all-dead re-delete")
    val eCol = intercept[IllegalArgumentException] {
      SpatialDisk.delete(spark, path,
        dead.select(col("c_custkey").as("other")), "other")
    }
    assert(eCol.getMessage.contains("keyed by"), eCol.getMessage)
    // a tombstoned id cannot be silently re-added
    val eApp = intercept[IllegalArgumentException] {
      SpatialDisk.append(dead.limit(5), path)
    }
    assert(eApp.getMessage.contains("tombstoned"), eApp.getMessage)
    // compact folds: same answers, no tombstones dir, fsck green
    SpatialDisk.compact(path, spark)
    assert(keys(SpatialDisk.boxRange(spark, path, lo, hi)) ===
      keys(SpatialDisk.boxRange(spark, refPath, lo, hi)))
    assert(!new java.io.File(path, "tombstones").exists(),
      "compact must fold tombstones physically")
    assert(SpatialDisk.fsck(spark, path).collect().forall(_.getBoolean(1)))
    // ...and the folded layout accepts the previously-dead ids again
    SpatialDisk.append(dead.limit(5), path)
    assert(SpatialDisk.boxRange(spark, path,
      Array(-1e7, -1e7), Array(1e7, 1e7)).count() === survivors.count() + 5)
  }

  test("deleteAt: located purge rides the wave — reads equal a " +
    "from-scratch build, only claimed cells are listed") {
    val path = freshLayout("delat")
    val dead = cust.filter(col("c_custkey") % 10 === 7)
    val survivors = cust.filter(col("c_custkey") % 10 =!= 7)
    // the wave carries id + the WRITTEN coordinates
    SpatialDisk.deleteAt(spark, path,
      dead.select("c_custkey", "cx", "cy"), "c_custkey")
    // O(wave) evidence: the presence check listed only the claimed cell
    // directories, never the layout (the ids-only verb's O(table) pass)
    val listed = SpatialDisk.pruneLastPathCount.get()
    assert(listed > 0, "deleteAt fell back to a full listing")
    val totalCells = new java.io.File(path, "data").listFiles()
      .count(_.getName.startsWith("__graft_cell="))
    assert(listed < totalCells,
      s"deleteAt listed $listed of $totalCells cells — not wave-pruned")
    val refPath = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_spec_delatref").toString
    SpatialDisk.write(survivors, path = refPath, Seq("cx", "cy"))
    val lo = Array(2000.0, 100.0); val hi = Array(4000.0, 300.0)
    def keys(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(keys(SpatialDisk.boxRange(spark, path, lo, hi)) ===
      keys(SpatialDisk.boxRange(spark, refPath, lo, hi)),
      "box over the located-tombstoned layout != from-scratch build")
    assert(keys(SpatialDisk.boxRange(spark, path, lo, hi)).nonEmpty)
    // the stats-walk kNN stands on the EXACT decrements the verified
    // presence pass counted
    val c = Array(5000.0, 500.0)
    assert(keys(SpatialDisk.knn(spark, path, c, 10, Seq("c_custkey"))) ===
      keys(survivors.knn(Seq("cx", "cy"), c.toSeq, 10,
        tieBreak = Seq("c_custkey"))),
      "stats-walk kNN over the located-tombstoned layout is not exact")
    val fsck1 = SpatialDisk.fsck(spark, path).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2))).toSeq
    assert(fsck1.forall(_._2), s"fsck not green after deleteAt: $fsck1")
    assert(fsck1.exists(r => r._1 == "cell_counts_exact" &&
      r._3.contains("tombstones accounted")))
    // idempotent: re-claiming dead pairs matches nothing and admits no
    // new wave (fsck would flag an admitted-but-empty token as missing)
    SpatialDisk.deleteAt(spark, path,
      dead.select("c_custkey", "cx", "cy"), "c_custkey")
    assert(SpatialDisk.fsck(spark, path).collect().forall(_.getBoolean(1)))
    assert(keys(SpatialDisk.boxRange(spark, path, lo, hi)) ===
      keys(SpatialDisk.boxRange(spark, refPath, lo, hi)))
    // compact folds located waves exactly like ids-only ones
    SpatialDisk.compact(path, spark)
    assert(!new java.io.File(path, "tombstones").exists())
    assert(keys(SpatialDisk.boxRange(spark, path, lo, hi)) ===
      keys(SpatialDisk.boxRange(spark, refPath, lo, hi)))
    assert(SpatialDisk.fsck(spark, path).collect().forall(_.getBoolean(1)))
  }

  test("deleteAt: a wrong-coordinates claim is a FULL no-op; mixed " +
    "ids-only + located waves compose; duplicate ids die per location") {
    val path = freshLayout("delatmix")
    val total = SpatialDisk.boxRange(spark, path,
      Array(-1e7, -1e7), Array(1e7, 1e7)).count()
    // claim ids at coordinates they were never written with: nothing
    // matches, nothing is admitted — not even a tombstones directory
    SpatialDisk.deleteAt(spark, path,
      cust.filter(col("c_custkey") % 10 === 7)
        .select(col("c_custkey"), (col("cx") + 99999.0).as("cx"),
          (col("cy") + 99999.0).as("cy")), "c_custkey")
    assert(!new java.io.File(path, "tombstones").exists(),
      "a no-match wave must not admit a delete token")
    assert(SpatialDisk.boxRange(spark, path,
      Array(-1e7, -1e7), Array(1e7, 1e7)).count() === total)
    // mixed: ids-only wave for %10==3, located wave for %10==7
    SpatialDisk.delete(spark, path,
      cust.filter(col("c_custkey") % 10 === 3).select("c_custkey"),
      "c_custkey")
    SpatialDisk.deleteAt(spark, path,
      cust.filter(col("c_custkey") % 10 === 7)
        .select("c_custkey", "cx", "cy"), "c_custkey")
    val survivors = cust.filter(col("c_custkey") % 10 =!= 3 &&
      col("c_custkey") % 10 =!= 7)
    val refPath = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_spec_delatmixref").toString
    SpatialDisk.write(survivors, path = refPath, Seq("cx", "cy"))
    val lo = Array(2000.0, 100.0); val hi = Array(4000.0, 300.0)
    def keys(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(keys(SpatialDisk.boxRange(spark, path, lo, hi)) ===
      keys(SpatialDisk.boxRange(spark, refPath, lo, hi)),
      "mixed delete waves do not compose")
    assert(SpatialDisk.fsck(spark, path).collect().forall(_.getBoolean(1)))
    SpatialDisk.compact(path, spark)
    assert(keys(SpatialDisk.boxRange(spark, path, lo, hi)) ===
      keys(SpatialDisk.boxRange(spark, refPath, lo, hi)))

    // duplicate ids at two locations: the located verb kills exactly
    // the row AT the claimed cell; the other survives, counted, and an
    // ids-only wave later kills it with exact decrements throughout
    import spark.implicits._
    val dup = Seq((1L, 10.0, 10.0), (1L, 900.0, 900.0), (2L, 500.0, 500.0))
      .toDF("id", "x", "y")
    val dupPath = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_spec_delatdup").toString
    SpatialDisk.write(dup, dupPath, Seq("x", "y"), cellBits = 3)
    SpatialDisk.deleteAt(spark, dupPath,
      Seq((1L, 10.0, 10.0)).toDF("id", "x", "y"), "id")
    val afterLoc = SpatialDisk.boxRange(spark, dupPath,
      Array(-1e7, -1e7), Array(1e7, 1e7))
      .select("id", "x").collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sorted.toSeq
    assert(afterLoc === Seq((1L, 900.0), (2L, 500.0)),
      s"located delete must kill id 1 ONLY at (10,10): $afterLoc")
    assert(SpatialDisk.fsck(spark, dupPath).collect().forall(_.getBoolean(1)))
    // the located granularity reaches the append clash gate: id 1 at a
    // DIFFERENT cell appends freely...
    SpatialDisk.append(Seq((1L, 500.0, 500.0)).toDF("id", "x", "y"), dupPath)
    // ...but at the tombstoned cell it would be invisible — refused
    val eLoc = intercept[IllegalArgumentException] {
      SpatialDisk.append(Seq((1L, 10.0, 10.0)).toDF("id", "x", "y"), dupPath)
    }
    assert(eLoc.getMessage.contains("located"), eLoc.getMessage)
    SpatialDisk.delete(spark, dupPath, Seq(1L).toDF("id"), "id")
    assert(SpatialDisk.boxRange(spark, dupPath,
      Array(-1e7, -1e7), Array(1e7, 1e7))
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(2L),
      "the ids-only wave must kill the id's remaining location")
    assert(SpatialDisk.fsck(spark, dupPath).collect().forall(_.getBoolean(1)))
  }

  test("deleteBox/deleteCircle: region purge equals a from-scratch " +
    "build without the region; (id, cell) pair granularity pinned") {
    val path = freshLayout("delbox")
    val lo = Array(2000.0, 100.0); val hi = Array(4000.0, 300.0)
    SpatialDisk.deleteBox(spark, path, lo, hi, "c_custkey")
    // the purged region reads empty; everything else answers like a
    // from-scratch build on the complement
    assert(SpatialDisk.boxRange(spark, path, lo, hi).count() === 0L)
    val survivors = cust.filter(!(col("cx").between(2000.0, 4000.0) &&
      col("cy").between(100.0, 300.0)))
    val refPath = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_spec_delboxref").toString
    SpatialDisk.write(survivors, refPath, Seq("cx", "cy"))
    def keys(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    val wideLo = Array(-1e7, -1e7); val wideHi = Array(1e7, 1e7)
    assert(keys(SpatialDisk.boxRange(spark, path, wideLo, wideHi)) ===
      keys(SpatialDisk.boxRange(spark, refPath, wideLo, wideHi)),
      "region purge != from-scratch build on the complement")
    // the stats-walk kNN stands on the region's exact decrements
    val c = Array(5000.0, 500.0)
    assert(keys(SpatialDisk.knn(spark, path, c, 10, Seq("c_custkey"))) ===
      keys(survivors.knn(Seq("cx", "cy"), c.toSeq, 10,
        tieBreak = Seq("c_custkey"))),
      "stats-walk kNN over the region-purged layout is not exact")
    assert(SpatialDisk.fsck(spark, path).collect().forall(_.getBoolean(1)))
    // idempotent: re-purging the empty region admits nothing
    SpatialDisk.deleteBox(spark, path, lo, hi, "c_custkey")
    assert(SpatialDisk.fsck(spark, path).collect().forall(_.getBoolean(1)))
    // circle twin: the purged disk reads empty, complement survives
    val path2 = freshLayout("delcirc")
    SpatialDisk.deleteCircle(spark, path2, c, 500.0, "c_custkey")
    assert(SpatialDisk.circleRange(spark, path2, c, 500.0).count() === 0L)
    val circSurv = cust.filter(
      !(sqrt(pow(col("cx") - 5000.0, 2) + pow(col("cy") - 500.0, 2))
        <= 500.0))
    assert(SpatialDisk.boxRange(spark, path2, wideLo, wideHi).count() ===
      circSurv.count())
    assert(SpatialDisk.fsck(spark, path2).collect().forall(_.getBoolean(1)))

    // pair granularity: an id with two rows in ONE cell loses both if
    // either is in-region (the located tombstone kills the pair — the
    // decrement counted both, so the kNN counts stay true); rows of
    // the id in OTHER cells survive
    import spark.implicits._
    val dup = Seq((1L, 10.0, 10.0), (1L, 12.0, 12.0), (1L, 900.0, 900.0),
      (2L, 880.0, 880.0)).toDF("id", "x", "y")
    val dupPath = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spatial_disk_spec_delboxdup").toString
    SpatialDisk.write(dup, dupPath, Seq("x", "y"), cellBits = 2)
    SpatialDisk.deleteBox(spark, dupPath, Array(9.0, 9.0),
      Array(11.0, 11.0), "id")
    val left = SpatialDisk.boxRange(spark, dupPath, wideLo, wideHi)
      .select("id", "x").collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sorted.toSeq
    assert(left === Seq((1L, 900.0), (2L, 880.0)),
      s"pair granularity: (1,12.0) shares id 1's cell and must die; " +
        s"(1,900.0) is another cell and must survive: $left")
    assert(SpatialDisk.fsck(spark, dupPath).collect().forall(_.getBoolean(1)))
  }

  test("a lost tombCells flag is fsck-named and repair restores it") {
    val path = freshLayout("delflag")
    SpatialDisk.deleteAt(spark, path,
      cust.filter(col("c_custkey") % 10 === 7)
        .select("c_custkey", "cx", "cy"), "c_custkey")
    // hand-damage: strip the located-wave flag (hand edit / partial
    // copy) — hot reads would anti-join the located wave by id alone,
    // over-deleting those ids in every cell
    import spark.implicits._
    val lines = spark.read.textFile(s"$path/meta").collect().toSeq
      .filterNot(_ == "tombCells=yes")
    spark.createDataset(lines).coalesce(1).write.mode("overwrite")
      .text(s"$path/meta")
    val bad = SpatialDisk.fsck(spark, path).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2))).toSeq
    assert(bad.exists(r => r._1 == "tomb_kinds" && !r._2 &&
      r._3.contains("repair")), s"fsck must name the lost flag: $bad")
    SpatialDisk.repair(spark, path)
    assert(SpatialDisk.fsck(spark, path).collect().forall(_.getBoolean(1)),
      "repair did not restore the tombCells flag")
    val lo = Array(2000.0, 100.0); val hi = Array(4000.0, 300.0)
    val got = SpatialDisk.boxRange(spark, path, lo, hi)
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    val want = cust.filter(col("c_custkey") % 10 =!= 7)
      .boxRange(Seq("cx", "cy"), lo.toSeq, hi.toSeq)
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === want && got.nonEmpty,
      "repaired layout does not answer the survivors")
  }

  test("repair: both fsck-named tear classes heal in place") {
    // tear class 1: drifted per-cell stats (hand-edited meta stands in
    // for a lost tombstone decrement) — repair re-aggregates, same token
    val path = freshLayout("repair")
    SpatialDisk.delete(spark, path,
      cust.filter(col("c_custkey") % 5 === 0).select("c_custkey"),
      "c_custkey")
    def fsckRows() = SpatialDisk.fsck(spark, path).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2))).toSeq
    assert(fsckRows().forall(_._2))
    val knnWant = SpatialDisk.knn(spark, path, Array(5000.0, 500.0), 10,
      Seq("c_custkey")).select("c_custkey").collect()
      .map(_.getLong(0)).sorted.toSeq
    import spark.implicits._
    val metaLines = spark.read.textFile(s"$path/meta").collect().toSeq
    val drifted = metaLines.map { l =>
      if (!l.startsWith("cells=")) l
      else {
        val body = l.substring(6)
        val parts = body.split(";").head.split(":")
        "cells=" + ((s"${parts(0)}:${parts(1).toLong + 5}:${parts(2)}") +:
          body.split(";").tail).mkString(";")
      }
    }
    spark.createDataset(drifted).coalesce(1).write.mode("overwrite")
      .text(s"$path/meta")
    val bad = fsckRows().map(r => (r._1, r._2)).toMap
    assert(!bad("cell_counts_exact"), "fsck missed the drifted count")
    SpatialDisk.repair(spark, path)
    assert(fsckRows().forall(_._2), "repair did not clear the drift")
    assert(SpatialDisk.knn(spark, path, Array(5000.0, 500.0), 10,
      Seq("c_custkey")).select("c_custkey").collect()
      .map(_.getLong(0)).sorted.toSeq === knnWant)
    // tear class 2: foreign-token rows (a partial external copy) —
    // repair rolls them back via the drop-foreign compact
    val boxWant = SpatialDisk.boxRange(spark, path,
      Array(-1e7, -1e7), Array(1e7, 1e7)).count()
    spark.read.parquet(s"$path/data").limit(13)
      .withColumn("__graft_token", lit("never-admitted"))
      .withColumn("c_custkey", col("c_custkey") + 900000L)
      .write.mode("append").partitionBy("__graft_cell")
      .parquet(s"$path/data")
    val torn = fsckRows().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(!torn("data_tokens")._1 &&
      torn("data_tokens")._2.contains("repair"),
      s"fsck must name the torn rows and the repair verb: $torn")
    SpatialDisk.repair(spark, path)
    assert(fsckRows().forall(_._2), "repair did not roll the tear back")
    assert(SpatialDisk.boxRange(spark, path,
      Array(-1e7, -1e7), Array(1e7, 1e7)).count() === boxWant)
    // the repair folded tombstones into the fresh generation
    assert(!new java.io.File(path, "tombstones").exists())
  }

  test("a torn delete (unadmitted tombstone token) is a no-op, not an " +
    "over-delete") {
    val path = freshLayout("deltorn")
    val before = SpatialDisk.boxRange(spark, path,
      Array(-1e7, -1e7), Array(1e7, 1e7)).count()
    // one committed delete so the meta carries a tombs line (readers
    // only consult tombstones at all once a delete wave is admitted)
    SpatialDisk.delete(spark, path,
      cust.filter(col("c_custkey") % 100 === 7).select("c_custkey"),
      "c_custkey")
    val admitted = SpatialDisk.boxRange(spark, path,
      Array(-1e7, -1e7), Array(1e7, 1e7)).count()
    // simulate the crash window: tombstone rows land under a token the
    // meta never admits
    import spark.implicits._
    cust.filter(col("c_custkey") % 100 === 8)
      .select(col("c_custkey").as("__graft_tomb_id"))
      .withColumn("__graft_token", lit("never-admitted"))
      .write.mode("append").parquet(s"$path/tombstones")
    val after = SpatialDisk.boxRange(spark, path,
      Array(-1e7, -1e7), Array(1e7, 1e7)).count()
    assert(after === admitted,
      "unadmitted tombstone rows must not delete anything")
    assert(admitted < before)
  }

  test("deleteAt: a misspelled id column fails loudly even when every " +
    "wave key quantizes to a null cell") {
    val path = freshLayout("delatbadid")
    // null coordinates -> null cells -> the claimed-cell set is empty;
    // before the up-front layout check this path silently no-opped
    val wave = cust.limit(3)
      .select(col("c_custkey").as("c_custkeyy"),
        lit(null).cast("double").as("cx"), lit(null).cast("double").as("cy"))
    val e = intercept[IllegalArgumentException] {
      SpatialDisk.deleteAt(spark, path, wave, "c_custkeyy")
    }
    assert(e.getMessage.contains("c_custkeyy"),
      s"error must name the missing column: ${e.getMessage}")
    assert(!new java.io.File(path, "tombstones").exists())
  }

  test("fsck and repair survive an existing-but-empty tombstones dir") {
    val path = freshLayout("emptytombs")
    // the torn state: a tombstones directory exists but holds no
    // readable wave files (e.g. a crash before the first part landed)
    assert(new java.io.File(path, "tombstones").mkdirs())
    val fsck = SpatialDisk.fsck(spark, path).collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSeq
    assert(fsck.nonEmpty)
    SpatialDisk.repair(spark, path) // must not crash on schema inference
    val total = SpatialDisk.boxRange(spark, path,
      Array(-1e7, -1e7), Array(1e7, 1e7)).count()
    assert(total === cust.count(), "repair must keep every live row")
  }

  test("queries clamp outside the written bounds instead of failing") {
    val path = freshLayout("clamp")
    // a box reaching far outside the data domain returns exactly the
    // in-bounds matches (quantization clamps; exact filter decides)
    val got = SpatialDisk.boxRange(spark, path,
      Array(-1e7, -1e7), Array(1e7, 1e7)).count()
    assert(got === cust.count(), "the all-covering box must return every row")
    val none = SpatialDisk.boxRange(spark, path,
      Array(1e7, 1e7), Array(2e7, 2e7)).count()
    assert(none === 0L, "a fully-outside box must return nothing")
  }
}
