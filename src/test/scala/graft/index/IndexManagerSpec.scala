package graft.index

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables
import graft.operators.SpatialOps._

class IndexManagerSpec extends SparkSpec {

  private lazy val cust = Tables.customerPts(spark, sf())

  private def freshIndex(name: String): IndexedTable =
    IndexManager.indexTable(spark, cust, name, Seq("cx", "cy"), numPartitions = 8)

  /** Build, use, and ALWAYS drop — a leaked entry would leave a plan
    * substitution alive for other suites querying the same source. */
  private def withIndex(name: String)(body: IndexedTable => Unit): Unit = {
    val idx = freshIndex(name)
    try body(idx) finally IndexManager.dropIndex(spark, name)
  }

  test("a narrowing select over the cache is not mis-keyed to the source plan") {
    withIndex("t_narrow") { idx =>
      // an attribute-only but column-PRUNING select over the cache is
      // not the substitution rule's rename (arity differs from the
      // registered source) — keying it back to the full source would
      // report/drop an index for a plan the user never indexed
      // (ADVICE r7: stripRename accepted any attribute-only Project)
      val narrowed = idx.data.select("cx", "cy")
      assert(IndexManager.indexesOfPlan(spark, narrowed).isEmpty,
        "pruned cache select must not resolve to the full source's index")
      // while the source-shaped cache frame (the registered replacement:
      // all of the source's columns, internal z column dropped) still
      // maps back to the registered source
      assert(IndexManager.indexesOfPlan(spark, idx.data.select(cust.columns.map(col): _*))
        === Seq("t_narrow"))
    }
  }

  test("indexed boxRange equals unindexed filter") {
    withIndex("t_box") { idx =>
      val got = idx.boxRange(Array(0.0, 100.0), Array(5000.0, 600.0))
      val want = cust.boxRange(Seq("cx", "cy"), Seq(0.0, 100.0), Seq(5000.0, 600.0))
      assert(got.count() > 0)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }
  }

  test("indexed circleRange equals unindexed") {
    withIndex("t_circle") { idx =>
      val got = idx.circleRange(Array(5000.0, 500.0), 800.0)
      val want = cust.circleRange(Seq("cx", "cy"), Seq(5000.0, 500.0), 800.0)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }
  }

  test("indexed knn equals top-k oracle, including k > partition coverage") {
    withIndex("t_knn") { idx =>
      Seq(1, 5, 25).foreach { k =>
        val got = idx.knn(Array(5000.0, 500.0), k, Seq("c_custkey"))
          .select("c_custkey").collect().map(_.getLong(0)).sorted
        val want = cust.knn(Seq("cx", "cy"), Seq(5000.0, 500.0), k, Seq("c_custkey"))
          .select("c_custkey").collect().map(_.getLong(0)).sorted
        assert(got.toSeq === want.toSeq, s"k=$k")
      }
    }
  }

  test("global level prunes partitions for selective boxes") {
    withIndex("t_prune") { idx =>
      val (hit, total) = idx.prunedPartitionCount(Array(2000.0, 100.0), Array(2200.0, 150.0))
      assert(total === 8)
      assert(hit < total, s"selective box should prune some of $total partitions (hit=$hit)")
    }
  }

  test("registry: has/show/drop lifecycle") {
    freshIndex("t_life")
    assert(IndexManager.hasIndex(spark, "t_life"))
    assert(IndexManager.showIndexes(spark).contains("t_life"))
    IndexManager.dropIndex(spark, "t_life")
    assert(!IndexManager.hasIndex(spark, "t_life"))
  }

  test("range index: range/lessThan equal plain filters, bounds prune") {
    val orders = Tables.orders(spark, sf())
    val idx = IndexManager.rangeIndexTable(spark, orders, "t_range",
      "o_totalprice", numPartitions = 8)
    val got = idx.range(50000.0, 100000.0)
    val want = orders.filter(col("o_totalprice") >= 50000.0 && col("o_totalprice") <= 100000.0)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val lt = idx.lessThan(10000.0)
    val wantLt = orders.filter(col("o_totalprice") < 10000.0)
    assert(lt.exceptAll(wantLt).isEmpty && wantLt.exceptAll(lt).isEmpty)
    // global level: a narrow range must not touch every partition
    val (hit, total) = idx.prunedPartitionCount(50000.0, 52000.0)
    assert(total === 8 && hit < total, s"hit=$hit of $total")
    IndexManager.dropIndex(spark, "t_range")
    assert(!IndexManager.showIndexes(spark).contains("t_range"))
  }

  test("range index order statistics: rank/getCount/countRange equal plain counts") {
    val orders = Tables.orders(spark, sf())
    val idx = IndexManager.rangeIndexTable(spark, orders, "t_rank",
      "o_totalprice", numPartitions = 8)
    try {
      val k = 100000.0
      assert(idx.rank(k) ===
        orders.filter(col("o_totalprice") <= k).count())
      assert(idx.rank(Double.NegativeInfinity) === 0L)
      assert(idx.rank(Double.PositiveInfinity) === orders.count())
      val aKey = orders.agg(min(col("o_totalprice"))).head().getDouble(0)
      assert(idx.getCount(aKey) ===
        orders.filter(col("o_totalprice") === aKey).count())
      assert(idx.getCount(-1.0) === 0L, "absent key counts zero, no scan")
      assert(idx.countRange(50000.0, 150000.0) ===
        orders.filter(col("o_totalprice") >= 50000.0 && col("o_totalprice") <= 150000.0).count())
      // two-level shape: a rank probe scans at most one straddler
      val (scanned, total) = idx.rankScanStats(k)
      assert(scanned <= 1 && total === 8,
        s"rank should scan at most the straddling partition, got $scanned/$total")
    } finally IndexManager.dropIndex(spark, "t_rank")
  }

  test("range index rank ignores null keys") {
    import spark.implicits._
    val mixed = Seq(Option(1.0), Option(2.0), None, Option(3.0), None)
      .toDF("k")
    val idx = IndexManager.rangeIndexTable(spark, mixed, "t_rank_null", "k",
      numPartitions = 2)
    try {
      assert(idx.rank(10.0) === 3L)
      assert(idx.rank(1.5) === 1L)
      assert(idx.countRange(0.0, 10.0) === 3L)
    } finally IndexManager.dropIndex(spark, "t_rank_null")
  }

  test("hash index: lookup and lookupIn equal plain filters") {
    val customer = Tables.customer(spark, sf())
    val idx = IndexManager.hashIndexTable(spark, customer, "t_hash",
      "c_mktsegment", numPartitions = 8)
    val got = idx.lookup("BUILDING")
    val want = customer.filter(col("c_mktsegment") === "BUILDING")
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val got2 = idx.lookupIn(Seq("BUILDING", "MACHINERY"))
    val want2 = customer.filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
    assert(got2.exceptAll(want2).isEmpty && want2.exceptAll(got2).isEmpty)
    IndexManager.dropIndex(spark, "t_hash")
  }

  test("persist + load: disk index answers identically with pushed z filters") {
    val idx = freshIndex("t_disk")
    val path = java.nio.file.Files.createTempDirectory("graft_idx").toString
    IndexManager.persistIndex(idx, path)
    IndexManager.dropIndex(spark, "t_disk")
    val loaded = IndexManager.loadIndex(spark, "t_disk_loaded", path)
    val got = loaded.boxRange(Array(0.0, 100.0), Array(5000.0, 600.0))
    val want = cust.boxRange(Seq("cx", "cy"), Seq(0.0, 100.0), Seq(5000.0, 600.0))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the z-interval must reach the parquet scan as a pushed filter
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains(IndexManager.ZCol),
      s"expected pushed z-range filters in:\n$plan")
    IndexManager.dropIndex(spark, "t_disk_loaded")
  }

  test("loadIndexAuto dispatches on the kind tag: a column named 'quadtree' stays z-order") {
    // a substring dispatch on the meta JSON would misroute this z-order
    // index (key column literally named "quadtree") to the quad loader
    val tricky = cust.select(col("c_custkey"), col("cx").as("quadtree"), col("cy"))
    val idx = IndexManager.indexTable(spark, tricky, "t_auto_qt",
      Seq("quadtree", "cy"), numPartitions = 4)
    val path = java.nio.file.Files.createTempDirectory("graft_idx_auto").toString
    IndexManager.persistIndex(idx, path)
    IndexManager.dropIndex(spark, "t_auto_qt")
    IndexManager.loadIndexAuto(spark, "t_auto_qt_loaded", path)
    assert(IndexManager.hasIndex(spark, "t_auto_qt_loaded"))
    val loaded = IndexManager.loadIndex(spark, "t_auto_qt_loaded", path) // registry hit
    val got = loaded.boxRange(Array(0.0, 100.0), Array(5000.0, 600.0))
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    val want = cust.boxRange(Seq("cx", "cy"), Seq(0.0, 100.0), Seq(5000.0, 600.0))
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === want && got.nonEmpty)
    IndexManager.dropIndex(spark, "t_auto_qt_loaded")
  }

  test("index meta round-trips key columns containing quotes and backslashes") {
    val weird = "c\"x\\y"
    val tricky = cust.select(col("c_custkey"), col("cx").as(weird), col("cy"))
    val idx = IndexManager.indexTable(spark, tricky, "t_weird",
      Seq(weird, "cy"), numPartitions = 4)
    val path = java.nio.file.Files.createTempDirectory("graft_idx_esc").toString
    IndexManager.persistIndex(idx, path)
    IndexManager.dropIndex(spark, "t_weird")
    val loaded = IndexManager.loadIndex(spark, "t_weird_loaded", path)
    assert(loaded.keyCols === Seq(weird, "cy"))
    assert(loaded.boxRange(Array(0.0, 100.0), Array(5000.0, 600.0)).count() ===
      cust.boxRange(Seq("cx", "cy"), Seq(0.0, 100.0), Seq(5000.0, 600.0)).count())
    IndexManager.dropIndex(spark, "t_weird_loaded")
  }

  test("loaded z-index recomputes stats: knn takes the pruned path, stays exact") {
    val idx = freshIndex("t_disk_knn")
    val path = java.nio.file.Files.createTempDirectory("graft_idx_knn").toString
    IndexManager.persistIndex(idx, path)
    IndexManager.dropIndex(spark, "t_disk_knn")
    val loaded = IndexManager.loadIndex(spark, "t_disk_knn2", path)
    // the global level must come back — an empty stats map would silently
    // degrade knn to a full top-k scan
    assert(loaded.stats.nonEmpty, "loaded index must recompute partition stats")
    assert(loaded.stats.values.map(_.count).sum === cust.count())
    val got = loaded.knn(Array(5000.0, 500.0), 9, Seq("c_custkey"))
      .select("c_custkey").collect().map(_.getLong(0)).sorted
    val want = cust.knn(Seq("cx", "cy"), Seq(5000.0, 500.0), 9, Seq("c_custkey"))
      .select("c_custkey").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === want.toSeq)
    IndexManager.dropIndex(spark, "t_disk_knn2")
  }

  test("persisted-index loaders start only their global-level jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_jobs").toString
    def built(name: String)(make: => Any)(persist: Any => Unit): Unit =
      try persist(make) finally IndexManager.dropIndex(spark, name)
    built("t_jobs_z")(freshIndex("t_jobs_z"))(i =>
      IndexManager.persistIndex(i.asInstanceOf[IndexedTable], s"$dir/z"))
    built("t_jobs_r")(IndexManager.rangeIndexTable(spark, Tables.orders(spark, sf()),
      "t_jobs_r", "o_totalprice", numPartitions = 8))(i =>
      IndexManager.persistRangeIndex(i.asInstanceOf[RangeIndexedTable], s"$dir/r"))
    built("t_jobs_h")(IndexManager.hashIndexTable(spark, Tables.customer(spark, sf()),
      "t_jobs_h", "c_mktsegment", numPartitions = 8))(i =>
      IndexManager.persistHashIndex(i.asInstanceOf[HashIndexedTable], s"$dir/h"))
    built("t_jobs_q")(IndexManager.quadTreeIndexTable(spark, cust, "t_jobs_q",
      Seq("cx", "cy"), numPartitions = 8))(i =>
      IndexManager.persistQuadIndex(i.asInstanceOf[QuadTreeIndexedTable], s"$dir/q"))
    def jobs(name: String)(load: => Any): Int =
      try jobsOf(load) finally IndexManager.dropIndex(spark, name)
    // the meta is read on the driver and the data with its footer's
    // schema: what is left is the global level each kind recomputes —
    // partition stats (z-order), range bounds, the quadtree's leaves;
    // the hash index has none
    val got = Seq(
      jobs("t_jobs_z2")(IndexManager.loadIndex(spark, "t_jobs_z2", s"$dir/z")),
      jobs("t_jobs_r2")(IndexManager.loadRangeIndex(spark, "t_jobs_r2", s"$dir/r")),
      jobs("t_jobs_h2")(IndexManager.loadHashIndex(spark, "t_jobs_h2", s"$dir/h")),
      jobs("t_jobs_q2")(IndexManager.loadQuadIndex(spark, "t_jobs_q2", s"$dir/q")),
      jobs("t_jobs_a2")(IndexManager.loadIndexAuto(spark, "t_jobs_a2", s"$dir/q")))
    assert(got == Seq(3, 3, 0, 3, 3), s"loader jobs $got")
  }

  test("an index persisted with a Spark-written text meta still loads") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_idx_old").toString
    try IndexManager.persistIndex(freshIndex("t_old_meta"), path)
    finally IndexManager.dropIndex(spark, "t_old_meta")
    // the meta as the Spark text writer leaves it: part-*.txt and _SUCCESS
    val line = graft.operators.DedupOps.readMetaLines(spark, path, "test").head
    val meta = new org.apache.hadoop.fs.Path(s"$path/meta")
    meta.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(meta, true)
    Seq(line).toDS().coalesce(1).write.text(s"$path/meta")
    val loaded = IndexManager.loadIndex(spark, "t_old_meta2", path)
    try assert(loaded.boxRange(Array(0.0, 100.0), Array(5000.0, 600.0)).count() ===
      cust.boxRange(Seq("cx", "cy"), Seq(0.0, 100.0), Seq(5000.0, 600.0)).count())
    finally IndexManager.dropIndex(spark, "t_old_meta2")
  }

  test("range index round-trips through disk with recomputed bounds") {
    val orders = Tables.orders(spark, sf())
    val idx = IndexManager.rangeIndexTable(spark, orders, "t_range_disk",
      "o_totalprice", numPartitions = 8)
    val path = java.nio.file.Files.createTempDirectory("graft_idx_rng").toString
    IndexManager.persistRangeIndex(idx, path)
    IndexManager.dropIndex(spark, "t_range_disk")
    val loaded = IndexManager.loadRangeIndex(spark, "t_range_disk2", path)
    assert(loaded.bounds.nonEmpty, "loaded range index must recompute bounds")
    val got = loaded.range(50000.0, 100000.0)
    val want = orders.filter(col("o_totalprice") >= 50000.0 && col("o_totalprice") <= 100000.0)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // sorted files put disjoint key ranges per file: a narrow probe must
    // still prune at the recomputed global level
    val (hit, total) = loaded.prunedPartitionCount(50000.0, 52000.0)
    assert(hit < total, s"hit=$hit of $total")
    IndexManager.dropIndex(spark, "t_range_disk2")
  }

  test("hash index round-trips through disk") {
    val customer = Tables.customer(spark, sf())
    val idx = IndexManager.hashIndexTable(spark, customer, "t_hash_disk",
      "c_mktsegment", numPartitions = 8)
    val path = java.nio.file.Files.createTempDirectory("graft_idx_hash").toString
    IndexManager.persistHashIndex(idx, path)
    IndexManager.dropIndex(spark, "t_hash_disk")
    val loaded = IndexManager.loadHashIndex(spark, "t_hash_disk2", path)
    val got = loaded.lookup("BUILDING")
    val want = customer.filter(col("c_mktsegment") === "BUILDING")
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    IndexManager.dropIndex(spark, "t_hash_disk2")
  }

  test("selectivity fallback: near-full-extent box skips the z pre-filter") {
    val idx = freshIndex("t_select")
    // the z column is part of the index's schema, so look for an actual
    // Filter CONDITION referencing it, not the name anywhere in the plan
    def hasZFilter(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.references.exists(_.name == IndexManager.ZCol) => f
      }.nonEmpty
    try {
      // a box covering (essentially) the whole extent: plain scan + exact
      // predicate, no z-interval comparison per row
      val wide = idx.boxRange(Array(-1e7, -1e7), Array(1e7, 1e7))
      assert(!hasZFilter(wide), "near-full box must plan a plain scan")
      assert(wide.count() === cust.count())

      // a selective box keeps the z-interval pre-filter
      val narrow = idx.boxRange(Array(2000.0, 100.0), Array(2200.0, 150.0))
      assert(hasZFilter(narrow), "selective box must keep the z pre-filter")
      val want = cust.boxRange(Seq("cx", "cy"), Seq(2000.0, 100.0), Seq(2200.0, 150.0))
      assert(narrow.exceptAll(want).isEmpty && want.exceptAll(narrow).isEmpty)

      // the knob disables the fallback entirely (reference parity:
      // simba.index.selectivityEnable defaults false there)
      spark.conf.set(graft.GraftConf.IndexSelectivityEnable, "false")
      try assert(hasZFilter(idx.boxRange(Array(-1e7, -1e7), Array(1e7, 1e7))))
      finally spark.conf.unset(graft.GraftConf.IndexSelectivityEnable)
    } finally IndexManager.dropIndex(spark, "t_select")
  }

  test("two sessions: same index name, no cross-talk") {
    val other = spark.newSession()
    val name = "t_iso"
    freshIndex(name)
    assert(IndexManager.hasIndex(spark, name))
    assert(!IndexManager.hasIndex(other, name),
      "an index built in one session must be invisible to another")
    // same name, different table, in the second session
    val supp = Tables.supplierPts(other, sf())
    IndexManager.indexTable(other, supp, name, Seq("sx", "sy"), numPartitions = 4)
    val mine = IndexManager.indexTable(spark, cust, name, Seq("cx", "cy"), numPartitions = 8)
    assert(mine.keyCols === Seq("cx", "cy"),
      "session A must keep its own entry after B registered the same name")
    assert(IndexManager.indexTable(other, supp, name, Seq("sx", "sy")).keyCols
      === Seq("sx", "sy"))
    IndexManager.dropIndex(spark, name)
    IndexManager.dropIndex(other, name)
  }

  test("concurrent indexTable calls for one name yield a single registry entry") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val built = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val results = Await.result(Future.sequence((1 to 4).map(_ => Future {
      val idx = freshIndex("t_conc")
      built.add(System.identityHashCode(idx))
      idx
    })), 2.minutes)
    try {
      // getOrElseUpdate may race to BUILD twice, but every caller must
      // get the one REGISTERED table (no divergent cached copies in use)
      assert(results.map(System.identityHashCode).toSet.size === 1,
        "all callers must share one IndexedTable instance")
      assert(IndexManager.showIndexes(spark).count(_ == "t_conc") === 1)
    } finally IndexManager.dropIndex(spark, "t_conc")
  }

  test("index storage level follows spark.graft.index.storageLevel") {
    import org.apache.spark.storage.StorageLevel
    val other = spark.newSession()
    graft.Graft.setIndexStorageLevel(other, "DISK_ONLY")
    val idx = IndexManager.indexTable(other, Tables.customerPts(other, sf()),
      "t_disk_only", Seq("cx", "cy"), numPartitions = 4)
    assert(idx.data.storageLevel === StorageLevel.DISK_ONLY)
    intercept[IllegalArgumentException] {
      graft.Graft.setIndexStorageLevel(other, "NOT_A_LEVEL")
    }
    IndexManager.dropIndex(other, "t_disk_only")
  }

  // ---- partition-pruned probes: differential against brute force ----

  /** 610 rows on a 20x20 lattice — every coordinate repeats, so
    * partition MBR edges fall on tied values — plus rows with a null key. */
  private lazy val lattice = {
    import spark.implicits._
    ((0 until 600).map(i => (i.toLong, Option((i * 7 % 20).toDouble),
        Option((i * 13 % 20).toDouble))) ++
      (600 until 610).map(i => (i.toLong, if (i % 2 == 0) None else Some(1.0),
        if (i % 3 == 0) None else Some(2.0))))
      .toDF("id", "x", "y")
  }

  private def ids(df: org.apache.spark.sql.DataFrame, c: String = "id"): Seq[Long] =
    df.select(c).collect().map(_.getLong(0)).sorted.toSeq

  /** Every probe kind at hostile places — no partition hit, the full
    * extent, each partition's MBR, its corners, k past the row count —
    * equals the unindexed verb over the source. */
  private def assertProbesExact(idx: IndexedTable, state: String): Unit = {
    val keys = Seq("x", "y")
    val boxes = Seq((Array(100.0, 100.0), Array(200.0, 200.0)),
        (Array(-1.0, -1.0), Array(25.0, 25.0)), (Array(3.5, 3.5), Array(3.6, 3.6))) ++
      idx.stats.values.toSeq.flatMap { s =>
        val (lo, hi) = (s.mbr.low.coord, s.mbr.high.coord)
        Seq((lo, hi), (hi, hi), (lo, lo), (lo, lo.map(_ + 1.0)))
      }
    for ((lo, hi) <- boxes) {
      assert(ids(idx.boxRange(lo, hi)) === ids(lattice.boxRange(keys, lo.toSeq, hi.toSeq)),
        s"$state: box ${lo.toSeq} ${hi.toSeq}")
      for (r <- Seq(0.0, 1.5)) assert(ids(idx.circleRange(hi, r)) ===
          ids(lattice.circleRange(keys, hi.toSeq, r)), s"$state: circle ${hi.toSeq} $r")
    }
    for ((c, _) <- boxes.take(6); k <- Seq(1, 7, 50, 700))
      assert(ids(idx.knn(c, k, Seq("id"))) === ids(lattice.knn(keys, c.toSeq, k, Seq("id"))),
        s"$state: knn ${c.toSeq} k=$k")
  }

  test("pruned z-index probes equal brute force: fresh, loaded, re-cached, cleared") {
    val idx = IndexManager.indexTable(spark, lattice, "t_pruned", Seq("x", "y"),
      numPartitions = 8)
    try {
      assert(idx.stats.size > 2, s"want several partitions, got ${idx.stats.size}")
      assertProbesExact(idx, "fresh")
      IndexManager.setStorageLevel(spark, "t_pruned",
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
      assertProbesExact(idx, "after setStorageLevel")
      // a re-plan under the old global level: a new cache of the same plan
      idx.data.unpersist(); idx.data.persist()
      assertProbesExact(idx, "after unpersist + persist")
      spark.catalog.clearCache()
      assertProbesExact(idx, "after clearCache")
    } finally IndexManager.dropIndex(spark, "t_pruned")

    val path = java.nio.file.Files.createTempDirectory("graft_idx_pruned").toString
    val built = IndexManager.indexTable(spark, lattice, "t_pruned_src", Seq("x", "y"),
      numPartitions = 8)
    try IndexManager.persistIndex(built, path)
    finally IndexManager.dropIndex(spark, "t_pruned_src")
    val loaded = IndexManager.loadIndex(spark, "t_pruned_loaded", path)
    try assertProbesExact(loaded, "loaded")
    finally IndexManager.dropIndex(spark, "t_pruned_loaded")
  }

  test("a pruned probe schedules exactly the partitions its global level hits") {
    withIndex("t_tasks") { idx =>
      val (lo, hi) = (Array(2000.0, 100.0), Array(2600.0, 300.0))
      val (hit, total) = idx.prunedPartitionCount(lo, hi)
      assert(hit > 0 && hit < total, s"want a selective box, hit $hit of $total")
      val probe = idx.boxRange(lo, hi)
      assert(tasksOf(probe.collect()) === Seq(hit))
      val c = Array(2300.0, 200.0)
      val (cHit, _) = idx.prunedPartitionCount(c.map(_ - 150.0), c.map(_ + 150.0))
      assert(cHit > 0 && tasksOf(idx.circleRange(c, 150.0).collect()) === Seq(cHit))
      // a box outside the extent runs no task at all
      assert(tasksOf(idx.boxRange(Array(1e6, 1e6), Array(2e6, 2e6)).collect()).sum === 0)
      // after a re-cache the level is recomputed: still exact, still pruned
      IndexManager.setStorageLevel(spark, "t_tasks",
        org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      val (hit2, _) = idx.prunedPartitionCount(lo, hi)
      assert(tasksOf(idx.boxRange(lo, hi).collect()) === Seq(hit2))
      assert(ids(idx.boxRange(lo, hi), "c_custkey") ===
        ids(cust.boxRange(Seq("cx", "cy"), lo.toSeq, hi.toSeq), "c_custkey"))
    }
  }

  /** 500 keys with heavy ties (37 distinct values) plus 20 null keys. */
  private lazy val tiedKeys = {
    import spark.implicits._
    ((0 until 500).map(i => Option((i * 11 % 37).toDouble)) ++ Seq.fill(20)(None))
      .toDF("k")
  }

  private def assertOrderStatsExact(idx: RangeIndexedTable, state: String): Unit = {
    val k = col("k")
    val edges = idx.bounds.values.toSeq.flatMap { case (mn, mx, _) => Seq(mn, mx) }
    for (v <- Seq(-1.0, 100.0, 18.5) ++ edges) {
      assert(idx.rank(v) === tiedKeys.filter(k <= v).count(), s"$state: rank $v")
      assert(idx.getCount(v) === tiedKeys.filter(k === v).count(), s"$state: getCount $v")
    }
    for (lo <- Seq(-1.0, 3.0) ++ edges.take(4); hi <- Seq(-0.5, 36.0, 100.0) ++ edges.take(4))
      assert(idx.countRange(lo, hi) === tiedKeys.filter(k >= lo && k <= hi).count(),
        s"$state: countRange $lo $hi")
  }

  test("pruned range order statistics equal brute force: fresh, loaded, re-cached, cleared") {
    val idx = IndexManager.rangeIndexTable(spark, tiedKeys, "t_rank_pruned", "k",
      numPartitions = 8)
    try {
      assert(idx.bounds.size > 2, s"want several partitions, got ${idx.bounds.size}")
      assertOrderStatsExact(idx, "fresh")
      // rank scans exactly its straddlers; a driver-answered rank none
      val straddled = idx.bounds.values.collectFirst {
        case (mn, mx, _) if mn < mx => (mn + mx) / 2
      }.get
      val (scanned, _) = idx.rankScanStats(straddled)
      assert(tasksOf(idx.rank(straddled)).head === scanned)
      assert(tasksOf(idx.rank(100.0)).isEmpty)
      IndexManager.setStorageLevel(spark, "t_rank_pruned",
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
      assertOrderStatsExact(idx, "after setStorageLevel")
      spark.catalog.clearCache()
      assertOrderStatsExact(idx, "after clearCache")
    } finally IndexManager.dropIndex(spark, "t_rank_pruned")

    val path = java.nio.file.Files.createTempDirectory("graft_rng_pruned").toString
    val built = IndexManager.rangeIndexTable(spark, tiedKeys, "t_rank_src", "k",
      numPartitions = 8)
    try IndexManager.persistRangeIndex(built, path)
    finally IndexManager.dropIndex(spark, "t_rank_src")
    val loaded = IndexManager.loadRangeIndex(spark, "t_rank_loaded", path)
    try assertOrderStatsExact(loaded, "loaded")
    finally IndexManager.dropIndex(spark, "t_rank_loaded")
  }
}
