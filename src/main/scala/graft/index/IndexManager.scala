package graft.index

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{inBox, inCircle, pointDistance, zorder}
import graft.spatial.{MBR, Point, ZValue}

/** Two-level index subsystem, Spark-native rebuild of the reference's
  * IndexManager + IndexedRelation scheme (reference: IndexManager.scala:41-319,
  * index/RTreeIndexedRelation.scala:30-98, index/IndexedRelationScan.scala:16-252).
  *
  * The reference holds a driver-side global structure (partition MBRs)
  * over persisted per-partition local indexes. Here the same two levels
  * map onto Spark primitives:
  *
  *  - **global level** = per-partition statistics (MBR + z-range + count)
  *    collected with one distributed aggregation — the analogue of
  *    `global_rtree` over partition MBRs, used for driver-side pruning
  *    decisions and kNN radius estimation.
  *  - **local level** = the data itself, range-partitioned and sorted by
  *    a Morton (z-order) key and cached MEMORY_AND_DISK. Sorted+cached
  *    columnar batches give min/max batch pruning on the z key (the
  *    in-memory analogue of the local R-tree probe), and a persisted
  *    index is parquet whose row-group stats serve the same role on disk
  *    (`PushedFilters` on the z key).
  *
  * Queries rewrite to `z BETWEEN zlo AND zhi AND <exact predicate>`:
  * correct because the Morton code is monotone per dimension, so a box's
  * z-interval is [z(low), z(high)] (loose covering, exact filter re-applied
  * — the same widen-then-refilter the reference does for `<`/`<=` probes,
  * SimbaSessionState.scala:86-93,147-150).
  */
object IndexManager {

  sealed trait IndexKind
  /** n-D spatial clustering (reference RTreeType equivalent). */
  case object ZOrderKind extends IndexKind
  /** 1-D range clustering (reference TreeMapType/TreapType equivalent). */
  case object RangeKind extends IndexKind
  /** hash bucketing (reference HashMapType equivalent). */
  case object HashKind extends IndexKind
  /** quadtree cells as the global level (reference QuadTreeType equivalent). */
  case object QuadKind extends IndexKind

  /** Global-level entry: everything the driver knows about partition p. */
  final case class PartitionStat(mbr: MBR, count: Long, zMin: Long, zMax: Long)

  /** A global level and the id of the cached-batch RDD it was computed
    * from: its partition ids name that RDD's partitions and no other. */
  final case class GlobalLevel[S](parts: Map[Int, S], cacheRdd: Option[Int])

  /** A quadtree leaf: its cell is the CONTIGUOUS Morton interval
    * [zLo, zHi] (a node at depth L is a dims*L-bit z-prefix), `mbr` the
    * TRUE bounds of the rows inside (tighter than the cell rectangle —
    * prunes empty space the cell still covers). Empty cells are never
    * materialized. */
  final case class QuadLeaf(zLo: Long, zHi: Long, count: Long, mbr: MBR)

  final val ZCol = "__graft_zidx"

  private val registry = TrieMap[(String, String), IndexedTable]()

  // (source optimized plan, replacement optimized plan, index key
  // columns) triples consumed by graft.plans.IndexSubstitution — the
  // useIndexedData analogue. Key columns let the rule prefer, among
  // several indexes registered on one source, the one whose keys cover
  // the query's filter conjuncts (VERDICT r7 #8).
  private val planSubs =
    TrieMap[(String, String), (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                               org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                               Seq[String])]()

  /** Stable per-session registry key: a process-unique UUID assigned on
    * first sight of each session object. Unlike `System.identityHashCode`
    * (which can recur after a collected session, handing one session's
    * cached index to another), UUIDs never collide; the weak map lets a
    * dropped session be collected while `evictStopped` reclaims its
    * registry entries. (Spark's own `sessionUUID` would be ideal but is
    * `private[sql]`.) */
  private val sessionIds =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  private def skey(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)

  /** Drop entries owned by stopped sessions: their cached plans can never
    * be used again, and keeping them would pin the cached DataFrames (and
    * their executor memory) for the life of the JVM. Runs at every
    * build/load — registries are small (one entry per index). */
  private def evictStopped(): Unit = {
    // sparkContext is public API on SparkSession (no classic downcast
    // needed); a session kind whose sparkContext is unreachable (e.g.
    // remote/connect) can't be classified — treat as live rather than
    // evicting a working session's cache
    def stopped(df: DataFrame): Boolean =
      scala.util.Try(df.sparkSession.sparkContext.isStopped).getOrElse(false)
    registry.filterInPlace((_, v) => !stopped(v.data))
    rangeRegistry.filterInPlace((_, v) => !stopped(v.data))
    hashRegistry.filterInPlace((_, v) => !stopped(v.data))
    quadRegistry.filterInPlace((_, v) => !stopped(v.data))
    // every kind registers a substitution — forgetting one here silently
    // evicts its planSubs entry on the NEXT build of any index
    planSubs.filterInPlace((k, _) => registry.contains(k) || quadRegistry.contains(k) ||
      rangeRegistry.contains(k) || hashRegistry.contains(k))
  }

  /** Substitution pairs registered by THIS session only — a cross-session
    * leak would let one session's queries silently read another's cache. */
  def planSubstitutions(spark: SparkSession)
      : Seq[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             Seq[String])] =
    planSubs.iterator
      .filter(_._1._1 == skey(spark))
      .map(_._2).toSeq

  /** The pre-substitution source plan of `plan`: with the
    * IndexSubstitution rule installed on the session, an optimized plan
    * may ALREADY read a registered index's cache (the rule rewrote it
    * before we ever saw it). Plan-keyed operations — registration of a
    * second index on the same source, `hasIndex(table, index)`,
    * plan-matched drop — must key on the original source, or the rule
    * defeats them: a substituted probe sameResults the REPLACEMENT, not
    * the registered source. Strips the rule's rename-Project before
    * comparing (optimizers collapse it into the cache projection). */
  private def unsubstituted(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  ): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    // Strip ONLY the rule's own rename-Project: attribute-only AND its
    // output names are exactly the registered source's (same multiset,
    // same arity — the rule builds `aliased(p.output, repl)` with
    // p sameResult src, so the rename list carries src's names; the
    // cache side may have extra internal columns). A looser match (any
    // attribute-only Project — ADVICE r7) mapped a user's
    // column-pruning select over a substituted cache back to the FULL
    // source plan, mis-keying registration/drop for a plan the user
    // never indexed.
    def stripRename(
        src: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p match {
        case Project(pl, child) if pl.forall {
          case _: AttributeReference => true
          case Alias(_: AttributeReference, _) => true
          case _ => false
        } && pl.map(_.name).sorted == src.output.map(_.name).sorted => child
        case other => other
      }
    val sid = skey(spark)
    planSubs.iterator
      .filter(_._1._1 == sid)
      .collectFirst { case (_, (src, repl, _))
        if repl.sameResult(plan) || repl.sameResult(stripRename(src, plan)) => src }
      .getOrElse(plan)
  }

  private def sourcePlanOf(spark: SparkSession, df: DataFrame) =
    unsubstituted(spark, df.queryExecution.optimizedPlan)

  /** Build (or return) a spatial z-order index over `keyCols`. */
  def indexTable(spark: SparkSession, df: DataFrame, name: String,
                 keyCols: Seq[String], numPartitions: Int = 32,
                 bits: Int = 15): IndexedTable = {
    evictStopped()
    registry.getOrElseUpdate((skey(spark), name), {
      val idx = build(spark, df, name, keyCols, numPartitions, bits)
      // both sides OPTIMIZED: the substitution rule runs at the end of
      // optimization, so candidate subtrees are constant-folded etc. —
      // an analyzed source would never sameResult-match them; and the
      // replacement must already carry the InMemoryRelation (cache
      // substitution happens before optimization, so a plan inlined
      // during optimization would otherwise never pick up the cache)
      planSubs.put((skey(spark), name),
        (sourcePlanOf(spark, df),
         idx.data.select(df.columns.map(col): _*).queryExecution.optimizedPlan,
         keyCols))
      idx
    })
  }

  def hasIndex(spark: SparkSession, name: String): Boolean = {
    val key = (skey(spark), name)
    registry.contains(key) || rangeRegistry.contains(key) ||
      hashRegistry.contains(key) || quadRegistry.contains(key)
  }

  def dropIndex(spark: SparkSession, name: String): Unit = {
    val key = (skey(spark), name)
    registry.remove(key).foreach(_.data.unpersist())
    rangeRegistry.remove(key).foreach(_.data.unpersist())
    hashRegistry.remove(key).foreach(_.data.unpersist())
    quadRegistry.remove(key).foreach(_.data.unpersist())
    planSubs.remove(key)
  }

  def clearIndex(spark: SparkSession): Unit =
    (registry.keys ++ rangeRegistry.keys ++ hashRegistry.keys ++ quadRegistry.keys)
      .filter(_._1 == skey(spark))
      .foreach(k => dropIndex(spark, k._2))

  /** All index names registered for this session. */
  def showIndexes(spark: SparkSession): Seq[String] =
    (registry.keys ++ rangeRegistry.keys ++ hashRegistry.keys ++ quadRegistry.keys)
      .filter(_._1 == skey(spark)).map(_._2).toSeq.distinct.sorted

  private val rangeRegistry = TrieMap[(String, String), RangeIndexedTable]()
  private val hashRegistry = TrieMap[(String, String), HashIndexedTable]()
  private val quadRegistry = TrieMap[(String, String), QuadTreeIndexedTable]()

  /** Build (or return) a 1-D range index: range-partitioned, sorted,
    * cached — the reference's TreeMap/Treap indexed relations collapse to
    * this one clustering (reference: TreeMapIndexedRelation.scala:30-72,
    * TreapIndexedRelation.scala:30-71 — local sorted structure + driver
    * `range_bounds`). Partition pruning comes from cached-batch min/max
    * stats on the sorted key; the driver-held per-partition bounds serve
    * the global-level role for planning/tests. */
  def rangeIndexTable(spark: SparkSession, df: DataFrame, name: String,
                      keyCol: String, numPartitions: Int = 32): RangeIndexedTable = {
    evictStopped()
    rangeRegistry.getOrElseUpdate((skey(spark), name), {
      val clustered = df
        .repartitionByRange(numPartitions, col(keyCol))
        .sortWithinPartitions(keyCol)
        .persist(graft.GraftConf.indexStorageLevel(spark))
      // same transparent-substitution registration as the spatial kinds
      // (the reference's useIndexedData rewrite covers EVERY index kind,
      // reference: IndexManager.scala:311-318): any query over the same
      // source reads the clustered cache, where a 1-D key filter prunes
      // by cached-batch min/max stats on the sorted key
      planSubs.put((skey(spark), name),
        (sourcePlanOf(spark, df),
         clustered.select(df.columns.map(col): _*).queryExecution.optimizedPlan,
         Seq(keyCol)))
      new RangeIndexedTable(name, clustered, keyCol, rangeBounds(clustered, keyCol))
    })
  }

  private def rangeBounds(clustered: DataFrame,
                          keyCol: String): GlobalLevel[(Double, Double, Long)] = {
    val byPartition = clustered
      .groupBy(spark_partition_id().as("__pid"))
      // count(keyCol) counts KEYED rows only — null keys in a partition
      // must not inflate the driver-answered side of `rank`
      .agg(min(col(keyCol)).cast("double"), max(col(keyCol)).cast("double"),
        count(col(keyCol)))
    val parts = byPartition.collect()
      .flatMap(r => // an all-null-key partition has no usable bounds
        if (r.isNullAt(1)) None
        else Some(r.getInt(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))))
      .toMap
    GlobalLevel(parts, cachedBatches(byPartition).map(_.id))
  }

  /** The materialized cached-batch RDD `df`'s plan reads, if any. Only
    * a loaded cache is reported, so asking never starts a job. */
  private def cachedBatches(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] = {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation if r.cacheBuilder.isCachedColumnBuffersLoaded =>
        r.cacheBuilder.cachedColumnBuffers
    }
  }

  /** `df`, a filter over an index's cache, scheduled on the cached
    * partitions in `hit` only — the global level pruning partitions
    * before any task runs (the reference's IndexedRelationScan).
    * Partition ids name partitions of the cached RDD the global level
    * was computed from (`cacheRdd`) and nothing else: a cleared or
    * re-persisted cache re-runs the clustering shuffle with freshly
    * sampled bounds. So this is None unless `df` reads that very RDD,
    * and the caller scans every partition. `df` itself when every
    * partition is hit. */
  private[index] def onPartitions(df: DataFrame, cacheRdd: Option[Int],
                                  hit: Set[Int]): Option[DataFrame] =
    cachedBatches(df).filter(c => cacheRdd.contains(c.id)).flatMap { cached =>
      val n = cached.getNumPartitions
      if (hit.size >= n) Some(df)
      else {
        val rows = df.rdd
        // the scan over the cache is narrow, so row partition i is cached
        // partition i; anything else is not a plan this can prune
        if (rows.getNumPartitions != n) None
        else Some(df.sparkSession.createDataFrame(
          org.apache.spark.rdd.PartitionPruningRDD.create(rows, hit.contains), df.schema))
      }
    }

  /** Build (or return) a hash index: hash-clustered on the key, cached
    * (reference HashMapIndexedRelation analogue,
    * HashMapIndexedRelation.scala:28-65). Equality lookups touch one
    * partition's cached batches. */
  def hashIndexTable(spark: SparkSession, df: DataFrame, name: String,
                     keyCol: String, numPartitions: Int = 32): HashIndexedTable = {
    evictStopped()
    hashRegistry.getOrElseUpdate((skey(spark), name), {
      val clustered = df.repartition(numPartitions, col(keyCol))
        .persist(graft.GraftConf.indexStorageLevel(spark))
      // substitution parity with every other kind: an equality filter on
      // the key over the substituted cache touches one hash partition's
      // cached batches
      planSubs.put((skey(spark), name),
        (sourcePlanOf(spark, df),
         clustered.select(df.columns.map(col): _*).queryExecution.optimizedPlan,
         Seq(keyCol)))
      new HashIndexedTable(name, clustered, keyCol)
    })
  }

  /** Pass 1 of every spatial build: exact global bounds (tiny
    * distributed agg; the reference samples + collects instead,
    * STRPartitioner.scala:88-97). */
  private def exactBounds(df: DataFrame, name: String,
                          keyCols: Seq[String]): (Array[Double], Array[Double]) = {
    val aggs = keyCols.flatMap(c =>
      Seq(min(col(c)).cast("double").as(s"lo_$c"), max(col(c)).cast("double").as(s"hi_$c")))
    val b = df.agg(aggs.head, aggs.tail: _*).head()
    require(!b.isNullAt(0),
      s"cannot index '$name': table is empty or key column is all null")
    (keyCols.indices.map(i => b.getDouble(2 * i)).toArray,
     keyCols.indices.map(i => b.getDouble(2 * i + 1)).toArray)
  }

  private def build(spark: SparkSession, df: DataFrame, name: String,
                    keyCols: Seq[String], numPartitions: Int, bits: Int): IndexedTable = {
    require(keyCols.nonEmpty && keyCols.length * bits <= 62)
    val (lows, highs) = exactBounds(df, name, keyCols)

    // cluster: range-partition + sort by the Morton key, cache
    val z = zorder(keyCols.map(col), lows.toSeq, highs.toSeq, bits)
    val clustered = df.withColumn(ZCol, z)
      .repartitionByRange(numPartitions, col(ZCol))
      .sortWithinPartitions(ZCol)
      .persist(graft.GraftConf.indexStorageLevel(spark))

    new IndexedTable(name, clustered, keyCols, lows, highs, bits,
      partitionStats(clustered, keyCols))
  }

  /** Build (or return) a quadtree index (reference QuadTreeIndexedRelation
    * + QuadTreePartitioner, index/QuadTree.scala:43-197,
    * partitioner/QuadTreePartitioner.scala:34-128). A quadtree node at
    * depth L is a dims*L-bit Morton prefix — its cell is a CONTIGUOUS
    * z-interval — so the whole structure maps onto the z machinery:
    *
    *  - **global level**: the tree is built EXACTLY (the reference builds
    *    from a collected sample) from one bounded aggregation — row
    *    counts + true MBRs per finest-depth prefix (<= 2^16 groups to
    *    the driver whatever the table size), split midpoint-style while
    *    a cell holds more than `capacity` rows.
    *  - **partitioning**: leaves in z order are packed into count-balanced
    *    contiguous groups; the group id is a codegen'd comparison chain
    *    on the z key, range-shuffled once — midpoint cut points, i.e.
    *    the reference's QuadTreePartitioner, declaratively.
    *  - **scan**: a query prunes by TRUE leaf MBRs and reads the union of
    *    surviving leaf intervals — MULTIPLE tight z-intervals, strictly
    *    stronger than the single covering interval of the z index at
    *    quadrant seams (where [z(lo), z(hi)] covers nearly everything).
    */
  def quadTreeIndexTable(spark: SparkSession, df: DataFrame, name: String,
                         keyCols: Seq[String], numPartitions: Int = 32,
                         bits: Int = 15, capacity: Long = 0L): QuadTreeIndexedTable = {
    evictStopped()
    quadRegistry.getOrElseUpdate((skey(spark), name), {
      val idx = buildQuad(spark, df, name, keyCols, numPartitions, bits, capacity)
      planSubs.put((skey(spark), name),
        (sourcePlanOf(spark, df),
         idx.data.select(df.columns.map(col): _*).queryExecution.optimizedPlan,
         keyCols))
      idx
    })
  }

  private def buildQuad(spark: SparkSession, df: DataFrame, name: String,
                        keyCols: Seq[String], numPartitions: Int, bits: Int,
                        capacity: Long): QuadTreeIndexedTable = {
    require(keyCols.nonEmpty && keyCols.length * bits <= 62)
    val (lows, highs) = exactBounds(df, name, keyCols)

    val withZ = df.withColumn(ZCol,
      zorder(keyCols.map(col), lows.toSeq, highs.toSeq, bits))
    val (leaves, resolvedCapacity) =
      quadLeaves(withZ, keyCols, bits, capacity, numPartitions)

    // pack leaves (already in z order) into count-balanced contiguous
    // groups; the group id is a when-chain on z — codegen'd comparisons,
    // no udf — and one range shuffle lands each group in its partition
    val total = leaves.map(_.count).sum
    val target = math.max(1L, math.ceil(total.toDouble / numPartitions).toLong)
    val cuts = scala.collection.mutable.ArrayBuffer[Long]() // group-start zLo (excluding first)
    var acc = 0L
    leaves.foreach { l =>
      if (acc >= target && cuts.length < numPartitions - 1) { cuts += l.zLo; acc = 0L }
      acc += l.count
    }
    val partCol = cuts.zipWithIndex.foldLeft(lit(0)) { case (e, (cut, i)) =>
      when(col(ZCol) >= cut, i + 1).otherwise(e)
    }
    val clustered = withZ
      .repartitionByRange(cuts.length + 1, partCol, col(ZCol))
      .sortWithinPartitions(ZCol)
      .persist(graft.GraftConf.indexStorageLevel(spark))

    new QuadTreeIndexedTable(name, clustered, keyCols, lows, highs, bits,
      resolvedCapacity, leaves)
  }

  /** The exact global level: one aggregation by finest-depth z-prefix
    * (bounded at 2^16 groups regardless of table size) collects counts
    * and true MBRs; the driver then splits top-down while a cell holds
    * more than `capacity` rows (capacity 0 = auto: total/(4*parts), ~4
    * leaves per partition for pruning finer than the partition grain).
    * Empty cells are dropped — leaves cover data, not space. Returns the
    * RESOLVED capacity alongside, so a persisted index records the value
    * the tree was actually built with (auto depends on the partition
    * count, which may differ at load time). */
  private def quadLeaves(withZ: DataFrame, keyCols: Seq[String], bits: Int,
                         capacity0: Long, numPartitions: Int)
      : (Array[QuadLeaf], Long) = {
    val dims = keyCols.length
    val maxDepth = math.min(bits, 16 / dims).max(1)
    val shift = dims * (bits - maxDepth)
    val statAggs = keyCols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double"))) :+ count(lit(1))
    // null-keyed rows are excluded from the tree: quantize clamps a null
    // ordinate to cell 0 (Spark's greatest/least skip nulls), so such a
    // row lands in a real prefix group whose min/max over the null key
    // can then be null and crash the MBR read below. They can never
    // satisfy a box/circle/knn predicate — scans that admit them through
    // a z-interval re-filter them exactly, matching the z index (whose
    // stats min/max skip them the same way).
    val rows = withZ
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(shiftrightunsigned(col(ZCol), shift).as("__pfx"))
      .agg(statAggs.head, statAggs.tail: _*)
      .collect()
      .sortBy(_.getLong(0))
    val pfx = rows.map(_.getLong(0))
    val cnt = rows.map(_.getLong(1 + 2 * dims))
    val cum = cnt.scanLeft(0L)(_ + _) // cum(i) = rows before cell i
    val total = cum.last
    val capacity = if (capacity0 > 0) capacity0
      else math.max(1L, math.ceil(total.toDouble / (4L * numPartitions)).toLong)

    def mbrOf(from: Int, until: Int): MBR = {
      val lo = Array.fill(dims)(Double.MaxValue)
      val hi = Array.fill(dims)(Double.MinValue)
      var i = from
      while (i < until) {
        var d = 0
        while (d < dims) {
          lo(d) = math.min(lo(d), rows(i).getDouble(1 + 2 * d))
          hi(d) = math.max(hi(d), rows(i).getDouble(2 + 2 * d))
          d += 1
        }
        i += 1
      }
      MBR(Point(lo), Point(hi))
    }

    val out = scala.collection.mutable.ArrayBuffer[QuadLeaf]()
    // node (depth, p) covers finest prefixes [p << w, (p+1) << w), w below
    def walk(depth: Int, p: Long): Unit = {
      val w = dims * (maxDepth - depth)
      val from = lowerBound(pfx, p << w)
      val until = lowerBound(pfx, (p + 1L) << w)
      val n = cum(until) - cum(from)
      if (n == 0L) return
      if (n > capacity && depth < maxDepth) {
        var c = 0L
        val fan = 1L << dims
        while (c < fan) { walk(depth + 1, (p << dims) | c); c += 1 }
      } else {
        val cellBits = dims * (bits - depth)
        out += QuadLeaf(p << cellBits, ((p + 1L) << cellBits) - 1L, n,
          mbrOf(from, until))
      }
    }
    walk(0, 0L)
    (out.toArray, capacity)
  }

  /** First index i with xs(i) >= key (xs sorted ascending). */
  private def lowerBound(xs: Array[Long], key: Long): Int = {
    var lo = 0
    var hi = xs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (xs(mid) < key) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Global level — per-partition stats (numPartitions rows to driver).
    * Computed from whatever partitioning the data actually has, so it is
    * equally valid for a freshly built clustering and a parquet-loaded
    * one (where partitions are the read splits). The job that computes
    * it fills the cache, whose RDD id the level records. */
  private def partitionStats(clustered: DataFrame,
                             keyCols: Seq[String]): GlobalLevel[PartitionStat] = {
    val statAggs = keyCols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double"))) ++
      Seq(count(lit(1)), min(col(ZCol)), max(col(ZCol)))
    val byPartition = clustered.groupBy(spark_partition_id().as("__pid"))
      .agg(statAggs.head, statAggs.tail: _*)
    val parts = byPartition.collect().map { r =>
      val lo = keyCols.indices.map(i => r.getDouble(1 + 2 * i)).toArray
      val hi = keyCols.indices.map(i => r.getDouble(2 + 2 * i)).toArray
      val base = 1 + 2 * keyCols.length
      r.getInt(0) -> PartitionStat(MBR(Point(lo), Point(hi)),
        r.getLong(base), r.getLong(base + 1), r.getLong(base + 2))
    }.toMap
    GlobalLevel(parts, cachedBatches(byPartition).map(_.id))
  }

  /** Persisted-index I/O without metadata jobs: the one JSON meta line
    * is written and read on the driver through the Hadoop filesystem
    * (any hadoop filesystem — hdfs://, s3a:// — not just local paths;
    * the reader also reads the `part-*` text files older layouts wrote
    * with a Spark job), and `data/` is read with its footer's schema, so
    * no schema-inference job runs. */
  private def writeLayout(data: DataFrame, path: String, meta: String): Unit = {
    data.write.mode("overwrite").parquet(s"$path/data")
    graft.operators.DedupOps.publishMeta(data.sparkSession, path, Seq(meta))
  }

  private def readMeta(spark: SparkSession, path: String): String =
    graft.operators.DedupOps.readMetaLines(spark, path, "load index").headOption
      .getOrElse(throw new IllegalArgumentException(s"index meta at $path/meta is empty"))

  private def readData(spark: SparkSession, path: String): DataFrame = {
    val data = s"$path/data"
    graft.Tables.footerSchema(spark, data).fold(spark.read)(spark.read.schema(_)).parquet(data)
      .persist(graft.GraftConf.indexStorageLevel(spark))
  }

  /** Persist an index as sorted parquet + JSON metadata; `load` restores
    * it with pruning served by parquet row-group stats on the z key
    * (the reference serializes raw RDDs via saveAsObjectFile instead,
    * IndexManager.scala:122-176). */
  def persistIndex(idx: IndexedTable, path: String): Unit =
    writeLayout(idx.data, path, ujsonish(idx))

  def loadIndex(spark: SparkSession, name: String, path: String): IndexedTable = {
    evictStopped()
    val (keyCols, lows, highs, bits) = parseMeta(readMeta(spark, path))
    val data = readData(spark, path)
    // the global level is recomputed from the loaded layout (one tiny
    // agg over the read splits, which inherit the sorted files), so a
    // loaded index serves `knn` with stats-driven radius pruning instead
    // of silently degrading to a full top-k scan — parity with the
    // reference, which rebuilds its global index on load
    // (reference: IndexManager.scala:122-176)
    val idx = new IndexedTable(name, data, keyCols, lows, highs, bits,
      partitionStats(data, keyCols))
    registry.putIfAbsent((skey(spark), name), idx)
    idx
  }

  /** Persist/load parity for the 1-D range index: sorted parquet whose
    * row-group stats serve key-range pruning on disk; partition bounds
    * are recomputed on load. */
  def persistRangeIndex(idx: RangeIndexedTable, path: String): Unit =
    writeLayout(idx.data, path, s"""{"kind": "range", "keyCol": ${jstr(idx.keyCol)}}""")

  def loadRangeIndex(spark: SparkSession, name: String, path: String): RangeIndexedTable = {
    evictStopped()
    val keyCol = strField(readMeta(spark, path), "keyCol")
    val data = readData(spark, path)
    val idx = new RangeIndexedTable(name, data, keyCol, rangeBounds(data, keyCol))
    rangeRegistry.putIfAbsent((skey(spark), name), idx)
    idx
  }

  /** Persist/load parity for the hash index: the clustered layout lands
    * one hash bucket per file, so an equality lookup on the loaded data
    * prunes to the files whose row-group stats admit the key. */
  def persistHashIndex(idx: HashIndexedTable, path: String): Unit =
    writeLayout(idx.data, path, s"""{"kind": "hash", "keyCol": ${jstr(idx.keyCol)}}""")

  def loadHashIndex(spark: SparkSession, name: String, path: String): HashIndexedTable = {
    evictStopped()
    val keyCol = strField(readMeta(spark, path), "keyCol")
    val data = readData(spark, path)
    val idx = new HashIndexedTable(name, data, keyCol)
    hashRegistry.putIfAbsent((skey(spark), name), idx)
    idx
  }

  /** Persist/load parity for the quadtree index: z-sorted parquet (row-
    * group stats serve the interval pruning on disk) + parameters; the
    * tree itself is recomputed on load — it is a deterministic function
    * of (data, keyCols, bits, capacity), and the one bounded aggregation
    * is cheaper than serializing and trusting stale leaves. */
  def persistQuadIndex(idx: QuadTreeIndexedTable, path: String): Unit = {
    val cols = idx.keyCols.map(jstr).mkString("[", ",", "]")
    writeLayout(idx.data, path, s"""{"kind": "quadtree", "keyCols": $cols, """ +
      s""""lows": ${idx.lows.mkString("[", ",", "]")}, """ +
      s""""highs": ${idx.highs.mkString("[", ",", "]")}, """ +
      s""""bits": ${idx.bits}, "capacity": ${idx.capacity}}""")
  }

  def loadQuadIndex(spark: SparkSession, name: String, path: String): QuadTreeIndexedTable = {
    evictStopped()
    val meta = readMeta(spark, path)
    val (keyCols, lows, highs, bits) = parseMeta(meta)
    val capacity = """"capacity":\s*(\d+)""".r.findFirstMatchIn(meta).get.group(1).toLong
    val data = readData(spark, path)
    // capacity in the meta is always the resolved value -> same tree
    val (leaves, _) = quadLeaves(data, keyCols, bits, capacity,
      graft.GraftConf.indexPartitions(spark))
    val idx = new QuadTreeIndexedTable(name, data, keyCols, lows, highs, bits,
      capacity, leaves)
    quadRegistry.putIfAbsent((skey(spark), name), idx)
    idx
  }

  private def strField(json: String, key: String): String =
    junstr((s"""\"$key\":\\s*\"((?:[^\"\\\\]|\\\\.)*)\"""").r.findFirstMatchIn(json).getOrElse(
      throw new IllegalArgumentException(s"index meta missing '$key': $json")
    ).group(1))

  /** Re-cache the named index (any kind, this session) at `level` —
    * the reference's `setStorageLevel` (reference: IndexManager.scala:
    * 179-187). Spark refuses to change a live cache's level, so the data
    * is unpersisted and re-persisted. The new cache re-runs the
    * clustering shuffle, whose partitions the old global level does not
    * describe, so the z-order and range kinds recompute theirs (one job,
    * which also fills the new cache); the other kinds re-fill lazily. */
  def setStorageLevel(spark: SparkSession, name: String,
                      level: org.apache.spark.storage.StorageLevel): Unit = {
    val key = (skey(spark), name)
    val datas = registry.get(key).map(_.data) ++
      rangeRegistry.get(key).map(_.data) ++ hashRegistry.get(key).map(_.data) ++
      quadRegistry.get(key).map(_.data)
    require(datas.nonEmpty, s"no index named '$name' in this session")
    datas.foreach { d => d.unpersist(); d.persist(level) }
    registry.get(key).foreach(i => i.global = partitionStats(i.data, i.keyCols))
    rangeRegistry.get(key).foreach(i => i.global = rangeBounds(i.data, i.keyCol))
  }

  /** Persist the named index of whatever kind is registered under it
    * (z-order / range / hash dispatch on the registry). */
  def persistIndexByName(spark: SparkSession, name: String, path: String): Unit = {
    val key = (skey(spark), name)
    registry.get(key).map(persistIndex(_, path))
      .orElse(rangeRegistry.get(key).map(persistRangeIndex(_, path)))
      .orElse(hashRegistry.get(key).map(persistHashIndex(_, path)))
      .orElse(quadRegistry.get(key).map(persistQuadIndex(_, path)))
      .getOrElse(throw new IllegalArgumentException(
        s"no index named '$name' in this session"))
  }

  /** Load an index persisted at `path`, dispatching on its metadata's
    * `kind` tag (z-order metadata written before the tag existed has
    * none — those fall back on the `keyCols` shape). */
  def loadIndexAuto(spark: SparkSession, name: String, path: String): Unit = {
    val meta = readMeta(spark, path)
    (""""kind":\s*"(\w+)"""".r).findFirstMatchIn(meta).map(_.group(1)) match {
      case Some("quadtree")           => loadQuadIndex(spark, name, path)
      case Some("zorder")             => loadIndex(spark, name, path)
      case Some("range")              => loadRangeIndex(spark, name, path)
      case Some("hash")               => loadHashIndex(spark, name, path)
      case Some(other)                => throw new IllegalArgumentException(
        s"unknown persisted index kind '$other' at $path")
      case None if meta.contains("\"keyCols\"") => loadIndex(spark, name, path)
      case None                       => throw new IllegalArgumentException(
        s"unrecognized index meta at $path: $meta")
    }
  }

  /** Names of this session's plan-registered indexes (all four kinds)
    * whose SOURCE plan is the same query as `df` — the lookup behind the
    * reference's table-scoped DDL (`hasIndex(table, index)`,
    * `showIndex(table)`; its IndexManager keys on `plan.sameResult` the
    * same way, IndexManager.scala:70-103). */
  def indexesOfPlan(spark: SparkSession, df: DataFrame): Seq[String] = {
    val plan = sourcePlanOf(spark, df)
    planSubs.iterator
      .filter { case ((sid, _), (src, _, _)) => sid == skey(spark) && src.sameResult(plan) }
      .map(_._1._2).toSeq
  }

  /** Drop every z-order index whose registered SOURCE plan is the same
    * query as `df` — the reference's plan-matched `dropIndex`
    * (reference: DataSet.scala:194-197). Returns the dropped names. */
  def dropIndexesOfPlan(spark: SparkSession, df: DataFrame): Seq[String] = {
    val mine = indexesOfPlan(spark, df)
    mine.foreach(dropIndex(spark, _))
    mine
  }

  // minimal hand-rolled JSON (no extra deps); column names pass through
  // jstr/junstr so quotes and backslashes round-trip
  private[index] def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private val EscapedChar = """\\(.)""".r
  private[index] def junstr(s: String): String =
    EscapedChar.replaceAllIn(s, m => scala.util.matching.Regex.quoteReplacement(m.group(1)))

  private val QuotedStr = """"((?:[^"\\]|\\.)*)"""".r

  private def ujsonish(idx: IndexedTable): String = {
    val cols = idx.keyCols.map(jstr).mkString("[", ",", "]")
    val lo = idx.lows.mkString("[", ",", "]")
    val hi = idx.highs.mkString("[", ",", "]")
    s"""{"kind": "zorder", "keyCols": $cols, "lows": $lo, "highs": $hi, "bits": ${idx.bits}}"""
  }

  private def parseMeta(s: String): (Seq[String], Array[Double], Array[Double], Int) = {
    def raw(key: String): String =
      (s"""\"$key\":\\s*\\[(.*?)\\]""").r.findFirstMatchIn(s).get.group(1)
    def strArr(key: String): Seq[String] =
      QuotedStr.findAllMatchIn(raw(key)).map(m => junstr(m.group(1))).toSeq
    def numArr(key: String): Array[Double] = {
      val m = raw(key)
      if (m.trim.isEmpty) Array.empty else m.split(",").map(_.trim.toDouble)
    }
    val bits = """"bits":\s*(\d+)""".r.findFirstMatchIn(s).get.group(1).toInt
    (strArr("keyCols"), numArr("lows"), numArr("highs"), bits)
  }
}

/** A built index: clustered+cached data plus the driver-held global level. */
final class IndexedTable(
    val name: String,
    private[index] val data: DataFrame,
    val keyCols: Seq[String],
    val lows: Array[Double],
    val highs: Array[Double],
    val bits: Int,
    @volatile private[index] var global: IndexManager.GlobalLevel[IndexManager.PartitionStat])
    extends Serializable {

  import IndexManager.ZCol

  /** The global level: partition id -> stats of that cached partition. */
  def stats: Map[Int, IndexManager.PartitionStat] = global.parts

  /** Partitions of `g` whose MBR intersects the box [lo, hi]. */
  private def hitOf(g: IndexManager.GlobalLevel[IndexManager.PartitionStat],
                    lo: Array[Double], hi: Array[Double]): Set[Int] = {
    val box = MBR(Point(lo), Point(hi))
    g.parts.collect { case (p, s) if s.mbr.intersects(box) => p }.toSet
  }

  private def zOf(p: Array[Double]): Long =
    ZValue.interleave(
      p.indices.map(i => ZValue.quantize(p(i), lows(i), highs(i), bits)).toArray, bits)

  /** Covering z-interval of a box — monotonicity of the Morton code per
    * dimension puts the box's min/max z at its low/high corners. */
  private def zRange(lo: Array[Double], hi: Array[Double]): (Long, Long) =
    (zOf(lo), zOf(hi))

  private def output: Seq[Column] =
    data.columns.filterNot(_ == ZCol).map(col).toSeq

  /** The z-interval pre-filter for the bbox [lo, hi] — or no filter at
    * all when the box covers most of the indexed extent: a near-full
    * z-interval prunes no batches and costs a comparison per row, so
    * past the selectivity threshold a plain scan is the better plan
    * (reference: IndexedRelationScan.scala:172-180, gated by
    * SimbaConf.scala:132-146). Semantics-free either way — the caller
    * always re-applies the exact predicate. */
  private def zInterval(lo: Array[Double], hi: Array[Double]): Option[Column] = {
    val spark = data.sparkSession
    val covered = MBR(Point(lows), Point(highs))
      .calcRatio(MBR(Point(lo), Point(hi)))
    if (graft.GraftConf.indexSelectivityEnable(spark) &&
        covered >= graft.GraftConf.indexSelectivityThreshold(spark)) None
    else {
      val (zlo, zhi) = zRange(lo, hi)
      Some(col(ZCol) >= zlo && col(ZCol) <= zhi)
    }
  }

  /** The rows a probe with bbox [lo, hi] reads: the cached partitions the
    * global level says the box can hit — all of them without stats, or
    * once the cache is no longer the one they describe — with the
    * z-interval pre-filter pruning cached batches inside them. Over a
    * pruned leaf the interval is stated again, so the plan still shows
    * the pre-filter (over an unpruned scan Spark merges the two). */
  private def scan(lo: Array[Double], hi: Array[Double]): DataFrame = {
    val z = zInterval(lo, hi)
    val pre = z.fold(data)(data.filter(_))
    val g = global
    val kept =
      if (g.parts.isEmpty) pre
      else IndexManager.onPartitions(pre, g.cacheRdd, hitOf(g, lo, hi)).getOrElse(pre)
    z.fold(kept)(kept.filter(_))
  }

  /** Indexed box range: partitions pruned by the global level, then the
    * z-interval pre-filter (batch/row-group pruning) and the exact
    * predicate (the widen-then-refilter discipline). */
  def boxRange(lo: Array[Double], hi: Array[Double]): DataFrame =
    scan(lo, hi)
      .filter(inBox(keyCols.map(col), lo.toSeq, hi.toSeq))
      .select(output: _*)

  /** Indexed circle range: the circle's bbox prunes, the exact distance
    * predicate decides. */
  def circleRange(center: Array[Double], r: Double): DataFrame =
    scan(center.map(_ - r), center.map(_ + r))
      .filter(inCircle(keyCols.map(col), center.toSeq, r))
      .select(output: _*)

  /** Indexed kNN: estimate a starting radius from the global level
    * (density of partitions nearest to the query — the role of the
    * reference's global-index kNN phase, IndexedRelationScan.scala:122-146),
    * then expand until >= k rows fall inside; finish with exact top-k on
    * the pruned candidates. Falls back to a full top-k scan only when
    * stats are absent (loaded indexes recompute theirs, so in practice:
    * never — kept as a safety net). */
  def knn(center: Array[Double], k: Int, tieBreak: Seq[String]): DataFrame = {
    val q = Point(center)
    val ordered = (df: DataFrame) => df
      .withColumn("__graft_knn_d", pointDistance(keyCols.map(col), center.toSeq.map(lit)))
      // null-key rows get a null distance, which asc ranks FIRST: exclude
      .filter(col("__graft_knn_d").isNotNull)
      .orderBy((col("__graft_knn_d").asc +: tieBreak.map(col(_).asc)): _*)
      .limit(k)
      .drop("__graft_knn_d")

    if (stats.isEmpty) return ordered(data).select(output: _*)

    // initial radius: walk partitions by minDist until counts cover k,
    // bound by the furthest corner of the last partition taken
    val byDist = stats.values.toArray.sortBy(_.mbr.minDist(q))
    var covered = 0L
    var r = 0.0
    var i = 0
    while (i < byDist.length && covered < k) {
      covered += byDist(i).count
      r = math.max(r, graft.spatial.Dist.furthest(q, byDist(i).mbr))
      i += 1
    }
    if (covered < k) return ordered(data).select(output: _*) // fewer than k rows total

    // r = max furthest-corner over the partitions walked, and those
    // partitions alone hold >= k rows, so the circle is guaranteed to
    // contain >= k rows — no count-and-expand round trips needed
    ordered(circleRange(center, r))
  }

  /** Partitions whose MBR intersects the query box, out of all — the
    * partitions a box probe (or a circle probe, by its bbox) schedules. */
  def prunedPartitionCount(lo: Array[Double], hi: Array[Double]): (Int, Int) = {
    val g = global
    (hitOf(g, lo, hi).size, g.parts.size)
  }
}

/** A 1-D range index: sorted+cached data plus driver-held partition
  * bounds (the reference's `range_bounds` global level). */
final class RangeIndexedTable(
    val name: String,
    private[index] val data: DataFrame,
    val keyCol: String,
    @volatile private[index] var global: IndexManager.GlobalLevel[(Double, Double, Long)])
    extends Serializable {

  import org.apache.spark.sql.functions.col

  /** partition id -> (min, max, count) of the key. */
  def bounds: Map[Int, (Double, Double, Long)] = global.parts

  /** `known` (rows of the partitions outside `scan`, answered by `g`)
    * plus the rows matching `pred` in the partitions `scan` — scanned
    * alone. When the cache is no longer the one `g` describes, its
    * partition ids mean nothing, and `pred` is counted over every
    * partition instead. */
  private def countOn(g: IndexManager.GlobalLevel[(Double, Double, Long)],
                      known: Long, scan: Set[Int], pred: Column): Long =
    if (scan.isEmpty) known
    else {
      val pre = data.filter(pred)
      IndexManager.onPartitions(pre, g.cacheRdd, scan).fold(pre.count())(known + _.count())
    }

  /** key in [lo, hi] (inclusive): sorted cached batches prune by min/max. */
  def range(lo: Double, hi: Double): DataFrame =
    data.filter(col(keyCol) >= lo && col(keyCol) <= hi)

  def lessThan(hi: Double): DataFrame = data.filter(col(keyCol) < hi)

  /** Partitions whose bounds intersect [lo, hi] — the global-level
    * pruning decision, exposed for tests/metrics. */
  def prunedPartitionCount(lo: Double, hi: Double): (Int, Int) =
    (bounds.values.count { case (mn, mx, _) => mn <= hi && mx >= lo }, bounds.size)

  /** Number of rows with key <= k — the reference treap's order-
    * statistic `rank` (reference: index/Treap.scala:117-126), previously
    * a documented collapse. Two-level answer: partitions entirely at or
    * below k are summed from the driver-held bounds with NO scan; only
    * partitions whose range straddles k are scanned (one pruned count
    * over the sorted cache). Null keys never count. */
  def rank(k: Double): Long = {
    val g = global
    val below = g.parts.values.collect { case (_, mx, cnt) if mx <= k => cnt }.sum
    val straddlers = g.parts.collect {
      case (pid, (mn, mx, _)) if mn <= k && mx > k => pid
    }.toSet
    countOn(g, below, straddlers, col(keyCol) <= k)
  }

  /** Multiplicity of exactly `k` — the reference treap's `getCount`
    * (reference: index/Treap.scala:128-135; its -1-for-absent sentinel
    * becomes the natural 0). Scans only partitions whose bounds admit
    * the key. */
  def getCount(k: Double): Long = {
    val g = global
    val hits = g.parts.collect {
      case (pid, (mn, mx, _)) if mn <= k && k <= mx => pid
    }.toSet
    countOn(g, 0L, hits, col(keyCol) === k)
  }

  /** Number of rows with key in [lo, hi] (inclusive) = rank algebra
    * over the same two-level structure: interior partitions from the
    * driver bounds, boundary partitions scanned. */
  def countRange(lo: Double, hi: Double): Long = {
    val g = global
    val interior = g.parts.values.collect {
      case (mn, mx, cnt) if mn >= lo && mx <= hi => cnt
    }.sum
    val boundary = g.parts.collect {
      case (pid, (mn, mx, _)) if mn <= hi && mx >= lo && (mn < lo || mx > hi) => pid
    }.toSet
    countOn(g, interior, boundary, col(keyCol) >= lo && col(keyCol) <= hi)
  }

  /** Straddling-partition count for a rank probe (scanned, total) —
    * the driver-answered fraction, exposed for tests/metrics. */
  def rankScanStats(k: Double): (Int, Int) =
    (bounds.values.count { case (mn, mx, _) => mn <= k && mx > k }, bounds.size)
}

/** A hash index: hash-clustered cached data; equality lookups.
  * (reference: HashMapIndexedRelation.scala:28-65). */
final class HashIndexedTable(
    val name: String,
    private[index] val data: DataFrame,
    val keyCol: String) extends Serializable {

  import org.apache.spark.sql.functions.{col, lit}

  def lookup(value: Any): DataFrame = data.filter(col(keyCol) === lit(value))

  def lookupIn(values: Seq[Any]): DataFrame =
    data.filter(col(keyCol).isin(values: _*))
}

/** A quadtree index: z-sorted cached data plus the driver-held tree
  * (reference QuadTreeIndexedRelation.scala:28-85). Queries prune by TRUE
  * leaf MBRs, then read the UNION of surviving leaf z-intervals — several
  * tight BETWEENs instead of the z index's single covering interval, so
  * quadrant-seam queries (where [z(lo), z(hi)] covers nearly the whole
  * curve) skip the non-intersecting subtrees in between. */
final class QuadTreeIndexedTable(
    val name: String,
    private[index] val data: DataFrame,
    val keyCols: Seq[String],
    val lows: Array[Double],
    val highs: Array[Double],
    val bits: Int,
    val capacity: Long,
    val leaves: Array[IndexManager.QuadLeaf]) extends Serializable {

  import IndexManager.ZCol

  /** Predicate cap: pruning finer than this folds the cheapest gaps —
    * leaf-count-weighted, so the rows a fold re-admits are minimal —
    * keeping the scan filter a short codegen'd comparison chain. */
  private val maxIntervals = 64

  private def output: Seq[Column] =
    data.columns.filterNot(_ == ZCol).map(col).toSeq

  /** Surviving leaf intervals under `keep`, coalesced: a run of
    * consecutive kept leaves merges into one interval (the z-space
    * between consecutive MATERIALIZED leaves holds no rows — empty cells
    * are never materialized), and if more than `maxIntervals` runs
    * survive, the cheapest gaps (fewest skipped rows) are folded in —
    * correctness is indifferent, the exact predicate re-filters. */
  private[index] def intervalsFor(keep: IndexManager.QuadLeaf => Boolean): Seq[(Long, Long)] = {
    // runs of kept leaves: (zLo, zHi, leaf index range)
    val runs = scala.collection.mutable.ArrayBuffer[(Long, Long, Int, Int)]()
    var i = 0
    while (i < leaves.length) {
      if (keep(leaves(i))) {
        val start = i
        while (i + 1 < leaves.length && keep(leaves(i + 1))) i += 1
        runs += ((leaves(start).zLo, leaves(i).zHi, start, i))
      }
      i += 1
    }
    if (runs.length <= maxIntervals) runs.map(r => (r._1, r._2)).toSeq
    else {
      // keep the (maxIntervals - 1) most expensive gaps as separators
      val gapCost = (0 until runs.length - 1).map { g =>
        val skipped = (runs(g)._4 + 1 until runs(g + 1)._3)
          .map(leaves(_).count).sum
        (g, skipped)
      }
      val seps = gapCost.sortBy(-_._2).take(maxIntervals - 1).map(_._1).toSet
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var lo = runs.head._1
      for (g <- runs.indices) {
        if (g == runs.length - 1 || seps(g)) {
          out += ((lo, runs(g)._2))
          if (g < runs.length - 1) lo = runs(g + 1)._1
        }
      }
      out.toSeq
    }
  }

  /** OR-of-BETWEENs pre-filter over the surviving leaf intervals, or the
    * plain data when the box covers most of the extent (same selectivity
    * fallback as the z index — a near-total interval set prunes nothing
    * and costs comparisons per row). */
  private def preFilter(box: MBR): DataFrame = {
    val spark = data.sparkSession
    val covered = MBR(Point(lows), Point(highs)).calcRatio(box)
    if (graft.GraftConf.indexSelectivityEnable(spark) &&
        covered >= graft.GraftConf.indexSelectivityThreshold(spark)) data
    else {
      val ivs = intervalsFor(_.mbr.intersects(box))
      if (ivs.isEmpty) data.limit(0)
      else data.filter(ivs.map { case (lo, hi) =>
        col(ZCol) >= lo && col(ZCol) <= hi
      }.reduce(_ || _))
    }
  }

  def boxRange(lo: Array[Double], hi: Array[Double]): DataFrame =
    preFilter(MBR(Point(lo), Point(hi)))
      .filter(inBox(keyCols.map(col), lo.toSeq, hi.toSeq))
      .select(output: _*)

  def circleRange(center: Array[Double], r: Double): DataFrame = {
    val q = Point(center)
    // leaf-level pruning on exact MBR-to-center distance (tighter than
    // the bounding box of the circle); exact predicate re-filters
    val ivs = intervalsFor(_.mbr.minDist(q) <= r)
    val pre =
      if (ivs.isEmpty) data.limit(0)
      else data.filter(ivs.map { case (lo, hi) =>
        col(ZCol) >= lo && col(ZCol) <= hi
      }.reduce(_ || _))
    pre.filter(inCircle(keyCols.map(col), center.toSeq, r))
      .select(output: _*)
  }

  /** Indexed kNN: the leaf walk is the z index's partition walk at leaf
    * granularity — finer stats, tighter starting radius (same
    * single-pass bound: the walked leaves alone hold >= k rows). */
  def knn(center: Array[Double], k: Int, tieBreak: Seq[String]): DataFrame = {
    val q = Point(center)
    val ordered = (df: DataFrame) => df
      .withColumn("__graft_knn_d", pointDistance(keyCols.map(col), center.toSeq.map(lit)))
      .filter(col("__graft_knn_d").isNotNull)
      .orderBy((col("__graft_knn_d").asc +: tieBreak.map(col(_).asc)): _*)
      .limit(k)
      .drop("__graft_knn_d")

    val byDist = leaves.sortBy(_.mbr.minDist(q))
    var covered = 0L
    var r = 0.0
    var i = 0
    while (i < byDist.length && covered < k) {
      covered += byDist(i).count
      r = math.max(r, graft.spatial.Dist.furthest(q, byDist(i).mbr))
      i += 1
    }
    if (covered < k) return ordered(data).select(output: _*)
    ordered(circleRange(center, r))
  }

  /** Leaves whose true MBR intersects the box vs total — the
    * global-level pruning decision, exposed for tests/metrics. */
  def prunedLeafCount(lo: Array[Double], hi: Array[Double]): (Int, Int) = {
    val box = MBR(Point(lo), Point(hi))
    (leaves.count(_.mbr.intersects(box)), leaves.length)
  }
}
