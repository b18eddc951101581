package graft

import org.apache.spark.sql.SparkSession

/** Session-scoped configuration surface, the rebuild of the reference's
  * `simba.*` knob namespace (reference: SimbaConf.scala:111-155 — join
  * algorithm selection, partition counts, sample rates, zKNN shifts).
  * Values live in the session's runtime conf, so `spark.conf.set(...)`
  * reconfigures the library without code changes, per session.
  */
object GraftConf {

  val JoinPartitions     = "spark.graft.join.partitions"
  val DistanceJoinAlgo   = "spark.graft.join.distanceJoin"   // auto | grid | broadcast | naive
  val KnnJoinAlgo        = "spark.graft.join.knnJoin"        // grid | zorder | pivot | naive | auto
  val BroadcastThreshold = "spark.graft.join.broadcastThreshold" // row estimate
  val SampleCap          = "spark.graft.knn.sampleCap"
  val KnnQuantile        = "spark.graft.knn.radiusQuantile"
  val KnnSafety          = "spark.graft.knn.radiusSafety"
  // dense-cell grid refinement cap for the grid kNN join (1 disables)
  val KnnMaxRefine       = "spark.graft.knn.maxRefine"
  // ceiling on the pivot kNN join's size-adaptive pivot budget: the
  // join scales its Voronoi cell count to hold per-cell right
  // population at ~pivotCellSize rows (p ∝ n — candidate volume then
  // grows linearly per decade; both a fixed p and the former p ~ √n
  // measured superlinear). The cap bounds the driver-held pivot
  // matrix (p×d doubles) and the per-cell stats collects; above
  // ~256 pivots the join routes through two-level coarse/fine kernels
  // so per-row work stays O(√p·d)
  val KnnMaxPivots       = "spark.graft.knn.maxPivots"
  // target right rows per Voronoi cell for the pivot kNN joins'
  // size-adaptive budget (smaller = fewer candidate pairs, more pivots)
  val KnnPivotCellSize   = "spark.graft.knn.pivotCellSize"
  // when the vector kNN join's admit-fraction gate trips (distance
  // concentration on isotropic high-d data defeats pivot pruning), take
  // a trained-IVF approximate probe route instead of the exact quadratic
  // cross-window plan. Default OFF: the exactness contract holds unless
  // the session opts in; the approximate route's recall is governed by
  // nprobe (see VectorOpsSpec's recall gate).
  val KnnVecApprox       = "spark.graft.knn.vec.approx"
  val KnnVecApproxNlist  = "spark.graft.knn.vec.approx.nlist"
  val KnnVecApproxNprobe = "spark.graft.knn.vec.approx.nprobe"
  val KnnVecApproxIters  = "spark.graft.knn.vec.approx.iters"
  val ZknnShifts         = "spark.graft.zknn.shifts"
  val ZknnBits           = "spark.graft.zknn.bits"
  val IndexPartitions    = "spark.graft.index.partitions"
  val IndexBits          = "spark.graft.index.bits"
  // any StorageLevel name (MEMORY_AND_DISK, MEMORY_ONLY, DISK_ONLY, ...)
  // — the reference's simba.index.storageLevel / setStorageLevel
  // (reference: IndexManager.scala:179-187, SimbaConf.scala:126-130)
  val IndexStorageLevel  = "spark.graft.index.storageLevel"
  // skip the z-interval pre-filter when the query box covers more than
  // this fraction of the indexed extent (the pre-filter prunes nothing
  // there and costs a per-row comparison) — the reference's
  // simba.index.selectivityEnable/Threshold (SimbaConf.scala:132-146,
  // IndexedRelationScan.scala:172-180). Enabled by default here: the
  // exact predicate is always applied, so skipping is semantics-free.
  val IndexSelectivityEnable    = "spark.graft.index.selectivityEnable"
  val IndexSelectivityThreshold = "spark.graft.index.selectivityThreshold"
  // Shared ceiling on every driver-collected id/term list that becomes
  // a pushed IN filter (ANN refine sets, hybrid candidate sets, phrase
  // pushdown lists). Each verb bounds its own hop by convention, but
  // the bound is the CALLER's argument — `refine = 10_000_000` would
  // dutifully build a 10M-literal IN filter and OOM the driver. This
  // knob closes the class: any verb about to collect more than this
  // fails loudly, naming itself and the knob, before any work runs.
  val MaxDriverPushdown = "spark.graft.maxDriverPushdown"

  private def get(s: SparkSession, key: String, dflt: String): String =
    s.conf.getOption(key).getOrElse(dflt)

  def joinPartitions(s: SparkSession): Int = get(s, JoinPartitions, "32").toInt
  def distanceJoinAlgo(s: SparkSession): String = get(s, DistanceJoinAlgo, "auto")
  def knnJoinAlgo(s: SparkSession): String = get(s, KnnJoinAlgo, "grid")
  def broadcastThreshold(s: SparkSession): Long = get(s, BroadcastThreshold, "1000000").toLong
  def sampleCap(s: SparkSession): Int = get(s, SampleCap, "2000").toInt
  def knnQuantile(s: SparkSession): Double = get(s, KnnQuantile, "0.95").toDouble
  def knnSafety(s: SparkSession): Double = get(s, KnnSafety, "2.0").toDouble
  def knnMaxRefine(s: SparkSession): Int = get(s, KnnMaxRefine, "64").toInt
  def knnMaxPivots(s: SparkSession): Int = get(s, KnnMaxPivots, "65536").toInt
  def knnPivotCellSize(s: SparkSession): Int = get(s, KnnPivotCellSize, "64").toInt
  def knnVecApprox(s: SparkSession): Boolean = get(s, KnnVecApprox, "false").toBoolean
  def knnVecApproxNlist(s: SparkSession): Int = get(s, KnnVecApproxNlist, "16").toInt
  def knnVecApproxNprobe(s: SparkSession): Int = get(s, KnnVecApproxNprobe, "4").toInt
  def knnVecApproxIters(s: SparkSession): Int = get(s, KnnVecApproxIters, "3").toInt
  def zknnShifts(s: SparkSession): Int = get(s, ZknnShifts, "2").toInt
  def zknnBits(s: SparkSession): Int = get(s, ZknnBits, "18").toInt
  def indexPartitions(s: SparkSession): Int = get(s, IndexPartitions, "32").toInt
  def indexBits(s: SparkSession): Int = get(s, IndexBits, "15").toInt
  def indexStorageLevel(s: SparkSession): org.apache.spark.storage.StorageLevel =
    org.apache.spark.storage.StorageLevel.fromString(
      get(s, IndexStorageLevel, "MEMORY_AND_DISK"))
  def indexSelectivityEnable(s: SparkSession): Boolean =
    get(s, IndexSelectivityEnable, "true").toBoolean
  def indexSelectivityThreshold(s: SparkSession): Double =
    get(s, IndexSelectivityThreshold, "0.8").toDouble
  def maxDriverPushdown(s: SparkSession): Int =
    get(s, MaxDriverPushdown, "100000").toInt

  /** Guard a driver-held IN-list hop: `verb` is about to collect up to
    * `n` values to the driver and push them back as literals. Called at
    * every such site so the ceiling is one knob, not a per-verb
    * convention. */
  def checkDriverPushdown(s: SparkSession, verb: String, n: Long): Unit = {
    val cap = maxDriverPushdown(s)
    require(n <= cap,
      s"$verb: a $n-value driver-held IN-list pushdown exceeds " +
        s"$MaxDriverPushdown = $cap; lower the request (refine / " +
        "candidates / maxPushdown) or raise the knob for this session")
  }
}
