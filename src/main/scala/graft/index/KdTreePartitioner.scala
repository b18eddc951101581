package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** KD-tree spatial partitioner — the declarative rebuild of the
  * reference's KDTreePartitioner (reference:
  * partitioner/KDTreePartitioner.scala:34-140: sampled points, recursive
  * median splits cycling dimensions, leaf MBRs, rows routed through a
  * driver R-tree inside a custom `Partitioner`). Here the recursive
  * median cuts are built on the driver from a bounded deterministic
  * sample, the assignment is a codegen'd nested comparison tree
  * (`when`-chain of depth ~log2(parts) — plain Catalyst columns, so
  * pushdown/AQE keep working), and the data moves in ONE shuffle keyed
  * by the region id. Scale shape: driver work is O(cap log cap), the
  * assignment is O(depth) per row with no driver participation, and the
  * shuffle is the one any partitioner pays.
  *
  * The reference never wires this partitioner into a relation or join —
  * it ships for API completeness; the z-order/quadtree clusterings are
  * the load-bearing layouts here for the same reason. Null keys route to
  * the rightmost region (comparisons with null fall through to
  * `otherwise`), mirroring the grid joins' null semantics of keeping
  * rows addressable without inventing coordinates. */
object KdTreePartitioner {

  val RegionCol = "__graft_kdregion"

  sealed trait KdNode
  final case class KdSplit(dim: Int, cut: Double, left: KdNode, right: KdNode) extends KdNode
  final case class KdLeaf(id: Int) extends KdNode

  /** Recursive proportional median splits: up to `parts` leaves with
    * ids assigned by in-order walk. The cycling dimension is skipped
    * when the slice is degenerate on it (all values equal) and the
    * next non-degenerate dimension is used instead; a slice degenerate
    * on EVERY dimension becomes one leaf (identical points cannot be
    * separated by axis cuts). The cut value always has at least one
    * sample strictly below it, so no child is empty on the sample. */
  def build(pts: Array[Array[Double]], dims: Int, parts: Int): KdNode = {
    require(parts >= 1, s"parts must be >= 1, got $parts")
    def go(slice: Array[Array[Double]], parts: Int, dim0: Int, nextId: Int): (KdNode, Int) = {
      if (parts <= 1 || slice.length <= 1)
        return (KdLeaf(nextId), nextId + 1)
      val dim = (0 until dims).map(i => (dim0 + i) % dims)
        .find(d => slice.exists(_(d) != slice.head(d))).getOrElse(-1)
      if (dim < 0) return (KdLeaf(nextId), nextId + 1)
      val lParts = parts / 2
      val rParts = parts - lParts
      val sorted = slice.sortBy(_(dim))
      val k = math.max(1, (sorted.length.toLong * lParts / parts).toInt)
      var cut = sorted(k)(dim)
      if (sorted.head(dim) == cut) {
        // no sample strictly below the proportional cut (duplicate run
        // from the minimum): advance to the next distinct value, which
        // exists because the dimension is non-degenerate
        cut = sorted(sorted.indexWhere(_(dim) > cut))(dim)
      }
      val (ln, id1) = go(sorted.filter(_(dim) < cut), lParts, (dim + 1) % dims, nextId)
      val (rn, id2) = go(sorted.filter(_(dim) >= cut), rParts, (dim + 1) % dims, id1)
      (KdSplit(dim, cut, ln, rn), id2)
    }
    go(pts, parts, 0, 0)._1
  }

  def numLeaves(node: KdNode): Int = node match {
    case _: KdLeaf => 1
    case KdSplit(_, _, l, r) => numLeaves(l) + numLeaves(r)
  }

  /** Region-id assignment as a nested comparison tree — pure codegen'd
    * column arithmetic, depth ~log2(parts). */
  def regionCol(node: KdNode, keyCols: Seq[String]): Column = node match {
    case KdLeaf(id) => lit(id)
    case KdSplit(dim, cut, l, r) =>
      when(col(keyCols(dim)) < cut, regionCol(l, keyCols))
        .otherwise(regionCol(r, keyCols))
  }

  /** Half-open leaf boxes (region id -> (lows, highs), cuts applied to
    * +-infinity extremes) — the analogue of the reference's leaf MBRs,
    * for tests and region pruning. Left child owns [low, cut), right
    * child [cut, high). */
  def leafBoxes(node: KdNode, dims: Int): Map[Int, (Array[Double], Array[Double])] = {
    val out = scala.collection.mutable.Map[Int, (Array[Double], Array[Double])]()
    def walk(n: KdNode, lo: Array[Double], hi: Array[Double]): Unit = n match {
      case KdLeaf(id) => out(id) = (lo, hi)
      case KdSplit(dim, cut, l, r) =>
        walk(l, lo, hi.updated(dim, math.min(hi(dim), cut)))
        walk(r, lo.updated(dim, math.max(lo(dim), cut)), hi)
    }
    walk(node,
      Array.fill(dims)(Double.NegativeInfinity),
      Array.fill(dims)(Double.PositiveInfinity))
    out.toMap
  }

  /** Region ids (ascending) whose box intersects the query box — the
    * driver-side pruning the reference served with its leaf R-tree. */
  def admittedRegions(node: KdNode, dims: Int,
                      qlo: Array[Double], qhi: Array[Double]): Seq[Int] =
    leafBoxes(node, dims).toSeq.collect {
      case (id, (lo, hi))
        if (0 until dims).forall(i => qlo(i) < hi(i) && qhi(i) >= lo(i)) => id
    }.sorted

  /** Bounded deterministic sample of the key columns (small tables are
    * taken whole; larger ones sampled at a seeded fraction — the same
    * sketch discipline as the kNN-join radius estimation). The trim to
    * `cap` rides a random order, not the stream head: a bare
    * `.limit(cap)` after `sample` drops rows from the LAST partitions
    * only, and KD cuts from a head-biased sample skew every partition
    * boundary on ingest-ordered tables (the bias SpatialOps.pointStats
    * avoids too). */
  private def samplePts(df: DataFrame, keyCols: Seq[String], cap: Int): Array[Array[Double]] = {
    val keyed = df.select(keyCols.map(c => col(c).cast("double")): _*).na.drop()
    val probe = keyed.limit(cap + 1).collect()
    val rows =
      if (probe.length <= cap) probe
      else {
        val n = keyed.count()
        keyed.sample(withReplacement = false, math.min(1.0, cap.toDouble / n), seed = 42L)
          .orderBy(rand(42)).limit(cap).collect()
      }
    rows.map(r => Array.tabulate(keyCols.length)(r.getDouble))
  }

  /** Build the KD cuts from a sample of `df` and land the data in its
    * regions with one shuffle; the region id rides along as
    * [[RegionCol]]. Returns the partitioned frame and the cut tree. */
  def partition(df: DataFrame, keyCols: Seq[String], parts: Int,
                cap: Int = 4000): (DataFrame, KdNode) = {
    val pts = samplePts(df, keyCols, cap)
    require(pts.nonEmpty, "cannot KD-partition an empty or all-null table")
    val tree = build(pts, keyCols.length, parts)
    val tagged = df.withColumn(RegionCol, regionCol(tree, keyCols))
    (tagged.repartition(numLeaves(tree), col(RegionCol)), tree)
  }
}
