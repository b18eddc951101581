package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{IndexManager, IndexedTable, SpatialDisk}
import graft.operators.SpatialOps._

/** One workload: what set-up builds, and one pass of its fixed operation
  * sequence. A run repeats passes in a closed loop with one client. */
trait Workload {
  def setup(r: Runner): Unit = ()
  def pass(r: Runner): Unit
  /** Exact layout bytes on disk per row, where the workload writes a
    * layout; 0 otherwise. */
  def layoutBytesPerRow: Double = 0.0
  /** Mean share of in-memory index partitions a box or circle probe
    * keeps, where the workload probes the in-memory index; 0 otherwise. */
  def partitionsKeptFrac: Double = 0.0
}

/** A join or batch operator: the verb call that yields its output, and
  * the check of that output against the reference. */
final case class Op(name: String, check: Checks.Check, call: SparkSession => DataFrame)

object Workloads {
  val names: Seq[String] = Seq("spatial_join", "index_batch")

  def apply(name: String, fx: Fixtures, runDir: String): Workload = name match {
    case "spatial_join" => new SpatialJoin(fx)
    case "index_batch" => new IndexBatch(fx, runDir)
  }
}

/** The Simba core: distance, kNN and shape joins over the seeded points. */
final class SpatialJoin(fx: Fixtures) extends Workload {
  import Checks._

  private lazy val cust = fx.custX.indices.map(i => Array(fx.custX(i), fx.custY(i))).toArray

  val ops: Seq[Op] = Seq(
    Op("distance_join", rows => sameKeys("distance_join",
        keyed(rows, "c_custkey", "c2_custkey"),
        distancePairs(fx.custKey, cust, fx.custKey, cust, 50.0)), s =>
      fx.customerPts(s).distanceJoin(fx.renamedCust(s), Seq("cx", "cy"),
        Seq("c2x", "c2y"), 50.0)),
    Op("knn_join_skew", rows => {
        val p = fx.skewX.indices.map(i => Array(fx.skewX(i), fx.skewY(i))).toArray
        sameKeys("knn_join_skew", keyed(rows, "lid", "rid"),
          knnPairs(fx.custKey, p, fx.custKey, p, 3))
      }, s =>
      fx.skewedPts(s, "l").knnJoin(fx.skewedPts(s, "r"), Seq("lx", "ly"),
        Seq("rx", "ry"), 3, "lid", Seq("rid"))),
    Op("knn_join_4d", rows => {
        val p = fx.custX.indices.map(i =>
          Array(fx.custX(i), fx.custY(i), fx.custZ(i), fx.custW(i))).toArray
        sameKeys("knn_join_4d", keyed(rows, "lid", "rid"),
          knnPairs(fx.custKey, p, fx.custKey, p, 3))
      }, s => {
      // the auto verb past 3-D routes to the pivot join
      s.conf.set(graft.GraftConf.KnnJoinAlgo, "auto")
      try fx.pts4d(s, "l").knnJoinAuto(fx.pts4d(s, "r"),
        Seq("lx", "ly", "lz", "lw"), Seq("rx", "ry", "rz", "rw"), 3, "lid",
        "rid", Seq("rid"))
      finally s.conf.unset(graft.GraftConf.KnnJoinAlgo)
    }),
    Op("intersects_join", rows => sameKeys("intersects_join",
        keyed(rows, "s_suppkey", "c_custkey"),
        intersectPairs(fx.suppKey, boxes(fx.suppX, fx.suppY, 500.0, 80.0),
          fx.custKey, boxes(fx.custX, fx.custY, Fixtures.CustBoxX, Fixtures.CustBoxY))), s =>
      fx.supplierBoxes(s, 500.0, 80.0)
        .shapeIntersectsJoin(fx.customerBoxes(s), "lbox", "rbox")),
    Op("shape_knn_join", rows => sameKeys("shape_knn_join",
        keyed(rows, "s_suppkey", "c_custkey"),
        knnPairs(fx.suppKey, null, fx.custKey, null, 3,
          boxPointDist(boxes(fx.suppX, fx.suppY, 100.0, 15.0), cust))), s =>
      fx.supplierBoxes(s, 100.0, 15.0).shapeKnnJoin(fx.customerShapePts(s),
        "lbox", "rpt", 3, "s_suppkey", Seq("c_custkey"))))

  def pass(r: Runner): Unit = ops.foreach(r.op)
}

/** A seeded probe stream: boxes, circles and kNN(k = 10) queries whose
  * centres and sizes come from the seed, each answering tens of rows. */
final class Probes(fx: Fixtures, stream: Long) {
  private val rnd = new SplittableRandom(fx.seed * 7919L + stream)
  private var n = 0L
  def next(): Probe = {
    val cx = -999.99 + rnd.nextDouble() * 10999.98
    val cy = rnd.nextDouble() * 999.0
    n += 1
    (n % 3) match {
      case 0 =>
        val (hx, hy) = (200.0 + rnd.nextDouble() * 400.0, 20.0 + rnd.nextDouble() * 40.0)
        BoxProbe(Array(cx - hx, cy - hy), Array(cx + hx, cy + hy))
      case 1 => CircleProbe(Array(cx, cy), 100.0 + rnd.nextDouble() * 150.0)
      case _ => KnnProbe(Array(cx, cy), 10)
    }
  }
}

sealed trait Probe extends Product {
  override def toString: String = productPrefix + productIterator.map {
    case a: Array[Double] => a.mkString("[", ", ", "]")
    case x => x.toString
  }.mkString("(", ", ", ")")

  def onIndex(idx: IndexedTable): DataFrame
  def onLayout(s: SparkSession, path: String): DataFrame
  /** The keys the probe must return. */
  def reference(fx: Fixtures): Seq[Seq[Any]]
}

final case class BoxProbe(lo: Array[Double], hi: Array[Double]) extends Probe {
  def onIndex(idx: IndexedTable): DataFrame = idx.boxRange(lo, hi)
  def onLayout(s: SparkSession, path: String): DataFrame = SpatialDisk.boxRange(s, path, lo, hi)
  def reference(fx: Fixtures): Seq[Seq[Any]] =
    fx.custKey.indices.filter(i =>
      fx.custX(i) >= lo(0) && fx.custX(i) <= hi(0) &&
      fx.custY(i) >= lo(1) && fx.custY(i) <= hi(1)).map(i => Seq(fx.custKey(i)))
}

final case class CircleProbe(c: Array[Double], radius: Double) extends Probe {
  def onIndex(idx: IndexedTable): DataFrame = idx.circleRange(c, radius)
  def onLayout(s: SparkSession, path: String): DataFrame =
    SpatialDisk.circleRange(s, path, c, radius)
  def reference(fx: Fixtures): Seq[Seq[Any]] =
    fx.custKey.indices.filter { i =>
      val (dx, dy) = (fx.custX(i) - c(0), fx.custY(i) - c(1))
      math.sqrt(dx * dx + dy * dy) <= radius
    }.map(i => Seq(fx.custKey(i)))
}

final case class KnnProbe(c: Array[Double], k: Int) extends Probe {
  def onIndex(idx: IndexedTable): DataFrame = idx.knn(c, k, Seq("c_custkey"))
  def onLayout(s: SparkSession, path: String): DataFrame =
    SpatialDisk.knn(s, path, c, k, Seq("c_custkey"))
  def reference(fx: Fixtures): Seq[Seq[Any]] =
    Checks.knnPairs(Array(0L), Array(c), fx.custKey,
      fx.custKey.indices.map(i => Array(fx.custX(i), fx.custY(i))).toArray, k)
      .map(p => Seq(p(1)))
}

/** The index layer and the executor-bound batch operators. Set-up builds
  * the in-memory index; each pass runs the triangle count over the part
  * graph of lineitem and exact repeated-span dedup over the documents,
  * writes a fresh at-rest layout, and sends a seeded probe stream that
  * alternates between the in-memory index and that layout. */
final class IndexBatch(fx: Fixtures, runDir: String) extends Workload {
  import IndexBatch._
  private val name = "perfbench_customers"
  private var idx: IndexedTable = _
  private val probes = new Probes(fx, 1)
  private var kept = Vector.empty[Double]
  private var layouts = 0
  private var layout: String = _

  val ops: Seq[Op] = Seq(
    Op("triangles", rows => Checks.sameKeys("triangles",
        Checks.keyed(rows, "node", "degree", "triangles"),
        Checks.triangles(fx.lineOrder, fx.linePart)),
      s => graft.queries.Pipeline.queries("gp_triangles")(s, fx.dir)),
    Op("span_dedup", rows => Checks.sameKeys("span_dedup",
        Checks.keyed(rows, "doc_id", "text_clean", "n_tokens", "n_removed"),
        Checks.spanDedup(fx.docId, fx.docText, 8)),
      s => graft.operators.DedupOps.dedupRepeatedSpans(fx.documents(s), "doc_id", "text", n = 8)))

  override def setup(r: Runner): Unit = {
    val s = r.spark
    // a rebuild must never be a registry no-op
    IndexManager.dropIndex(s, name)
    idx = IndexManager.indexTable(s, fx.customerPts(s), name, Seq("cx", "cy"),
      numPartitions = 32)
    idx.boxRange(Array(0.0, 0.0), Array(1.0, 1.0)).collect()
  }

  def pass(r: Runner): Unit = {
    val s = r.spark
    ops.foreach(r.op)
    if (layout != null) Runner.deleteTree(new java.io.File(layout))
    layouts += 1
    layout = s"$runDir/layout_$layouts"
    r.act("layout_write")(SpatialDisk.write(fx.customerPts(s), layout,
      Seq("cx", "cy"), cellBits = CellBits))
    for (i <- 0 until ProbesPerPass) {
      val p = probes.next()
      val want = (rows: Array[org.apache.spark.sql.Row]) => Checks.sameKeys(
        s"probe $p", Checks.keyed(rows, "c_custkey"), p.reference(fx))
      if (i % 2 == 0) {
        p match {
          case b: BoxProbe => kept :+= keptFrac(b.lo, b.hi)
          case c: CircleProbe => kept :+= keptFrac(c.c.map(_ - c.radius), c.c.map(_ + c.radius))
          case _ =>
        }
        r.probe("index_probe", want)(p.onIndex(idx))
      } else r.probe("layout_probe", want)(p.onLayout(s, layout))
    }
  }

  private def keptFrac(lo: Array[Double], hi: Array[Double]): Double = {
    val (hit, all) = idx.prunedPartitionCount(lo, hi)
    hit.toDouble / all
  }

  override def partitionsKeptFrac: Double = if (kept.isEmpty) 0.0 else kept.sum / kept.length
  override def layoutBytesPerRow: Double =
    if (layout == null) 0.0 else Runner.dirBytes(layout).toDouble / fx.custKey.length
}

object IndexBatch {
  /** 64 directories for the 4000 customers: about 60 rows a directory,
    * the density cellBits = 4 gives the 15k-row sf0.1 customer table */
  val CellBits = 3
  val ProbesPerPass = 12
}
