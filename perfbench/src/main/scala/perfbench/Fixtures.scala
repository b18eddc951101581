package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Seeded inputs. The seed drives every generated value: coordinates,
  * skew-cluster membership, the 4-D residue offsets, the part graph, the
  * document text, and the probe centres and sizes.
  * The tables are written as parquet under the run directory in the
  * shape of the TPC-H tables the library's loaders read, and the
  * workloads load them back through [[graft.Tables]], so the program only
  * ever sees the generated files.
  *
  * The same rows stay in memory as plain arrays: the correctness checks
  * compute their references from them without touching Spark.
  */
final class Fixtures(val seed: Long, val dir: String) {
  import Fixtures._

  private def rng(stream: Long) = new SplittableRandom(seed * 1000003L + stream)

  /** customer: c_custkey 1..N, c_acctbal uniform like TPC-H's range. The
    * library's projection makes (cx, cy) = (c_acctbal, c_custkey % 1000). */
  val custKey: Array[Long] = Array.tabulate(Customers)(i => i + 1L)
  val custX: Array[Double] = {
    val r = rng(1)
    Array.fill(Customers)(math.rint((r.nextDouble() * 10999.98 - 999.99) * 100) / 100)
  }
  val custY: Array[Double] = custKey.map(k => (k % 1000).toDouble)

  val suppKey: Array[Long] = Array.tabulate(Suppliers)(i => i + 1L)
  val suppX: Array[Double] = {
    val r = rng(2)
    Array.fill(Suppliers)(math.rint((r.nextDouble() * 10999.98 - 999.99) * 100) / 100)
  }
  val suppY: Array[Double] = suppKey.map(k => (k % 1000).toDouble)

  /** A seeded per-key draw in [0, 1000003) that Spark and the checks
    * compute alike, in exact long arithmetic. */
  private val mix = Math.floorMod(seed * 40503L + 12345L, 1000003L)
  def draw(key: Long, salt: Long): Long = (key * 2654435761L + mix + salt * 7919L) % 1000003L
  def draw(key: Column, salt: Long): Column =
    (key * lit(2654435761L) + lit(mix + salt * 7919L)) % lit(1000003L)

  /** Seeded skew-cluster membership: 4 of 5 rows are dense (100x tighter),
    * the rest spread 10x wider — the adversarial case for kNN radii. */
  val dense: Array[Boolean] = custKey.map(k => draw(k, 0) % 5 < 4)
  val skewX: Array[Double] = Array.tabulate(Customers)(i =>
    if (dense(i)) custX(i) * 0.01 else custX(i) * 10.0)
  val skewY: Array[Double] = Array.tabulate(Customers)(i =>
    if (dense(i)) custY(i) * 0.01 else custY(i) * 10.0)

  /** 4-D fixture: (cx, cy) plus two decorrelated residue axes whose
    * offsets come from the seed. */
  val zOff: Long = rng(4).nextInt(773).toLong
  val wOff: Long = rng(5).nextInt(337).toLong
  val custZ: Array[Double] = custKey.map(k => ((k + zOff) % 773).toDouble)
  val custW: Array[Double] = custKey.map(k => ((k + wOff) % 337).toDouble)

  /** lineitem: orders of 1..7 lines over a part domain; the parts sharing
    * an order are the graph the triangle count runs on. */
  val (lineOrder: Array[Long], linePart: Array[Long]) = {
    val r = rng(6)
    val o = Array.newBuilder[Long]
    val p = Array.newBuilder[Long]
    var order = 1L
    var n = 0
    while (n < LineItems) {
      val lines = 1 + r.nextInt(7)
      val parts = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (parts.size < lines) parts += 1L + r.nextInt(Parts)
      parts.foreach { pk => o += order; p += pk; n += 1 }
      order += 1
    }
    (o.result(), p.result())
  }

  /** documents: Zipf-ish word draws from a fixed vocabulary, and one in
    * seven documents carries a copy of a 10..20-word run from an earlier
    * document, so span dedup has real removals to make. */
  val docId: Array[Long] = Array.tabulate(Documents)(i => i + 1L)
  val docText: Array[String] = {
    val r = rng(7)
    val words = Array.tabulate(Vocabulary)(i => s"w$i")
    def word(): String = {
      val u = r.nextDouble()
      words(math.min(Vocabulary - 1, (Vocabulary * u * u * u).toInt))
    }
    val texts = new Array[Array[String]](Documents)
    for (i <- 0 until Documents) {
      val len = 30 + r.nextInt(50)
      val own = Array.fill(len)(word())
      texts(i) =
        if (i > 0 && r.nextInt(7) == 0) {
          val donor = texts(r.nextInt(i))
          val span = math.min(donor.length, 10 + r.nextInt(11))
          val from = r.nextInt(donor.length - span + 1)
          val at = r.nextInt(own.length + 1)
          own.take(at) ++ donor.slice(from, from + span) ++ own.drop(at)
        } else own
    }
    texts.map(_.mkString(" "))
  }

  def write(spark: SparkSession): Unit = {
    import spark.implicits._
    custKey.indices.map(i => (custKey(i), custX(i), s"Customer#${custKey(i)}"))
      .toDF("c_custkey", "c_acctbal", "c_name")
      .coalesce(1).write.parquet(s"$dir/customer.parquet")
    suppKey.indices.map(i => (suppKey(i), suppX(i), s"Supplier#${suppKey(i)}"))
      .toDF("s_suppkey", "s_acctbal", "s_name")
      .coalesce(1).write.parquet(s"$dir/supplier.parquet")
    lineOrder.indices.map(i => (lineOrder(i), linePart(i), 1L + i % 97))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    docId.indices.map(i => (docId(i), docText(i), s"src${docId(i) % 5}"))
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
  }

  // -- the frames the operations run on, loaded through the library ----

  def customerPts(s: SparkSession): DataFrame = Tables.customerPts(s, dir)
  def supplierPts(s: SparkSession): DataFrame = Tables.supplierPts(s, dir)

  def renamedCust(s: SparkSession): DataFrame =
    customerPts(s).select(col("c_custkey").as("c2_custkey"),
      col("cx").as("c2x"), col("cy").as("c2y"))

  def skewedPts(s: SparkSession, p: String): DataFrame = {
    val isDense = draw(col("c_custkey"), 0) % 5 < 4
    customerPts(s).select(
      col("c_custkey").as(s"${p}id"),
      when(isDense, col("cx") * 0.01).otherwise(col("cx") * 10.0).as(s"${p}x"),
      when(isDense, col("cy") * 0.01).otherwise(col("cy") * 10.0).as(s"${p}y"))
  }

  def pts4d(s: SparkSession, p: String): DataFrame =
    customerPts(s).select(
      col("c_custkey").as(s"${p}id"),
      col("cx").as(s"${p}x"),
      col("cy").as(s"${p}y"),
      ((col("c_custkey") + zOff) % 773).cast("double").as(s"${p}z"),
      ((col("c_custkey") + wOff) % 337).cast("double").as(s"${p}w"))

  /** Supplier boxes and customer boxes / points in the library's shape
    * struct, as the shape-join bench entries build them. */
  def supplierBoxes(s: SparkSession, hx: Double, hy: Double): DataFrame = {
    import graft.spatial.ShapeCodec
    supplierPts(s).select(col("s_suppkey"),
      struct(lit(ShapeCodec.TagMBR).as("tag"),
        array(col("sx") - hx, col("sy") - hy, col("sx") + hx, col("sy") + hy)
          .as("coords")).as("lbox"))
  }

  def customerBoxes(s: SparkSession): DataFrame = {
    import graft.spatial.ShapeCodec
    customerPts(s).select(col("c_custkey"),
      struct(lit(ShapeCodec.TagMBR).as("tag"),
        array(col("cx") - CustBoxX, col("cy") - CustBoxY,
          col("cx") + CustBoxX, col("cy") + CustBoxY).as("coords")).as("rbox"))
  }

  def customerShapePts(s: SparkSession): DataFrame = {
    import graft.spatial.ShapeCodec
    customerPts(s).select(col("c_custkey"),
      struct(lit(ShapeCodec.TagPoint).as("tag"),
        array(col("cx"), col("cy")).as("coords")).as("rpt"))
  }

  def documents(s: SparkSession): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
}

object Fixtures {
  val Customers = 4000
  val Suppliers = 400
  val LineItems = 8000
  val Parts = 1500
  val Documents = 500
  val Vocabulary = 3000
  val CustBoxX = 50.0
  val CustBoxY = 8.0
}
