package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark times each operation by writing its output to the noop
  * sink. That is only a full-output measurement if the noop plan keeps
  * every join and Exchange that a `collect()` of the same output runs;
  * a `count()` does not (Catalyst prunes the triangle count's final join
  * and with it the wedge enumeration). Run with `sbt test` in perfbench/.
  */
class FullOutputGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  // under the build's own target directory, like everything the test writes
  private val dir = Files.createTempDirectory(
    Files.createDirectories(java.nio.file.Paths.get("target")), "guard").toFile
  private val fx = new Fixtures(1L, s"$dir/data")
  private val ops = new SpatialJoin(fx).ops ++ new IndexBatch(fx, dir.toString).ops

  override def beforeAll(): Unit = {
    // static plans: with adaptive execution off, the planned shape is the
    // executed shape on both sides of the comparison
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/spark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    fx.write(spark)
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    Runner.deleteTree(dir)
  }

  private final case class Shape(joins: Int, exchanges: Int)

  private def shape(p: SparkPlan): Shape =
    Shape(p.collect { case j: BaseJoinExec => j }.size,
      p.collect { case e: Exchange => e }.size)

  /** The physical plan the noop sink executed for `df`. */
  private def noopPlan(df: DataFrame): SparkPlan = {
    val seen = mutable.ArrayBuffer.empty[SparkPlan]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.synchronized { seen += qe.executedPlan }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      df.write.format("noop").mode("overwrite").save()
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    seen.synchronized {
      seen.find(_.exists(_.isInstanceOf[V2TableWriteExec]))
        .getOrElse(fail("no noop write plan was reported"))
    }
  }

  for (op <- ops) test(s"${op.name}: the noop sink keeps every join and Exchange of collect()") {
    val df = op.call(spark)
    val collected = shape(df.queryExecution.executedPlan)
    val noop = shape(noopPlan(df))
    assert(noop.joins >= collected.joins, s"noop plan dropped a join: $noop vs $collected")
    assert(noop.exchanges >= collected.exchanges,
      s"noop plan dropped an Exchange: $noop vs $collected")
  }

  test("the guard sees the count() trap: count() prunes the triangle count's joins") {
    val df = ops.find(_.name == "triangles").get.call(spark)
    val counted = shape(df.groupBy().count().queryExecution.executedPlan)
    val collected = shape(df.queryExecution.executedPlan)
    assert(counted.joins < collected.joins, s"count $counted vs collect $collected")
  }
}
