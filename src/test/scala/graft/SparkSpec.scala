package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator suites (one per JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** `body`'s result plus the optimized and physical plan of every SQL
    * action it ran while building it — the eager checkpoints of the kNN
    * joins, whose work no longer shows in the returned plan. A marker
    * action closes the capture, since the listener bus delivers events
    * in order. */
  def withBuildPlans[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.sql.execution.QueryExecution
    val marker = s"build_plans_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(s"${qe.optimizedPlan}\n${qe.executedPlan}")
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def plans = seen.toArray.map(_.toString).toSeq
      while (!plans.exists(_.contains(marker)) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(plans.exists(_.contains(marker)), "listener never saw the marker action")
      (result, plans.filterNot(_.contains(marker)))
    } finally spark.listenerManager.unregister(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
