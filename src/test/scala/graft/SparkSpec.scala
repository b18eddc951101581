package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator suites (one per JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Jobs launched by `body` on this thread. */
  def jobsOf(body: => Unit): Int = listen(body)._1

  /** Tasks of each stage `body` submitted on this thread, in order
    * (stages whose shuffle output is reused never submit). */
  def tasksOf(body: => Unit): Seq[Int] = listen(body)._2

  // jobs and stage task counts of `body`, tagged by a job group; a
  // marker job closes the count, since the listener bus delivers events
  // in order
  private def listen(body: => Unit): (Int, Seq[Int]) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID}"
    def ours(p: java.util.Properties) =
      Option(p).filter(_.getProperty("spark.jobGroup.id") == group)
        .map(_.getProperty("spark.job.description"))
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        ours(e.properties).foreach(jobs.add)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties).contains("body")) tasks.add(e.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body")
      body
      sc.setJobGroup(group, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!jobs.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.contains("marker"), "listener never saw the marker job")
      (jobs.toArray.count(_ == "body"), tasks.toArray.toSeq.map(_.asInstanceOf[Integer].intValue))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** `body`'s result plus the optimized and physical plan of every SQL
    * action it ran while building it — the eager checkpoints of the kNN
    * joins, whose work no longer shows in the returned plan. Two marker
    * actions bracket the capture, since the listener bus delivers events
    * in order but late: a newly registered listener still receives the
    * events of actions that ended before it, which the opening marker
    * fences off. */
  def withBuildPlans[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.sql.execution.QueryExecution
    val id = java.util.UUID.randomUUID.toString.replace("-", "")
    val (open, close) = (s"build_open_$id", s"build_close_$id")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(s"${qe.optimizedPlan}\n${qe.executedPlan}")
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.range(1).toDF(open).collect()
      val result = body
      spark.range(1).toDF(close).collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def plans = seen.toArray.map(_.toString).toSeq
      while (!plans.exists(_.contains(close)) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(plans.exists(_.contains(close)), "listener never saw the marker action")
      (result, plans.dropWhile(!_.contains(open)).drop(1).filterNot(_.contains(close)))
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
