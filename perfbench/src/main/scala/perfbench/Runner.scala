package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed execution: the verb call (eager driver work before the
  * action) and the action that forces the full output. */
final case class Sample(op: String, pass: Int, callS: Double, actionS: Double,
                        rows: Long, failed: Boolean) {
  def seconds: Double = callS + actionS
}

/** Times the calls into the library for one client. On a checking pass
  * every operation is collected and checked against its reference;
  * otherwise joins and batch operators write their full output to the
  * noop sink. Probes always collect their rows, which are checked outside
  * the timed interval. Warm-up passes record nothing. */
final class Runner(val spark: SparkSession) {
  var tracer: Option[Tracer] = None
  var checking = false
  var recording = true
  var pass = 0
  val samples = mutable.ArrayBuffer.empty[Sample]
  val errors = mutable.ArrayBuffer.empty[String]
  /** ops whose checked run failed: every timed execution counts failed */
  val broken = mutable.Set.empty[String]
  /** rows of each op's full output, from its checked execution */
  val rowsOf = mutable.Map.empty[String, Long]
  /** time spent checking outputs, kept out of every metric */
  var checkNs = 0L

  private def span[T](name: String)(f: => T): T = tracer.fold(f)(_.span(name)(f))

  def op(o: Op): Unit = run(o.name, o.check, collect = checking)(o.call(spark))

  def probe(name: String, check: Checks.Check)(call: => DataFrame): Unit =
    run(name, check, collect = true)(call)

  /** A call that is its own action (a layout write or delete): all of its
    * time counts as action time. */
  def act(name: String)(call: => Unit): Unit = {
    val t0 = System.nanoTime()
    try {
      span(name)(span("action")(call))
      record(name, 0L, System.nanoTime() - t0, 0L, failed = false)
    } catch { case NonFatal(e) => failure(name, e) }
  }

  private def run(name: String, check: Checks.Check, collect: Boolean)
                 (call: => DataFrame): Unit = {
    val t0 = System.nanoTime()
    try {
      var t1 = 0L
      val rows = span(name) {
        val df = span("call")(call)
        t1 = System.nanoTime()
        span("action") {
          if (collect) df.collect()
          else { df.write.format("noop").mode("overwrite").save(); null }
        }
      }
      val t2 = System.nanoTime()
      val bad = if (rows == null) false else !verify(name, rows, check)
      if (rows != null) rowsOf(name) = rows.length.toLong
      record(name, t1 - t0, t2 - t1, rowsOf.getOrElse(name, 0L), bad)
    } catch { case NonFatal(e) => failure(name, e) }
  }

  private def verify(name: String, rows: Array[Row], check: Checks.Check): Boolean = {
    val t = System.nanoTime()
    val err = try check(rows) catch { case NonFatal(e) => Some(s"$name: check threw $e") }
    checkNs += System.nanoTime() - t
    err.foreach { m => errors += m; broken += name }
    err.isEmpty
  }

  private def failure(name: String, e: Throwable): Unit = {
    errors += s"$name: $e"
    broken += name
    record(name, 0L, 0L, 0L, failed = true)
  }

  private def record(name: String, callNs: Long, actionNs: Long, rows: Long,
                     failed: Boolean): Unit =
    if (recording) samples += Sample(name, pass, callNs / 1e9, actionNs / 1e9, rows, failed)

  /** Executions counted failed: those that threw or returned a wrong
    * answer, and every execution of an op whose checked run was wrong. */
  def failedCount: Int = samples.count(s => s.failed || broken(s.op))
}

object Runner {
  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum else f.length
    walk(new java.io.File(path))
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
