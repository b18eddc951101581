package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Full-output benchmark of the library's spatial joins, index probes,
  * layout writes and batch operators. Usage (normally through run.py):
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --dir <scratch dir> --out <trace dir>
  * }}}
  *
  * The last stdout line is one JSON object: `correct`, `attempted`,
  * `failed` and `metrics` (end-to-end metrics untraced, per-layer
  * metrics traced). The lines before it report the same run per
  * operation, by name and with units.
  */
object Main {
  /** Timed passes a run makes at least, whatever `--seconds` says. A
    * fixed count keeps what the median is taken over from depending on the
    * host's speed; two is what the time budget of 4 + 22 runs per workload
    * allows, a pass of either workload taking 9 to 17 s. */
  val MinPasses = 2

  def main(args: Array[String]): Unit = {
    val origin = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.names.contains(workload),
      s"unknown workload $workload (have ${Workloads.names.mkString(", ")})")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val dir = opts("dir")
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try run(spark, workload, seed, seconds, traced, dir, opts("out"), origin, cores)
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
                  traced: Boolean, dir: String, out: String, origin: Long,
                  cores: Int): Int = {
    def since = (System.currentTimeMillis() - origin) / 1e3
    def phase(what: String): Unit = System.err.println(f"[perfbench] $since%.1f s: $what")
    phase("session started")
    val fx = new Fixtures(seed, s"$dir/data")
    fx.write(spark)
    phase("tables written")
    val w = Workloads(workload, fx, dir)
    val r = new Runner(spark)
    w.setup(r)
    phase("workload set up")
    // what set-up cached (an index) stays; blocks a pass retains are
    // dropped after it, so no pass is served by an earlier one
    val sc = spark.sparkContext
    val kept = sc.getPersistentRDDs.keySet
    def release(): Unit = sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!kept(id)) rdd.unpersist(blocking = true) }
    // warm-up, recorded nowhere: one pass in which every output is
    // collected and checked
    r.recording = false
    r.checking = true
    w.pass(r)
    r.checking = false
    phase(f"checked pass done (checks ${r.checkNs / 1e9}%.1f s)")
    calibrate(); calibrate() // compiled before the first pass is timed
    r.recording = true
    release()
    val setupS = (System.currentTimeMillis() - origin) / 1e3 - r.checkNs / 1e9

    val env = environment(spark, cores)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val report = mutable.ArrayBuffer.empty[String]
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        // how fast the host ran each pass, to tell a slow host from slow code
        val calib = mutable.ArrayBuffer.empty[Double]
        val steal = mutable.ArrayBuffer.empty[Option[Double]]
        do {
          calib += calibrate()
          val c0 = cpuTicks()
          r.pass += 1; w.pass(r); release()
          steal += (for ((s0, t0) <- c0; (s1, t1) <- cpuTicks()) yield (s1 - s0).toDouble / (t1 - t0).max(1))
        } while (r.pass < MinPasses || elapsed < seconds)
        report += "passes_calib_ms " + calib.map(x => f"$x%.1f").mkString(" ")
        if (steal.forall(_.isDefined))
          report += "passes_steal " + steal.flatten.map(x => f"${x * 100}%.1f%%").mkString(" ")
        endToEnd(r, w, setupS, report)
      } else {
        val tracer = new Tracer(spark.sparkContext, s"$workload-$seed", System.nanoTime())
        val tracedPasses = mutable.Set.empty[Int]
        val grams = mutable.ArrayBuffer.empty[(Double, Double)]
        do {
          r.pass += 1; w.pass(r); release()
          r.pass += 1; tracedPasses += r.pass
          attach(spark, tracer)
          r.tracer = Some(tracer)
          w.pass(r)
          grams += wordGrams(spark, fx, tracer)
          r.tracer = None
          detach(spark, tracer)
          release()
        } while (elapsed < seconds)
        perLayer(r, w, tracer, tracedPasses.toSet, grams.toSeq, cores, report, out, env)
      }

    val failed = r.failedCount
    val correct = r.errors.isEmpty && failed == 0
    r.errors.take(20).foreach(e => System.err.println(s"[perfbench] FAILED $e"))
    println(s"env $env")
    report.foreach(println)
    val ms = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": ${r.samples.length}, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
    if (correct) 0 else 1
  }

  /** Milliseconds a fixed single-thread integer kernel takes. The work is
    * the same on every run, so the time moves only with the speed the host
    * gives this JVM at that moment. */
  private def calibrate(): Double = {
    val t = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val ms = (System.nanoTime() - t) / 1e6
    if (x == 0L) ms + 1 else ms // x is never 0; the test keeps the loop live
  }

  /** (steal, total) CPU ticks of the host from /proc/stat, where Linux
    * reports them. Steal is time the hypervisor gave to other guests: a
    * pass that ran while some was taken is slower by about that share,
    * whatever the code did. */
  private def cpuTicks(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val v = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      Some((v(7), v.sum))
    } catch { case NonFatal(_) => None }

  private def attach(spark: SparkSession, t: Tracer): Unit = {
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
  }

  private def detach(spark: SparkSession, t: Tracer): Unit = {
    spark.sparkContext.removeSparkListener(t)
    spark.listenerManager.unregister(t)
  }

  /** A projection-only pass of `graft.functions.wordGrams` over the
    * documents: its wall time and task CPU. */
  private def wordGrams(spark: SparkSession, fx: Fixtures, t: Tracer): (Double, Double) = {
    val id = t.spans.length
    t.span("word_grams") {
      fx.documents(spark).select(col("doc_id"), graft.functions.wordGrams(col("text"), 8))
        .write.format("noop").mode("overwrite").save()
    }
    val s = t.spans(id)
    (s.seconds, s.counters.cpuNs / 1e9)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** A typical pass over the given passes: for each operation, the median
    * of its executions times its executions per pass, summed over
    * operations. A probe stream runs several times a pass, so one probe
    * slowed by the host barely moves it. */
  private def perPass(r: Runner, passes: Int => Boolean)(f: Sample => Double): Double = {
    val ss = r.samples.filter(s => passes(s.pass))
    val n = ss.map(_.pass).distinct.size
    ss.groupBy(_.op).values.map(e => median(e.map(f).toSeq) * e.size / n).sum
  }

  private def endToEnd(r: Runner, w: Workload, setupS: Double,
                       report: mutable.ArrayBuffer[String]): Seq[(String, Double, String)] = {
    val ok = r.samples.filterNot(s => s.failed || r.broken(s.op))
    // per operation, by the names later issues cite: <op>_s for an
    // operation, <probe>_p50_ms / _p90_ms for a probe stream
    ok.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, all) =>
      val ss = all.toSeq
      val t = ss.map(_.seconds)
      if (op.endsWith("_probe")) {
        report += f"${op}_p50_ms ${median(t) * 1e3}%.2f ms n=${ss.length}"
        report += f"${op}_p90_ms ${quantile(t, 0.9) * 1e3}%.2f ms n=${ss.length}"
      } else
        report += f"${op}_s ${median(t)}%.4f s n=${ss.length} (call ${median(ss.map(_.callS))}%.4f s," +
          f" action ${median(ss.map(_.actionS))}%.4f s) " + t.map(x => f"$x%.3f").mkString(" ")
    }
    if (w.layoutBytesPerRow > 0) report += f"layout_bytes_per_row ${w.layoutBytesPerRow}%.2f B/row"
    report += "passes_s " + r.samples.groupBy(_.pass).toSeq.sortBy(_._1)
      .map(p => f"${p._2.map(_.seconds).sum}%.3f").mkString(" ")
    val all = (_: Int) => true
    Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", perPass(r, all)(_.seconds), "s"),
      ("call_s", perPass(r, all)(_.callS), "s"),
      ("action_s", perPass(r, all)(_.actionS), "s"))
  }

  private def perLayer(r: Runner, w: Workload, t: Tracer, traced: Set[Int],
                       grams: Seq[(Double, Double)], cores: Int,
                       report: mutable.ArrayBuffer[String], out: String,
                       env: String): Seq[(String, Double, String)] = {
    // root spans of the traced passes, in order; word_grams is its own root
    val roots = t.spans.filter(s => s.parent < 0 && s.name != "word_grams")
    val kids = t.spans.groupBy(_.parent)
    def child(s: Span, n: String): Option[Span] = kids.getOrElse(s.id, Nil).find(_.name == n)
    // traced samples and root spans line up one to one
    val tracedSamples = r.samples.filter(s => traced(s.pass))
    require(tracedSamples.length == roots.length,
      s"${tracedSamples.length} traced executions but ${roots.length} spans")
    val byPass = tracedSamples.zip(roots).groupBy(_._1.pass).values.map(_.toSeq).toSeq

    def tracedPass(f: Seq[(Sample, Span)] => Double): Double = median(byPass.map(f))
    def sumC(ps: Seq[(Sample, Span)], part: Option[String], g: Counters => Long): Double =
      ps.map { case (_, s) =>
        part.fold(Option(s))(child(s, _)).map(x => g(x.counters)).getOrElse(0L).toDouble }.sum
    def wall(ps: Seq[(Sample, Span)]) = ps.map(_._2.seconds).sum
    val mb = 1024.0 * 1024.0

    // per-operation detail, named <layer>.<op>.<quantity>
    tracedSamples.zip(roots).groupBy(_._1.op).toSeq.sortBy(_._1).foreach { case (op, all) =>
      val ps = all.toSeq
      def m(f: ((Sample, Span)) => Double) = median(ps.map(f))
      def c(part: Option[String], g: Counters => Long) = m(p => sumC(Seq(p), part, g))
      report += f"operators.$op.build_s ${m(p => child(p._2, "call").map(_.seconds).getOrElse(0.0))}%.4f s"
      report += f"operators.$op.build_jobs ${c(Some("call"), _.jobs)}%.0f count"
      report += f"operators.$op.action_s ${m(p => child(p._2, "action").map(_.seconds).getOrElse(0.0))}%.4f s"
      report += f"operators.$op.action_jobs ${c(Some("action"), _.jobs)}%.0f count"
      report += f"operators.$op.rows_out ${m(_._1.rows.toDouble)}%.0f count"
      report += f"operators.$op.pairs_per_result ${c(None, _.joinRows) / math.max(1.0, m(_._1.rows.toDouble))}%.3f ratio"
      report += f"spark.$op.tasks ${c(None, _.tasks)}%.0f count"
      report += f"spark.$op.cpu_s ${c(None, _.cpuNs) / 1e9}%.4f s"
      report += f"spark.$op.core_util ${m(p => p._2.counters.runMs / 1e3 / (cores * p._2.seconds))}%.3f ratio"
      report += f"spark.$op.shuffle_write_mb ${c(None, _.shuffleWriteBytes) / mb}%.3f MB"
      report += f"spark.$op.spill_mb ${c(None, _.spillBytes) / mb}%.3f MB"
      report += f"index.$op.files_read ${c(None, _.filesRead)}%.0f count"
      report += f"index.$op.bytes_read ${c(None, _.bytesRead) / mb}%.3f MB"
      report += f"index.$op.files_written ${c(None, _.filesWritten)}%.0f count"
      report += f"index.$op.bytes_written ${c(None, _.bytesWritten) / mb}%.3f MB"
    }
    val selfBy = t.spans.groupBy(_.name).view.mapValues(ss => median(ss.map(t.selfSeconds).toSeq)).toMap
    selfBy.toSeq.sortBy(_._1).foreach { case (n, v) => report += f"trace.self.$n $v%.4f s" }
    writeTrace(t, s"$out/trace-${t.runId}.json", env)

    val overhead = perPass(r, traced)(_.seconds) - perPass(r, p => !traced(p))(_.seconds)
    Seq(
      ("operators.build_s", tracedPass(ps => ps.map(p => child(p._2, "call").map(_.seconds).getOrElse(0.0)).sum), "s"),
      ("operators.action_s", tracedPass(ps => ps.map(p => child(p._2, "action").map(_.seconds).getOrElse(0.0)).sum), "s"),
      ("operators.build_jobs", tracedPass(sumC(_, Some("call"), _.jobs)), "count"),
      ("operators.action_jobs", tracedPass(sumC(_, Some("action"), _.jobs)), "count"),
      ("operators.rows_out", tracedPass(_.map(_._1.rows.toDouble).sum), "count"),
      ("operators.pairs_per_result",
        tracedPass(ps => sumC(ps, None, _.joinRows) / math.max(1.0, ps.map(_._1.rows.toDouble).sum)), "ratio"),
      ("spark.tasks", tracedPass(sumC(_, None, _.tasks)), "count"),
      ("spark.cpu_s", tracedPass(sumC(_, None, _.cpuNs) / 1e9), "s"),
      ("spark.core_util", tracedPass(ps => sumC(ps, None, _.runMs) / 1e3 / (cores * wall(ps))), "ratio"),
      ("spark.shuffle_write_mb", tracedPass(sumC(_, None, _.shuffleWriteBytes) / mb), "MB"),
      ("spark.spill_mb", tracedPass(sumC(_, None, _.spillBytes) / mb), "MB"),
      ("index.partitions_kept_frac", w.partitionsKeptFrac, "ratio"),
      ("index.files_read", tracedPass(sumC(_, None, _.filesRead)), "count"),
      ("index.bytes_read_mb", tracedPass(sumC(_, None, _.bytesRead) / mb), "MB"),
      ("index.files_written", tracedPass(sumC(_, None, _.filesWritten)), "count"),
      ("index.bytes_written_mb", tracedPass(sumC(_, None, _.bytesWritten) / mb), "MB"),
      ("index.layout_bytes_per_row", w.layoutBytesPerRow, "B/row"),
      ("functions.word_grams_s", median(grams.map(_._1)), "s"),
      ("functions.word_grams_cpu_s", median(grams.map(_._2)), "s"),
      ("trace.overhead_s", overhead, "s"),
      ("trace.op_self_s", median(roots.map(t.selfSeconds).toSeq), "s"),
      ("trace.call_self_s", selfBy.getOrElse("call", 0.0), "s"),
      ("trace.action_self_s", selfBy.getOrElse("action", 0.0), "s"),
      ("trace.spans", t.spans.length.toDouble, "count"))
  }

  private def writeTrace(t: Tracer, path: String, env: String): Unit = {
    new java.io.File(path).getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println(s"""{"run_id": "${t.runId}", "env": $env, "spans": [""")
      w.println(t.spans.map { s =>
        val c = s.counters
        s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "run_id": "${s.runId}", """ +
          s""""start_ns": ${s.start}, "end_ns": ${s.end}, "self_s": ${num(t.selfSeconds(s))}, """ +
          s""""jobs": ${c.jobs}, "tasks": ${c.tasks}, "cpu_ns": ${c.cpuNs}, "run_ms": ${c.runMs}, """ +
          s""""shuffle_write_bytes": ${c.shuffleWriteBytes}, "spill_bytes": ${c.spillBytes}, """ +
          s""""bytes_read": ${c.bytesRead}, "join_rows": ${c.joinRows}, "files_read": ${c.filesRead}, """ +
          s""""files_written": ${c.filesWritten}, "bytes_written": ${c.bytesWritten}}"""
      }.mkString(",\n"))
      w.println("]}")
    } finally w.close()
  }

  /** What the numbers were measured on, recorded next to them. */
  private def environment(spark: SparkSession, cores: Int): String = {
    val c = spark.conf
    val hc = spark.sparkContext.hadoopConfiguration
    val fields = Seq(
      "cores" -> cores.toString,
      "shuffle_partitions" -> c.get("spark.sql.shuffle.partitions"),
      "aqe" -> c.get("spark.sql.adaptive.enabled"),
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "spark" -> spark.version,
      "jvm" -> System.getProperty("java.version"),
      "commit_protocol" -> c.get("spark.sql.sources.commitProtocolClass"),
      "output_committer" -> s"FileOutputCommitter v${hc.get("mapreduce.fileoutputcommitter.algorithm.version", "1")}")
    fields.map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")
  }

  /** Every digit as measured; JSON has no NaN or infinity. */
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
