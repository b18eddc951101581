package graft.tools

import graft.Bench

/** Time ONE bench registry entry in isolation, repeated, forced through
  * the `noop` sink like the sweep: did the entry regress, or did the
  * sweep read warm? Conf overrides apply to the session, so a knob's
  * effect on one entry is measured without editing code; OPT_EXPLAIN=1
  * prints the entry's formatted plan first. Prints every rep (first =
  * cold, rest = steady) and the steady median.
  *
  * Usage: TimeEntry <entryName> [reps] [conf=value ...]
  *   e.g. TimeEntry b5a_knn_join_skew_auto 4 spark.graft.knn.maxRefine=8
  * (sf dir via SPARK_GRAFT_SF_DIR, cores via SPARK_GRAFT_CPUS)
  */
object TimeEntry {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TimeEntry <entryName> [reps] [conf=value ...]")
    val name = args(0)
    val reps = args.lift(1).filterNot(_.contains("=")).map(_.toInt).getOrElse(4)
    val conf = args.drop(1).filter(_.contains("=")).toSeq.map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> v
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session(conf)
    val fn = Bench.entryFor(name)
    if (sys.env.get("OPT_EXPLAIN").contains("1")) fn(spark, sfDir).explain("formatted")
    val times = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      val rows = Bench.force(fn(spark, sfDir))
      val t = (System.nanoTime() - t0) / 1e9
      println(f"[time_entry] $name rep $i: $t%6.2f s ($rows rows)")
      t
    }
    val steady = times.drop(1).sorted
    if (steady.nonEmpty)
      println(f"[time_entry] $name cold ${times.head}%.2f s, " +
        f"steady median ${steady(steady.length / 2)}%.2f s over ${steady.length} reps")
    spark.stop()
  }
}
