package graft.tools

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` of named declared queries to
  * `<outDir>/<name>_<suffix>.txt` — the per-touched-query plan evidence
  * for the optimization rounds (plans/r16/...). Prefix matching like
  * [[VerifySome]]. Not part of the driver contract.
  *
  * Usage: DumpQueryPlans <sfDir> <outDir> <suffix> <name-or-prefix> [...]
  */
object DumpQueryPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val suffix = args(2)
    val wanted = args.drop(3)
    require(wanted.nonEmpty, "give at least one query name or prefix")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    def hit(n: String) = wanted.exists(w => n == w || n.startsWith(w))
    graft.SparkEntry.queries.filter(e => hit(e._1)).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        System.err.println(s"[dumpplans] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[dumpplans] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
