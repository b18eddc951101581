package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Pre-listing directory pruning for cell-partitioned at-rest layouts —
  * the shared mechanics behind [[SpatialDisk]]'s pruned scan and the
  * IVF / IVF-PQ vector reads ([[graft.operators.VectorOps]]).
  *
  * Candidate cell ids become EXPLICIT directory paths handed to the
  * reader, so file listing touches only selected directories. At the
  * directory counts a 100-TB layout wants (2^14+ cells), the full
  * listing itself dominates a selective query — post-listing
  * `PartitionFilters` prune I/O but not the listing (measured on the
  * spatial layout: the same 541-row box read 13 s through a full
  * 16k-directory listing and 0.1 s through explicit paths; the vector
  * twin's 100x ANN-join trend showed the same listing term growing
  * 1.7 -> 7.3 s). The metastore-partition-pruning shape, done at the
  * filesystem level. Falls back to the full listing + IN filter when
  * the candidate set is most of the layout — the explicit path list
  * handed to the reader stays bounded.
  *
  * The returned frame OWNS the cell filter on both branches (the IN-set
  * that surfaces as the plan's `PartitionFilters`), so callers never
  * stack a second copy of an up-to-1024-literal predicate. Cell values
  * are matched against directory names by their string form, so Int-
  * and Long-valued partition columns both work.
  */
object PrunedCellScan {

  /** Per-thread observability counter: the pruning layer runs
    * synchronously on the calling thread, and specs across SUITES run
    * concurrently in one JVM — a process-global counter would let one
    * suite's vector read clobber another's spatial assertion. */
  private[graft] final class ThreadCounter(init: Long) {
    private val tl = ThreadLocal.withInitial[java.lang.Long](() => init)
    def get(): Long = tl.get()
    def set(v: Long): Unit = tl.set(v)
    def incrementAndGet(): Long = { val v = tl.get() + 1L; tl.set(v); v }
  }

  /** Driver-side FileSystem metadata calls issued by the pruning layer
    * on THIS thread since first use — observability for the "one
    * listing, never one probe per candidate cell" contract (an object
    * store answers listStatus in one round trip where 1024 serial HEADs
    * are 1024 of them). */
  private[graft] val fsCalls = new ThreadCounter(0L)

  /** Explicit directory paths the calling thread's last pruned read
    * handed the reader (-1 when it fell back to the full listing) —
    * observability for specs, since consumers may materialize the scan
    * where plan introspection can no longer see it. */
  private[graft] val lastPathCount = new ThreadCounter(-1L)

  /** `schema`, when given, is the data schema (the cell column aside)
    * both branches read with instead of inferring one — which would
    * cost a job per read. */
  def apply(spark: SparkSession, dataPath: String, cellCol: String,
            cells: Seq[Any], maxExplicit: Int = 1024,
            schema: Option[StructType] = None): DataFrame = {
    def reader = schema.fold(spark.read)(spark.read.schema(_))
    def full() = {
      lastPathCount.set(-1L)
      reader.parquet(dataPath).filter(col(cellCol).isin(cells: _*))
    }
    if (cells.isEmpty || cells.length > maxExplicit) return full()
    val base = new org.apache.hadoop.fs.Path(dataPath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // ONE listing of the cell level, intersected with the candidate
    // set, replaces per-candidate existence probes
    fsCalls.incrementAndGet()
    val present = fs.listStatus(base).iterator.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith(cellCol + "=")) Iterator.single(n.substring(cellCol.length + 1))
      else Iterator.empty
    }.toSet
    // zero cell directories at all = a layout that is NOT partitioned
    // on the cell column (the legacy formats keep it as a data column)
    // — prune nothing; a partitioned layout where none of the
    // candidates exist is a genuinely empty answer
    if (present.isEmpty) return full()
    val existing = cells.map(_.toString).distinct.filter(present.contains)
      .map(v => s"$dataPath/$cellCol=$v")
    if (existing.isEmpty) return full().filter(lit(false))
    lastPathCount.set(existing.length.toLong)
    reader.option("basePath", dataPath).parquet(existing: _*)
      .filter(col(cellCol).isin(cells: _*))
  }
}
