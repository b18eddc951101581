package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables._
import graft.operators.SpatialOps._
import graft.operators.VectorOps._

/** Plan-regression gate (VERDICT r6 #7): the load-bearing physical-plan
  * markers — parquet pushdown, broadcast placement, IVF directory
  * pruning, map-side combine, no cartesian blow-ups — fail FAST in
  * `sbt test` instead of surfacing as a bench delta a round later.
  * Asserted against the same queries `tools.ExplainPlans` dumps for the
  * human-audited PLANS_r*.md. */
class PlanGateSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** All nodes of an EXECUTED plan, descending through AQE stages,
    * exchange reuse, and (DPP) subqueries. */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val kids: Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    p +: (kids ++ p.subqueries).flatMap(planNodes)
  }

  /** All parquet scans of an EXECUTED plan. */
  private def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    planNodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }

  private lazy val cust = customerPts(spark, sf())
  private lazy val supp = supplierPts(spark, sf())

  test("box/circle range: conjuncts reach the parquet scan as PushedFilters") {
    val p1 = plan(cust.boxRange(Seq("cx", "cy"), Seq(2000.0, 100.0), Seq(4000.0, 300.0)))
    // cx aliases c_acctbal, so the pushed filter names the parquet column
    assert(p1.contains("PushedFilters") &&
      p1.contains("GreaterThanOrEqual(c_acctbal,2000.0)") &&
      p1.contains("LessThanOrEqual(c_acctbal,4000.0)"),
      s"box-range pushdown lost:\n$p1")
    val p2 = plan(cust.circleRange(Seq("cx", "cy"), Seq(5000.0, 500.0), 500.0))
    assert(p2.contains("GreaterThanOrEqual(c_acctbal,4500.0)") &&
      p2.contains("LessThanOrEqual(c_acctbal,5500.0)"),
      s"circle-range bbox pushdown lost:\n$p2")
  }

  test("knn and ann top-k stay TakeOrderedAndProject (never global sort)") {
    val p1 = plan(cust.knn(Seq("cx", "cy"), Seq(5000.0, 500.0), 10, Seq("c_custkey")))
    assert(p1.contains("TakeOrderedAndProject"), s"knn lost top-k plan:\n$p1")
    val q = embeddings(spark, sf()).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val p2 = plan(embeddings(spark, sf()).cosineTopK("embedding", "vec_id", q, 10))
    assert(p2.contains("TakeOrderedAndProject"), s"ann lost top-k plan:\n$p2")
  }

  test("distance join: cell equi-join, no cartesian; broadcast verb broadcasts") {
    val p1 = plan(cust.distanceJoin(supp, Seq("cx", "cy"), Seq("sx", "sy"), 100.0))
    assert(!p1.contains("CartesianProduct") && !p1.contains("BroadcastNestedLoopJoin"),
      s"grid distance join degenerated:\n$p1")
    assert(p1.contains("HashJoin") || p1.contains("SortMergeJoin"),
      s"grid distance join lost its equi-join:\n$p1")
    val p2 = plan(cust.distanceJoin(supp, Seq("cx", "cy"), Seq("sx", "sy"),
      100.0, broadcastRight = true))
    assert(p2.contains("BroadcastHashJoin"), s"broadcast verb lost its hint:\n$p2")
  }

  test("pivot kNN join: windowed equi-join; the only nested-loop is the bounded fallback") {
    // the top-k window runs inside the build-time checkpoint of the
    // narrow candidates, so it shows in that action's plan
    val (joined, built) = withBuildPlans(cust.knnJoinPivot(supp, Seq("cx", "cy"),
      Seq("sx", "sy"), 3, "c_custkey", Seq("s_suppkey")))
    val p = plan(joined)
    assert(!(p +: built).exists(_.contains("CartesianProduct")),
      s"pivot join grew a cartesian:\n$p\n${built.mkString("\n")}")
    assert(built.exists(_.contains("Window")),
      s"pivot join lost its top-k window:\n${built.mkString("\n")}")
    // the cross-window fallback for doubly-starved lefts is the single
    // tolerated nested loop; more means a main-path degeneration
    // (counted on the simple tree — formatted mode prints nodes twice)
    val simple = cust.knnJoinPivot(supp, Seq("cx", "cy"), Seq("sx", "sy"),
      3, "c_custkey", Seq("s_suppkey")).queryExecution.executedPlan.toString
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(simple).size
    assert(bnlj <= 1, s"expected at most the fallback nested loop, found $bnlj")
  }

  test("exact dedup: map-side combine before the single digest shuffle") {
    import graft.operators.DedupOps._
    val p = plan(documents(spark, sf()).exactDedup("text", "doc_id"))
    assert(p.contains("partial_min_by"), s"dedup lost its partial aggregate:\n$p")
    assert("Exchange \\(".r.findAllIn(p).size === 1,
      s"dedup must shuffle exactly once:\n$p")
  }

  test("boilerplate/winnow: gram- and fingerprint-keyed joins, never a nested loop") {
    import graft.operators.CorpusOps._
    val pb = plan(documents(spark, sf()).boilerplateScore("doc_id", "text", 5, 2))
    assert(!pb.contains("CartesianProduct") && !pb.contains("BroadcastNestedLoopJoin"),
      s"boilerplate join degenerated:\n$pb")
    assert(pb.contains("partial_count"), s"document-frequency agg lost map-side combine:\n$pb")
    val pw = plan(documents(spark, sf()).winnowPairs("doc_id", "text", 4, 4, 2))
    assert(!pw.contains("CartesianProduct") && !pw.contains("BroadcastNestedLoopJoin"),
      s"winnow pair join degenerated:\n$pw")
  }

  test("IVF disk layout: probed cells prune at the directory level") {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivf_plangate").toString
    embeddings(spark, sf()).writeIvf(path, "embedding", "vec_id", nlist = 16)
    val q = embeddings(spark, sf()).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val p = plan(graft.operators.VectorOps.readIvfTopK(
      spark, path, "embedding", "vec_id", q, 10, nprobe = 4))
    assert(p.contains("PartitionFilters") && p.contains("__graft_cell"),
      s"IVF scan lost directory pruning:\n$p")
  }

  test("ANN join: BOTH layout scans (ADC codes + re-rank vectors) prune to probed cells") {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_plangate_ivfpq_join").toString
    val emb = embeddings(spark, sf())
    emb.writeIvfPq(path, "embedding", "vec_id", nlist = 16, m = 4, ksub = 4,
      iters = 2)
    val wave = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val df = graft.operators.VectorOps.readIvfPqTopKJoin(wave, "qvec", "qid",
      path, "embedding", "vec_id", k = 3, nprobe = 2, refine = 10)
    df.collect()
    val cells = spark.read.parquet(s"$path/data")
      .select(col("__graft_cell")).distinct().count()
    // r11 verdict #1: the re-rank joined vectors on bare id, re-reading
    // the ENTIRE vector column; r11's DPP on the ADC scan was itself
    // runtime-inert (dynamicpruningexpression(true) once the planner
    // builds on the layout side). The probed-cell set is now pushed as
    // a LITERAL partition filter, so BOTH layout scans must list fewer
    // partitions than the layout has cells — measured, not plan text.
    val layoutScans = fileScans(df.queryExecution.executedPlan).filter(f =>
      f.relation.location.rootPaths.exists(_.toString.contains(
        "graft_plangate_ivfpq_join")))
    val vecScans = layoutScans.filter(_.output.exists(_.name == "embedding"))
    val adcScans = layoutScans.filter(_.output.exists(_.name.startsWith("__pqc")))
    assert(vecScans.nonEmpty && adcScans.nonEmpty,
      s"layout scans not found in executed plan: ${layoutScans.map(_.output)}")
    layoutScans.foreach { f =>
      assert(f.partitionFilters.exists(_.toString.contains("__graft_cell")),
        s"layout scan lost its probed-cell partition filter: ${f.partitionFilters}")
      val read = f.metrics.get("numPartitions").map(_.value)
        .getOrElse(fail(s"layout scan carries no numPartitions metric: $f"))
      assert(read < cells,
        s"layout scan read $read partitions of a $cells-cell layout — pruning inert")
      assert(read <= 2, s"1-row wave at nprobe=2 must read <= 2 cells, read $read")
    }
  }

  test("bm25 max-score: non-essential high-df terms' postings are skipped, losslessly") {
    import graft.operators.CorpusOps
    import graft.operators.CorpusOps._
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_plangate_wand").toString
    // skewed corpus: every doc holds the high-df term 'common' (idf and
    // max-score bound near zero), one in 97 also holds 'rare'
    val docs = spark.range(2000).select(col("id").as("doc_id"),
      concat_ws(" ", lit("common"),
        when(col("id") % 97 === 0, lit("rare rare")).otherwise(lit("filler")),
        lit("pad pad pad")).as("text"))
    docs.writeBm25Index(path, "doc_id", "text")
    val terms = Seq("rare", "common")
    val full = CorpusOps.bm25TopKAgainstIndex(spark, path, terms, 5,
      maxPruneCandidates = 0) // cap 0 forces the unpruned plan
    val fullRows = full.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    // minPruneRows 0: the benefit gate would (correctly) take the
    // one-scan plan on a 2k-doc fixture — force the pruning machinery
    val pruned = CorpusOps.bm25TopKAgainstIndex(spark, path, terms, 5,
      minPruneRows = 0L)
    val prunedRows = pruned.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(prunedRows === fullRows, "max-score pruning changed answers")
    assert(fullRows.size === 5)
    // "posting rows read": rows surviving the plan's pushed predicates
    // (the FilterExec directly over each postings scan) — the quantity
    // term-clustered row-group stats skip at real scale; this tiny
    // fixture is a single row group, so the scan metric itself cannot
    // show the skip. The pruned FINAL plan must carry a pushed doc_id
    // IN over the candidates and surface only their postings; the full
    // plan surfaces every query-term posting (~2021: 2000 'common' +
    // ~21 'rare'). The operator's two internal bootstrap jobs add ~2x
    // the rare df — still orders of magnitude under the full read.
    // a filter is "directly over" a scan when no aggregate/join/
    // exchange separates them — the score>0 filter above the pivot agg
    // must not masquerade as the scan's predicate
    def directScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => Nil
      case _: org.apache.spark.sql.execution.joins.BaseJoinExec => Nil
      case _: org.apache.spark.sql.execution.exchange.Exchange => Nil
      case other => other.children.flatMap(directScans)
    }
    def postingRowsSurfaced(df: org.apache.spark.sql.DataFrame): Long = {
      val nodes = planNodes(df.queryExecution.executedPlan)
      val scans = fileScans(df.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(
          _.toString.contains("graft_plangate_wand/postings")))
      scans.map { s =>
        val above = nodes.collect {
          case f: org.apache.spark.sql.execution.FilterExec
              if directScans(f.child).exists(_ eq s) =>
            f.metrics("numOutputRows").value
        }
        if (above.isEmpty) s.metrics("numOutputRows").value else above.min
      }.sum
    }
    val rareDf = 2000 / 97 + 1
    val prunedScans = fileScans(pruned.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(
        _.toString.contains("graft_plangate_wand/postings")))
    assert(prunedScans.nonEmpty && prunedScans.forall(s =>
      s.metadata.get("PushedFilters").exists(_.contains("In(doc_id"))),
      s"pruned plan lost its pushed candidate id IN: " +
        prunedScans.map(_.metadata.get("PushedFilters")).mkString("; "))
    assert(postingRowsSurfaced(full) > 2000,
      s"full plan surfaced ${postingRowsSurfaced(full)} — fixture broke")
    val prunedRead = postingRowsSurfaced(pruned) + 2L * rareDf
    assert(prunedRead < postingRowsSurfaced(full) / 10,
      s"pruned path surfaced $prunedRead vs full " +
        s"${postingRowsSurfaced(full)} — pruning inert")
  }

  test("semantic gate (batch): the layout scan prunes to the wave's probed cells") {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_plangate_sg").toString
    val emb = embeddings(spark, sf())
    emb.writeIvfPq(path, "embedding", "vec_id", nlist = 16, m = 4, ksub = 4,
      iters = 2)
    val wave = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("wid"), col("embedding").as("wvec"))
    val df = graft.operators.VectorOps.ivfSemanticGate(wave, "wvec", "wid",
      path, "embedding", "vec_id", threshold = 0.3, nprobe = 2)
    df.collect()
    val cells = spark.read.parquet(s"$path/data")
      .select(col("__graft_cell")).distinct().count()
    val scans = fileScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(
        _.toString.contains("graft_plangate_sg")))
    assert(scans.nonEmpty)
    scans.foreach { f =>
      val read = f.metrics.get("numPartitions").map(_.value)
        .getOrElse(fail(s"gate scan carries no numPartitions metric: $f"))
      assert(read < cells && read <= 2,
        s"gate scan read $read of $cells cells — batch pruning inert")
    }
  }

  test("PQ ANN: shuffle-free ADC scoring over literal tables, TakeOrdered cut") {
    val q = embeddings(spark, sf()).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val p = plan(embeddings(spark, sf()).cosineTopKPq("embedding", "vec_id",
      q, 10, m = 4, ksub = 4, refine = 50, iters = 2))
    // ADC tables and codebooks ride in the plan as literals; scoring is
    // a per-partition scan + TakeOrdered merge — any Exchange here means
    // the candidate cut started shuffling
    assert(p.contains("TakeOrderedAndProject"), s"PQ lost TakeOrdered:\n$p")
    assert(p.contains("element_at"), s"PQ lost the ADC literal lookup:\n$p")
    assert(!p.contains("Exchange"), s"PQ scoring must not shuffle:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"PQ scoring must not join:\n$p")
  }

  test("temperature mixture: rates broadcast, the corpus side never shuffles") {
    import graft.operators.SampleOps._
    val p = plan(documents(spark, sf())
      .temperatureMixture("lang", "doc_id", alphaQuarters = 2, budget = 200L))
    assert(p.contains("BroadcastHashJoin"), s"rates must broadcast:\n$p")
    // the only exchanges allowed feed the tiny rate table (group agg +
    // broadcast); the corpus side reads straight from parquet
    assert(!p.contains("SortMergeJoin"), s"corpus side must not sort-merge:\n$p")
  }

  test("passage dedup: partial min(struct) on the digest key, no nested loop") {
    import graft.operators.CorpusOps._
    val p = plan(documents(spark, sf()).passageDedup("doc_id", "text", 20))
    assert(p.contains("partial_min"),
      s"first-occurrence agg lost map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"passage dedup degenerated:\n$p")
  }

  test("bigram quality: partial-agg count tables, equi-joins only") {
    import graft.operators.CorpusOps._
    val p = plan(documents(spark, sf()).bigramScore("doc_id", "text"))
    assert(p.contains("partial_count"),
      s"bigram count tables lost map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bigram score joins degenerated:\n$p")
  }

  test("bpe encode: one shuffle-free codegen'd projection over the scan") {
    import graft.operators.CorpusOps._
    val docs = documents(spark, sf())
    val p = plan(docs.select(col("doc_id"),
      size(docs.bpeEncode("text", graft.queries.Pipeline.bpeMerges)).as("n")))
    assert(!p.contains("Exchange"), s"bpe encode must not shuffle:\n$p")
    // the per-word lambda evaluates interpreted (ArrayTransform is
    // CodegenFallback — tolerable here: merges are few and the loop is
    // word-local, unlike the pivot joins' per-row argmin, which moved
    // to a compiled kernel for exactly this reason); the gate pins the
    // SHAPE: one projection straight over the scan, no join, no agg
    assert(!p.contains("Join") && !p.contains("Aggregate"),
      s"bpe encode grew extra operators:\n$p")
  }

  test("vocab encode: TakeOrdered vocab cut (never a global count-table sort), equi-join back") {
    import graft.operators.CorpusOps._
    val p = plan(documents(spark, sf()).vocabEncode("doc_id", "text", 1000))
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab cut lost its per-partition heap plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"encode join degenerated:\n$p")
  }

  test("span decontamination: gram-keyed semi join + id-keyed redaction, no cross") {
    val docs = documents(spark, sf())
    val p = plan(graft.operators.DedupOps.decontaminateSpans(
      docs.filter(col("doc_id") % 7 =!= 0),
      broadcast(docs.filter(col("doc_id") % 7 === 0)),
      "doc_id", "text", "text", n = 8))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span decontamination degenerated:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"eval gram side must broadcast:\n$p")
  }

  test("triangle counting: oriented equi-joins only, no cross") {
    val li = lineitem(spark, sf())
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val e = li.as("x").join(li.as("y"), Seq("ok"))
      .filter(col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("src"), col("y.pk").as("dst"))
    val p = plan(graft.operators.GraphOps.triangleCounts(e, "src", "dst"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"triangle counting degenerated:\n$p")
  }

  test("pagerank: src-keyed equi-joins with partial contribution sums, no cross") {
    val e = lineitem(spark, sf())
      .select(col("l_suppkey").as("src"),
        (col("l_partkey") + 1000000000L).as("dst")).distinct()
    val p = plan(graft.operators.GraphOps.pageRank(e, "src", "dst", iters = 1))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pagerank iteration degenerated:\n$p")
    assert(p.contains("partial_sum"),
      s"contribution sum lost map-side combine:\n$p")
  }

  test("quadtree range reads the cached clustering") {
    val qt = graft.index.IndexManager.quadTreeIndexTable(spark, cust,
      "plangate_qt", Seq("cx", "cy"), numPartitions = 4)
    try {
      val p = plan(qt.boxRange(Array(2000.0, 100.0), Array(4000.0, 300.0)))
      assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
        s"quadtree range lost the cache:\n$p")
    } finally graft.index.IndexManager.dropIndex(spark, "plangate_qt")
  }
}
