package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.operators.SpatialOps._
import graft.operators.VectorOps._

/** Plan-hygiene diagnostic: prints formatted physical plans of the key
  * operators so pushdown / broadcast / whole-stage-codegen placement can
  * be audited (the SURVEY.md §7 "explain and iterate" loop). Not part of
  * the driver contract. */
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def show(name: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n=================== $name ===================")
      df.explain("formatted")
    }

    // `show`, preceded by the plan of every SQL action that ran while the
    // frame was built (the eager checkpoints of the kNN joins)
    def showBuild(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
      val built = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = built.add(qe)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      // a marker action closes the capture: the listener bus delivers
      // events in order, asynchronously
      val marker = s"build_marker_${java.util.UUID.randomUUID.toString.replace("-", "")}"
      def isMarker(qe: QueryExecution) = qe.analyzed.output.exists(_.name == marker)
      spark.listenerManager.register(listener)
      val result = try {
        val r = df
        spark.range(1).toDF(marker).collect()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!built.stream().anyMatch(isMarker(_)) && System.nanoTime() < deadline)
          Thread.sleep(10)
        r
      } finally spark.listenerManager.unregister(listener)
      built.forEach { qe =>
        if (!isMarker(qe)) {
          println(s"\n------------- $name: build action -------------")
          println(qe.explainString(ExplainMode.fromString("formatted")))
        }
      }
      show(name)(result)
    }

    show("box_range (expect PushedFilters on cx/cy)") {
      customerPts(spark, d).boxRange(Seq("cx", "cy"), Seq(2000.0, 100.0), Seq(4000.0, 300.0))
    }
    show("circle_range (expect pushed bbox conjuncts)") {
      customerPts(spark, d).circleRange(Seq("cx", "cy"), Seq(5000.0, 500.0), 500.0)
    }
    show("knn (expect TakeOrderedAndProject)") {
      customerPts(spark, d).knn(Seq("cx", "cy"), Seq(5000.0, 500.0), 10, Seq("c_custkey"))
    }
    show("distance_join_grid (expect equi-join on cells, broadcast small side)") {
      customerPts(spark, d).distanceJoin(supplierPts(spark, d), Seq("cx", "cy"), Seq("sx", "sy"), 100.0)
    }
    show("ann_topk (expect codegen'd cosine + TakeOrderedAndProject)") {
      val q = embeddings(spark, d).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      embeddings(spark, d).cosineTopK("embedding", "vec_id", q, 10)
    }
    show("polygon_range (expect pushed bbox conjuncts + codegen'd point_in_polygon)") {
      customerPts(spark, d).polygonRange(Seq("cx", "cy"),
        graft.spatial.Polygon((3000.0, 200.0), (5000.0, 100.0), (7000.0, 500.0), (5000.0, 800.0)))
    }
    show("distance_join_broadcast (expect BroadcastHashJoin on cells, no big-side shuffle)") {
      customerPts(spark, d).distanceJoin(supplierPts(spark, d),
        Seq("cx", "cy"), Seq("sx", "sy"), 100.0, broadcastRight = true)
    }
    // The pivot joins checkpoint the admitted replicas and the narrow
    // per-left top-k at build time, so the dump shows those as Scan
    // ExistingRDD leaves under the hydrate joins; the argmin and
    // admission kernels, the candidate exchange and the window ran
    // before the checkpoints.
    show("knn_join_pivot (expect the checkpointed narrow top-k hydrated by shuffle-hash joins on c_custkey and __graft_rrow — a union with the rescue pass only when some left is starved)") {
      customerPts(spark, d).knnJoinPivot(supplierPts(spark, d),
        Seq("cx", "cy"), Seq("sx", "sy"), 3, "c_custkey", Seq("s_suppkey"))
    }
    // sf0.01's embeddings trip knnJoinVec's admit-fraction gate (their
    // distances concentrate), which takes the narrow exact cross; 16 tight
    // clusters in 8-D reach the pivot route. Its argmin, admission and
    // cell join run in the build-time checkpoints, so those plans print
    // first, then the result's. The two statistics passes before them
    // are RDD jobs, not SQL actions, so they print no plan.
    showBuild("knn_join_vec_pivot (expect build plans with the argmin and admission kernels over float vectors, the candidate join on __graft_cell and the windowed top-k under the checkpoints; the result hydrates the narrow top-k by shuffle-hash joins on vec_id and __graft_rrow; l2 carried from __graft_d)") {
      val vecs = spark.range(0, 2000, 1, 4).select(col("id").as("vec_id"),
        array((0 until 8).map(i => ((col("id") % 16) * 10.0 +
          pmod(hash(col("id"), lit(i)), lit(100)) / 1000.0).cast("float")): _*)
          .as("embedding"))
      vecs.knnJoinVec(vecs.select(col("vec_id").as("vec_id2"),
          col("embedding").as("embedding2")),
        "embedding", "embedding2", "vec_id", 3, Seq("vec_id2"))
    }
    show("exact_dedup (expect partial HashAggregate before the digest shuffle)") {
      import graft.operators.DedupOps._
      documents(spark, d).exactDedup("text", "doc_id")
    }
    show("ivf_disk_topk (expect PartitionFilters on __graft_cell — non-probed cell dirs never read)") {
      import graft.operators.VectorOps
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_ivf_plans").toString
      embeddings(spark, d).writeIvf(path, "embedding", "vec_id", nlist = 16)
      val q = embeddings(spark, d).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      VectorOps.readIvfTopK(spark, path, "embedding", "vec_id", q, 10, nprobe = 4)
    }
    show("minhash_banded_join (expect equi-join on band/bucket — texts never ride the join)") {
      import graft.operators.DedupOps._
      documents(spark, d).minHashPairs("doc_id", "text", shingle = 3,
        numHashes = 64, bands = 16, threshold = 0.8)
    }
    show("mixture_sample (expect ONE shuffle-free codegen'd filter over the scan)") {
      import graft.operators.SampleOps._
      documents(spark, d).mixtureSample("lang", "doc_id",
        Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25, "es" -> 0.1))
    }
    show("group_cap (expect WindowGroupLimit before the single group shuffle)") {
      import graft.operators.SampleOps._
      documents(spark, d).groupCap("lang", 50,
        Seq(col("n_chars").desc, col("doc_id").asc))
    }
    show("contamination (expect gram equi-join with broadcast eval side, no cross product)") {
      graft.queries.Pipeline.queries("pp_contamination")(spark, d)
    }
    show("split_assign (expect ONE shuffle-free codegen'd projection over the scan)") {
      import graft.operators.SampleOps._
      documents(spark, d).splitAssign("doc_id",
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
    }
    show("source_filter (expect partial-agg reputation build + BroadcastHashJoin back — corpus never shuffles)") {
      import graft.operators.CorpusOps._
      documents(spark, d).sourceReputationFilter("source", "text", 0.645)
    }
    show("unigram_quality (expect partial-agg count table, token equi-join, left join + broadcast scalar)") {
      import graft.operators.CorpusOps._
      documents(spark, d).unigramScore("doc_id", "text")
    }
    show("asof_join (expect ONE hash shuffle + running window — NO join node)") {
      import graft.operators.TemporalOps._
      val ev = events(spark, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_event_id"))
      clicks.asOfJoin(purchases, Seq("user_id"), Seq("user_id"),
        "ts", "p_ts", "p_event_id")
    }
    show("interval_join (expect equi-join on (key, bucket) + range refine — no cross)") {
      import graft.operators.TemporalOps._
      val ev = events(spark, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
      val windows = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event_id"),
          unix_micros(col("ts")).as("w_start"),
          (unix_micros(col("ts")) + 86400000000L).as("w_end"))
      clicks.intervalJoin(windows, Seq("user_id"), Seq("user_id"),
        "t", "w_start", "w_end", bucketWidth = 86400000000L)
    }
    show("quadtree_box_range (expect OR-of-BETWEENs on the z key over the cached clustering)") {
      graft.index.IndexManager
        .quadTreeIndexTable(spark, customerPts(spark, d), "plans_qt",
          Seq("cx", "cy"), numPartitions = 8)
        .boxRange(Array(2000.0, 100.0), Array(4000.0, 300.0))
    }
    show("kmeans_assign (expect ONE shuffle-free codegen'd argmin projection — centroids ride in the plan)") {
      import graft.operators.VectorOps._
      embeddings(spark, d).kmeansAssign("embedding", "vec_id", k = 8, iters = 2)
    }
    show("semantic_dedup (expect cluster equi-self-join of (id, cluster) — vectors join back by id)") {
      import graft.operators.VectorOps._
      embeddings(spark, d).semanticDedupPairs("embedding", "vec_id", k = 8,
        threshold = 0.8)
    }
    show("bm25 (expect codegen'd score over the scan + TakeOrderedAndProject, no join)") {
      import graft.operators.CorpusOps._
      documents(spark, d).bm25TopK("doc_id", "text",
        Seq("spark", "vector", "window", "hash", "merge", "customer"), 20)
    }
    show("pq_ann (expect shuffle-free codegen'd code+ADC projection + TakeOrdered — codebooks/tables ride in the plan)") {
      import graft.operators.VectorOps._
      val q = embeddings(spark, d).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      embeddings(spark, d).cosineTopKPq("embedding", "vec_id", q, 10,
        m = 4, ksub = 4, refine = 50, iters = 2)
    }
    show("importance_weights (expect two partial-agg vocab tables, token-keyed ratio join, dsum doc agg — text never rides a join)") {
      import graft.operators.CorpusOps._
      documents(spark, d).importanceWeights("doc_id", "text", col("lang") === "en")
    }
    show("temperature_mixture (expect tiny group agg + BroadcastHashJoin rate filter — corpus never shuffles)") {
      import graft.operators.SampleOps._
      documents(spark, d).temperatureMixture("lang", "doc_id",
        alphaQuarters = 2, budget = 200L)
    }
    show("bpe_pairs (expect partial-agg vocab collapse, pair explode over the VOCAB table, TakeOrdered cut)") {
      import graft.operators.CorpusOps._
      documents(spark, d).bpePairStats("text", topN = 50)
    }
    show("passage_dedup (expect partial-agg min(struct) on the md5 key — passage text rides only the id-keyed reassembly)") {
      import graft.operators.CorpusOps._
      documents(spark, d).passageDedup("doc_id", "text", width = 20)
    }
    show("bigram_quality (expect two partial-agg count tables, token-keyed joins, long sums — text never rides a join)") {
      import graft.operators.CorpusOps._
      documents(spark, d).bigramScore("doc_id", "text")
    }
    show("bpe_encode (expect ONE shuffle-free codegen'd replace-chain projection over the scan)") {
      import graft.operators.CorpusOps._
      val docs = documents(spark, d)
      docs.select(col("doc_id"),
        size(docs.bpeEncode("text", graft.queries.Pipeline.bpeMerges))
          .as("n_bpe"))
    }
    show("vocab_encode (expect TakeOrdered vocab cut + token-keyed left join — the rank window runs over the CUT rows only)") {
      import graft.operators.CorpusOps._
      documents(spark, d).vocabEncode("doc_id", "text", vocabSize = 1000)
    }
    show("span_decontamination (expect gram-keyed broadcast semi join + id-keyed starts join — text rides only the redaction projection)") {
      val docs = documents(spark, d)
      graft.operators.DedupOps.decontaminateSpans(
        docs.filter(col("doc_id") % 7 =!= 0),
        broadcast(docs.filter(col("doc_id") % 7 === 0)),
        "doc_id", "text", "text", n = 8)
    }
    show("triangle_counts (expect degree-attach + wedge self-join + closing semi join, all equi — no cross)") {
      val li = lineitem(spark, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val e = li.as("x").join(li.as("y"), Seq("ok"))
        .filter(col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
      graft.operators.GraphOps.triangleCounts(e, "src", "dst")
    }
    show("inverted_index (expect partial-agg tf counts + WindowGroupLimit posting cap — exact stats, bounded export)") {
      import graft.operators.CorpusOps._
      documents(spark, d).invertedIndex("doc_id", "text", maxPostings = 20)
    }
    show("span_dedup (expect partial_min first-occurrence agg + id-keyed starts join — text rides only the redaction)") {
      graft.operators.DedupOps.dedupRepeatedSpans(
        documents(spark, d).select(col("doc_id"), col("text")),
        "doc_id", "text", n = 8)
    }
    show("tfidf (expect partial-agg tf + vocab-sized df table + term-keyed weight join)") {
      import graft.operators.CorpusOps._
      documents(spark, d).tfidfVectors("doc_id", "text")
    }
    show("normalized_dedup (expect codegen'd normalization + ONE digest-shuffle min_by)") {
      import graft.operators.DedupOps._
      documents(spark, d).select(col("doc_id"), col("text"))
        .withColumn("text_norm", graft.functions.normalizeText(col("text")))
        .exactDedup("text_norm", "doc_id")
    }
    show("key_stats (expect one partial-agg count per key + TakeOrderedAndProject cut + broadcast total)") {
      import graft.operators.StatsOps._
      lineitem(spark, d).keyStats("l_suppkey", topN = 20)
    }
    show("snapshot_diff (expect (id, md5) scans + ONE id-keyed full-outer join — text never rides)") {
      import graft.operators.CorpusOps._
      val old = documents(spark, d).select(col("doc_id"), col("text"))
      old.filter(col("doc_id") % 11 =!= 0).snapshotDiff(old, "doc_id", "text")
    }
    show("pca_projection (expect one shuffle-free fold over the scan; Gram phase runs at build time)") {
      import graft.operators.VectorOps._
      val e = embeddings(spark, d)
      e.projectOnto("embedding", "vec_id",
        e.principalDirection("embedding"))
    }
    show("random_project (expect one shuffle-free codegen'd projection over the scan)") {
      embeddings(spark, d).select(col("vec_id"),
        graft.functions.signProject(col("embedding"), 8).as("p"))
    }
    show("pagerank_iteration (expect src-keyed equi-join + partial-agg contribution sum per round — no cross, no global sort)") {
      val e = lineitem(spark, d)
        .select(col("l_suppkey").as("src"),
          (col("l_partkey") + 1000000000L).as("dst")).distinct()
      graft.operators.GraphOps.pageRank(e, "src", "dst", iters = 1)
    }
    show("sequence_pack_global (expect bounded (group,bucket) windows + two tiny broadcast offset joins — NO single-partition window over data, no global sort)") {
      import graft.operators.CorpusOps._
      documents(spark, d).sequencePackGlobal("source", "doc_id",
        graft.functions.tokenCount(col("text")), capacity = 2048L,
        bucketWidth = 64L)
    }
    show("knn_join_vec_approx_flat (expect __cell equi-join, no cross/BNL; flat argmin at nlist=16)") {
      import graft.operators.VectorOps._
      spark.conf.set(graft.GraftConf.KnnVecApprox, "true")
      try {
        val left = embeddings(spark, d).select(col("vec_id"), col("embedding"))
        val right = embeddings(spark, d).select(
          col("vec_id").as("vec_id2"), col("embedding").as("embedding2"))
        left.knnJoinVec(right, "embedding", "embedding2", "vec_id", 3,
          Seq("vec_id2"), safety = 1e9)
      } finally spark.conf.unset(graft.GraftConf.KnnVecApprox)
    }
    show("knn_join_vec_approx_two_level (expect supercell CASE routing then __cell equi-join — O(sqrt(nlist)) assignment per row)") {
      import graft.operators.VectorOps._
      spark.conf.set(graft.GraftConf.KnnVecApprox, "true")
      spark.conf.set(graft.GraftConf.KnnVecApproxNlist, "64")
      try {
        val left = embeddings(spark, d).select(col("vec_id"), col("embedding"))
        val right = embeddings(spark, d).select(
          col("vec_id").as("vec_id2"), col("embedding").as("embedding2"))
        left.knnJoinVec(right, "embedding", "embedding2", "vec_id", 3,
          Seq("vec_id2"), safety = 1e9)
      } finally {
        spark.conf.unset(graft.GraftConf.KnnVecApprox)
        spark.conf.unset(graft.GraftConf.KnnVecApproxNlist)
      }
    }
    show("ivfpq_residual (expect probed-cell filter + per-cell CASE ADC over PQ codes — no float-vector reads before the refine set)") {
      import graft.operators.VectorOps._
      val q = embeddings(spark, d).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      embeddings(spark, d).cosineTopKIvfPq("embedding", "vec_id", q, 10,
        nlist = 8, nprobe = 2, m = 4, ksub = 4, refine = 40, residual = true)
    }
    show("epoch_shuffle (expect ONE hash exchange on shard + in-shard sort — no rangepartitioning/global sort)") {
      import graft.operators.SampleOps._
      documents(spark, d).epochShuffle("doc_id", epoch = 1, numShards = 8)
    }
    show("heavy_ngrams (expect width-bounded bucket partial agg, broadcast LEFT-SEMI prefilter, then the exact gram agg)") {
      import graft.operators.CorpusOps._
      documents(spark, d).heavyNgrams("text", n = 3, minCount = 4L)
    }
    show("group_top_frac (expect one exchange shared by the rank window and the group count — codegen'd filter, no join)") {
      import graft.operators.SampleOps._
      documents(spark, d).groupTopFraction("source", 0.25,
        Seq(graft.functions.tokenCount(col("text")).desc, col("doc_id").asc))
    }
    show("minhash_capped (expect ONE banded-signature evaluation into a collect_list bucket agg + higher-order pair explode; verify semi-joined to candidates)") {
      import graft.operators.DedupOps._
      documents(spark, d).minHashPairs("doc_id", "text", 3, 64, 16, 0.8,
        maxBucket = 1000)
    }
    show("spatial_disk_box (expect PartitionFilters INSET on __graft_cell + fine-z BETWEEN in PushedFilters — directory and row-group pruning before the exact predicate)") {
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_spatial_disk").toString
      graft.index.SpatialDisk.write(customerPts(spark, d), path, Seq("cx", "cy"))
      graft.index.SpatialDisk.boxRange(spark, path,
        Array(2000.0, 100.0), Array(4000.0, 300.0))
    }
    show("spatial_disk_distance_join (expect exploded-left cells, equi-join on the cell — no cross — against the pruned layout scan)") {
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_spatial_disk").toString
      graft.index.SpatialDisk.distanceJoin(supplierPts(spark, d),
        Seq("sx", "sy"), path, 100.0)
    }
    showBuild("spatial_disk_knn_join (expect the build's counted top-k checkpoint over the dilated-cell equi-join against the pruned layout scan; the result reads that checkpoint, with a union to the knn_rescue branch over the whole layout only when some left starved)") {
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_spatial_disk").toString
      graft.index.SpatialDisk.knnJoin(supplierPts(spark, d),
        Seq("sx", "sy"), path, 3, leftId = "s_suppkey",
        tieBreak = Seq("c_custkey"))
    }
    // Seeded starvation: the lefts moved past the layout's x extent
    show("spatial_disk_knn_join_rescue (expect the union's starved branch: the knn_rescue kernel's per-left bound and Voronoi cells exploded on the starved lefts, joined on __graft_lvc = __graft_rvc to the whole layout's pivot_argmin cells, the bound filter and a row_number window — no CartesianProduct or BroadcastNestedLoopJoin)") {
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_spatial_disk").toString
      graft.index.SpatialDisk.knnJoin(supplierPts(spark, d)
          .withColumn("sx", col("sx") + 20000.0),
        Seq("sx", "sy"), path, 3, leftId = "s_suppkey",
        tieBreak = Seq("c_custkey"))
    }
    show("polygon_distance_join (expect per-polygon bbox-cell explode, equi-join on (cx,cy) cells — no cross — with the codegen'd shape-distance refine)") {
      import graft.spatial.ShapeCodec
      val ncx = col("n_nationkey").cast("double") * 400.0
      val ncy = col("n_nationkey").cast("double") * 40.0
      nation(spark, d).select(col("n_nationkey"),
        struct(lit(ShapeCodec.TagPolygon).as("tag"),
          array(ncx - 150.0, ncy - 20.0, ncx + 150.0, ncy - 20.0,
            ncx + 150.0, ncy + 20.0, ncx - 150.0, ncy + 20.0).as("coords"))
          .as("poly"))
        .polygonDistanceJoin(customerPts(spark, d), "poly",
          Seq("cx", "cy"), 100.37)
    }
    show("shape_intersects_join (expect both sides exploded to bbox cells, equi-join on the cell — no cross — reference-point filter + codegen'd stIntersects refine)") {
      import graft.spatial.ShapeCodec
      val ncx = col("n_nationkey").cast("double") * 400.0
      val ncy = col("n_nationkey").cast("double") * 40.0
      val lb = nation(spark, d).select(col("n_nationkey"),
        struct(lit(ShapeCodec.TagMBR).as("tag"),
          array(ncx - 150.0, ncy - 20.0, ncx + 150.0, ncy + 20.0).as("coords"))
          .as("lbox"))
      val rb = supplierPts(spark, d).select(col("s_suppkey"),
        struct(lit(ShapeCodec.TagMBR).as("tag"),
          array(col("sx") - 500.0, col("sy") - 80.0,
            col("sx") + 500.0, col("sy") + 80.0).as("coords")).as("rbox"))
      lb.shapeIntersectsJoin(rb, "lbox", "rbox")
    }
    show("ann_ivfpq_join (expect per-left nearest_cells explode, probed-cell LITERAL partition filter on BOTH layout scans — codes before refine, vectors joined on (cell,id) after — WindowGroupLimit refine)") {
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_ivfpq_join").toString
      embeddings(spark, d).writeIvfPq(path, "embedding", "vec_id",
        nlist = 8, m = 4, ksub = 4, iters = 2)
      val wave = embeddings(spark, d).filter(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.operators.VectorOps.readIvfPqTopKJoin(wave, "qvec", "qid",
        path, "embedding", "vec_id", k = 3, nprobe = 4, refine = 50)
    }
    show("minhash_index_gate (expect the wave's OWN signature pipeline joined to the stored bucket scan; verify shingles read from the layout via candidate semi-joins — no corpus re-tokenization anywhere)") {
      import graft.operators.DedupOps._
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_mh_idx").toString
      val docsT = documents(spark, d)
      docsT.filter(col("doc_id") % 10 =!= 0)
        .writeMinhashIndex(path, "doc_id", "text")
      docsT.filter(col("doc_id") % 10 === 0)
        .minHashPairsAgainstIndex(path, "doc_id", "text", threshold = 0.8)
    }
    show("digest_gate (expect the codegen'd bloom_might_contain filter on the wave BEFORE the (h64, md5) equi-join against the stored digest scan — 3 narrow columns, no text past the hash projection)") {
      import graft.operators.DedupOps._
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_dg_idx").toString
      val docsT = documents(spark, d)
      docsT.writeDigestIndex(path, "doc_id", "text")
      docsT.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .exactPairsAgainstIndex(path, "doc_id", "text")
    }
    show("digest_gate_deleted (expect the admitted tombstone ids LEFT-ANTI-joined off the stored digests BEFORE the (h64, md5) equi-join — a tombstoned doc matches nothing; the wave side is unchanged)") {
      import graft.operators.DedupOps
      import graft.operators.DedupOps._
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_dg_del").toString
      val docsT = documents(spark, d)
      docsT.writeDigestIndex(path, "doc_id", "text")
      DedupOps.deleteFromDigestIndex(spark, path,
        docsT.filter(col("doc_id") % 3 === 0).select(col("doc_id")))
      docsT.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .exactPairsAgainstIndex(path, "doc_id", "text")
    }
    show("bm25_delete_topk (expect the tombstone anti-join on the query-term posting SLIVER — never the whole table — with the negative delete-wave df rows riding the bounded dictionary probe)") {
      import graft.operators.CorpusOps
      import graft.operators.CorpusOps._
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_bm_del").toString
      val docsT = documents(spark, d)
      docsT.writeBm25Index(path, "doc_id", "text")
      CorpusOps.deleteFromBm25Index(spark, path,
        docsT.filter(col("doc_id") % 7 === 0).select(col("doc_id")))
      CorpusOps.bm25TopKAgainstIndex(spark, path,
        Seq("spark", "vector", "window", "hash", "merge", "customer"), 20)
    }
    show("digest_admit (expect a UNION of the bloom-false branch — admitted with NO join — and the bloom-true branch's left-anti against the digests; novel rows never shuffle)") {
      import graft.operators.DedupOps._
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_dg_idx").toString
      documents(spark, d).filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" NOVEL")).as("text"))
        .admitAgainstDigestIndex(path, "doc_id", "text")
    }
    show("cdc_index_gate (expect the wave's OWN chunk-hash projection equi-joined to the stored membership scan IN PLACE (single wave: no regroup), shared-chunk count agg, verify shingles via candidate semi-joins)") {
      import graft.operators.DedupOps._
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_cdc_idx").toString
      val docsT = documents(spark, d)
      docsT.filter(col("doc_id") % 10 =!= 0)
        .writeCdcIndex(path, "doc_id", "text")
      docsT.filter(col("doc_id") % 10 === 0)
        .cdcPairsAgainstIndex(path, "doc_id", "text", minShared = 1)
    }
    show("bm25_index_topk (expect PushedFilters In(term,...) on the postings scan — the layout read is term-pruned, no corpus scan anywhere; fixed-column pivot then codegen'd score chain)") {
      import graft.operators.CorpusOps
      import graft.operators.CorpusOps._
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_bm25_idx").toString
      documents(spark, d).writeBm25Index(path, "doc_id", "text")
      CorpusOps.bm25TopKAgainstIndex(spark, path,
        Seq("spark", "vector", "window", "hash", "merge", "customer"), 20)
    }
    show("hybrid_index_topk (expect the term-pruned bm25 stage + a vector-layout scan with the candidate id IN filter PUSHED — raw vectors read for <= candidates rows, never the layout)") {
      import graft.operators.CorpusOps
      import graft.operators.CorpusOps._
      import graft.operators.VectorOps._
      val bmPath = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_bm25_idx").toString
      val ivfPath = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_hyb_ivf").toString
      embeddings(spark, d).writeIvfPq(ivfPath, "embedding", "vec_id",
        nlist = 8, m = 4, ksub = 4, iters = 2)
      val q = embeddings(spark, d).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      CorpusOps.hybridTopKAgainstIndex(spark, bmPath, ivfPath, "vec_id",
        "embedding", Seq("spark", "vector", "window", "hash", "merge",
          "customer"), q, candidates = 50, k = 10)
    }
    show("ivf_semantic_gate (expect per-arrival probe-cell explode, cell equi-join against the layout — exact cosine only on probed rows, no cross, fully stateless)") {
      import graft.operators.VectorOps
      val ivfPath = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_hyb_ivf").toString
      val wave = embeddings(spark, d).filter(col("vec_id") % 2 =!= 0)
        .select((col("vec_id") + 1000000L).as("wid"),
          col("embedding").as("wvec"))
      VectorOps.ivfSemanticGate(wave, "wvec", "wid", ivfPath,
        "embedding", "vec_id", 0.3, nprobe = 4)
    }
    show("sql_tvf_distance_join (expect the DataFrame grid plan — cell equi-join, no cross — reached from spark.sql)") {
      graft.plans.GraftExtensions.registerFunctions(spark)
      customerPts(spark, d).createOrReplaceTempView("plans_cust_pts")
      supplierPts(spark, d).createOrReplaceTempView("plans_supp_pts")
      spark.sql(
        """SELECT c_custkey, s_suppkey
          |FROM graft_distance_join('plans_cust_pts', 'plans_supp_pts',
          |                         'cx,cy', 'sx,sy', 100.0)""".stripMargin)
    }
    show("spatial_disk_delete_box (expect the admitted tombstone ids LEFT-ANTI-joined off the PRUNED scan — PartitionFilters INSET still on __graft_cell, tombstones never widen the read)") {
      val delPath = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_sp_del").toString
      graft.index.SpatialDisk.write(customerPts(spark, d), delPath,
        Seq("cx", "cy"))
      graft.index.SpatialDisk.delete(spark, delPath,
        customerPts(spark, d).filter(col("c_custkey") % 10 === 3)
          .select("c_custkey"), "c_custkey")
      graft.index.SpatialDisk.boxRange(spark, delPath,
        Array(2000.0, 100.0), Array(4000.0, 300.0))
    }
    show("spatial_disk_delete_knn (expect the stats-walk circle scan over DECREMENTED counts with the same tombstone anti-join — the guaranteed radius covers k LIVE rows)") {
      val delPath = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_sp_del").toString
      graft.index.SpatialDisk.knn(spark, delPath,
        Array(5000.0, 500.0), 10, Seq("c_custkey"))
    }
    show("spatial_disk_delete_mixed_box (expect TWO wave-sized LEFT-ANTI joins off the pruned scan — the located (id, cell) wave first, then the ids-only wave — no cross anywhere; the read stays the pruned sliver)") {
      val delPath = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_sp_del").toString
      graft.index.SpatialDisk.deleteAt(spark, delPath,
        customerPts(spark, d).filter(col("c_custkey") % 10 === 7)
          .select("c_custkey", "cx", "cy"), "c_custkey")
      graft.index.SpatialDisk.boxRange(spark, delPath,
        Array(2000.0, 100.0), Array(4000.0, 300.0))
    }
    show("ivfpq_tombstoned_topk (expect the admitted tombstone ids anti-joined on the PROBED-CELL code sliver — never the table; the explicit-path pruned read underneath)") {
      import graft.operators.VectorOps
      import graft.operators.VectorOps._
      val delPath = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_ivfpq_del").toString
      embeddings(spark, d).writeIvfPq(delPath, "embedding", "vec_id",
        nlist = 8, m = 4, ksub = 4, iters = 2)
      VectorOps.deleteFromIvfPq(spark, delPath,
        embeddings(spark, d).filter(col("vec_id") % 7 === 0)
          .select(col("vec_id")), "vec_id")
      val q = embeddings(spark, d).filter(col("vec_id") === 1L)
        .head().getSeq[Float](1).toArray
      VectorOps.readIvfPqTopK(spark, delPath, "embedding", "vec_id", q, 10,
        nprobe = 4, refine = 40)
    }
    show("shape_distance_join (expect both sides exploded to bbox cells — left r-dilated — equi-join on the cell, no cross; reference-point filter + codegen'd shape_min_dist refine)") {
      import graft.spatial.ShapeCodec
      val ncx = col("n_nationkey").cast("double") * 400.0
      val ncy = col("n_nationkey").cast("double") * 40.0
      val boxes = nation(spark, d).select(col("n_nationkey"),
        struct(lit(ShapeCodec.TagMBR).as("tag"),
          array(ncx - 150.0, ncy - 20.0, ncx + 150.0, ncy + 20.0).as("coords"))
          .as("nbox"))
      val pts = customerPts(spark, d).select(col("c_custkey"),
        struct(lit(ShapeCodec.TagPoint).as("tag"),
          array(col("cx"), col("cy")).as("coords")).as("cpt"))
      boxes.shapeDistanceJoin(pts, "nbox", "cpt", 100.37)
    }
    locally {
      import graft.spatial.ShapeCodec
      val ncx = col("n_nationkey").cast("double") * 400.0
      val ncy = col("n_nationkey").cast("double") * 40.0
      val boxes = nation(spark, d).select(col("n_nationkey"),
        struct(lit(ShapeCodec.TagMBR).as("tag"),
          array(ncx - 150.0, ncy - 20.0, ncx + 150.0, ncy + 20.0).as("coords"))
          .as("nbox"))
      val pts = customerPts(spark, d).select(col("c_custkey"),
        struct(lit(ShapeCodec.TagPoint).as("tag"),
          array(col("cx"), col("cy")).as("coords")).as("cpt"))
      show("shape_knn_join (expect the theta pass's checkpointed top-k; a union with the PBSM rescue branch only when some left is starved)") {
        boxes.shapeKnnJoin(pts, "nbox", "cpt", 3, "n_nationkey",
          tieBreak = Seq("c_custkey"))
      }
      // Seeded starvation (radius safety 0.05): the starved branch is
      // the one rescue pass, never a cross
      show("shape_knn_join_rescue (expect the union's starved branch: box_reach per-left bounds dilating the left boxes, clamped to the right extent's scalar subquery, the PBSM cell join, the bound filter and a row_number window — no CartesianProduct or BroadcastNestedLoopJoin)") {
        boxes.shapeKnnJoin(pts, "nbox", "cpt", 3, "n_nationkey",
          tieBreak = Seq("c_custkey"), safety = 0.05)
      }
    }
    show("knn_join_rescue (expect the union's starved branch: the knn_rescue kernel's per-left bound and Voronoi cells exploded on the starved lefts, joined on __graft_lvc = __graft_rvc to the rights' pivot_argmin cells, the bound filter and a row_number window — no CartesianProduct or BroadcastNestedLoopJoin)") {
      customerPts(spark, d).knnJoin(supplierPts(spark, d), Seq("cx", "cy"), Seq("sx", "sy"),
        3, "c_custkey", Seq("s_suppkey"), safety = 0.05)
    }
    show("phrase_bool (expect ONE term-pruned posting sliver — PushedFilters In(term, all query terms) — feeding per-alternative conjunctive aggs; adjacency text read only via the pushed id IN; OR = union distinct, AND = semi-join chain)") {
      import graft.operators.CorpusOps
      import graft.operators.CorpusOps._
      val bmPath = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_bm25_bool").toString
      documents(spark, d).writeBm25Index(bmPath, "doc_id", "text")
      CorpusOps.phraseBoolMatchAgainstIndex(spark, bmPath,
        documents(spark, d), "text",
        Seq(Seq(Seq("the", "spark"), Seq("hash", "join")),
          Seq(Seq("big", "table"), Seq("customer"))))
    }
    show("bm25_query_join (expect ONE term-pruned posting scan — PushedFilters In(term, all queries' terms) — joined to the query table, decimal partial-agg per (qid, id), WindowGroupLimit top-k; no per-query scans)") {
      import graft.operators.CorpusOps
      import graft.operators.CorpusOps._
      import spark.implicits._
      val bmPath = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_bm25_qjoin").toString
      documents(spark, d).writeBm25Index(bmPath, "doc_id", "text")
      val queries = Seq((1L, "spark"), (1L, "vector"), (2L, "customer"),
        (2L, "hash")).toDF("qid", "term")
      CorpusOps.bm25TopKJoinAgainstIndex(spark, bmPath, queries,
        "qid", "term", 5)
    }
    show("hybrid_query_join (expect the query-join bm25 stage + ONE vector-layout scan with the candidate id IN pushed — raw vectors read for <= candidates rows — then the qid-keyed cosine re-rank window)") {
      import graft.operators.CorpusOps
      import graft.operators.CorpusOps._
      import graft.operators.VectorOps._
      import spark.implicits._
      val bmPath = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_bm25_qjoin").toString
      val ivfPath = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_plans_hyb_qjoin_ivf").toString
      documents(spark, d).writeBm25Index(bmPath, "doc_id", "text")
      embeddings(spark, d).writeIvfPq(ivfPath, "embedding", "vec_id",
        nlist = 8, m = 4, ksub = 4, iters = 2)
      val queries = Seq((1L, "spark"), (1L, "vector"), (2L, "customer"),
        (2L, "hash")).toDF("qid", "term")
      val qv = embeddings(spark, d).filter(col("vec_id") < 2)
        .select((col("vec_id") + 1L).as("qid"), col("embedding").as("qv"))
      CorpusOps.hybridTopKJoinAgainstIndex(spark, bmPath, ivfPath,
        queries, qv, "qid", "term", "qv", "vec_id", "embedding", 20, 5)
    }
    show("wkb_roundtrip_range (expect the codegen'd shape_to_wkb/wkb_to_shape pair inlined in one WholeStageCodegen filter over the scan — no UDF, no extra exchange)") {
      import graft.functions._
      customerPts(spark, d)
        .withColumn("wkb", stAsWkb(stPoint(col("cx"), col("cy"))))
        .filter(stIntersects(stFromWkb(col("wkb")),
          stShape(graft.spatial.MBR(graft.spatial.Point(2000.0, 100.0),
            graft.spatial.Point(4000.0, 300.0)))))
        .select(col("c_custkey"))
    }
    spark.stop()
  }
}
