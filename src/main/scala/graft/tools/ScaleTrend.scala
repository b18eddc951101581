package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.operators.DedupOps._
import graft.operators.SpatialOps._

/** Scale-trend evidence (VERDICT r6 #5): the 2x bench bar is measured at
  * sf0.1; this main measures the same headline operators at a ~10x slice
  * synthesized from sf0.1 and reports the observed scaling exponent
  * e = log10(t_10x / t_1x) — near-linear plans should read e ≈ 1.
  *
  * The slice models "more data over more space" (the 100 TB shape —
  * constant density, like more days of the same feed), NOT densification:
  *  - spatial replicas keep every point's local neighborhood by shifting
  *    whole replicas apart in x (offset > the data's full x-span), with
  *    ids offset per replica;
  *  - document replicas get per-replica `translate` of the vowels so
  *    cross-replica texts are NOT near-dups (within-replica near-dup
  *    structure is preserved) and ids offset per replica.
  * Both sides of every join are replicated, so total work for a linear
  * plan grows ~10x (the naive cross plans would grow ~100x).
  */
object ScaleTrend {

  private val IdOffset = 100000000L
  private val XOffset = 12000.0 // > customer cx span (~11k), replicas stay disjoint

  private def custRep(s: SparkSession, d: String, n: Int, prefix: String): DataFrame =
    (0 until n).map { r =>
      customerPts(s, d).select(
        (col("c_custkey") + lit(r * IdOffset)).as(s"${prefix}id"),
        (col("cx") + lit(r * XOffset)).as(s"${prefix}x"),
        col("cy").as(s"${prefix}y"))
    }.reduce(_ unionByName _)

  private def suppRep(s: SparkSession, d: String, n: Int): DataFrame =
    (0 until n).map { r =>
      supplierPts(s, d).select(
        (col("s_suppkey") + lit(r * IdOffset)).as("rid"),
        (col("sx") + lit(r * XOffset)).as("rx"),
        col("sy").as("ry"))
    }.reduce(_ unionByName _)

  /** Replica r's vowel translation: the base-26 digits of r plus a
    * parity digit (a distance-2 code over the 5 targets), so ANY two
    * replicas differ in at least two vowel mappings and cross-replica
    * texts stay far below the 0.8-shingle near-dup threshold — holds
    * for any replication factor (the r7 fixed 10-map list crashed the
    * 100x slice). r = 0 is the identity: the 1x slice IS the raw
    * corpus, so 1x entries match the bench's. */
  private def vowelMap(r: Int): String =
    if (r == 0) "aeiou"
    else {
      val d = Array(r % 26, (r / 26) % 26, (r / 676) % 26, (r / 17576) % 26)
      (d :+ (d.sum % 26)).map(x => ('a' + x).toChar).mkString
    }

  private def docsRep(s: SparkSession, d: String, n: Int): DataFrame =
    (0 until n).map { r =>
      documents(s, d).select(
        (col("doc_id") + lit(r * IdOffset)).as("doc_id"),
        translate(col("text"), "aeiou", vowelMap(r)).as("text"))
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def b4l(n: Int): Long =
      custRep(spark, d, n, "l").distanceJoin(custRep(spark, d, n, "m"),
        Seq("lx", "ly"), Seq("mx", "my"), 50.0).count()
    def b5(n: Int): Long =
      custRep(spark, d, n, "l").knnJoin(suppRep(spark, d, n),
        Seq("lx", "ly"), Seq("rx", "ry"), 3, "lid", Seq("rid")).count()
    def b5p(n: Int): Long =
      custRep(spark, d, n, "l").knnJoinPivot(suppRep(spark, d, n),
        Seq("lx", "ly"), Seq("rx", "ry"), 3, "lid", Seq("rid")).count()
    def b5z(n: Int): Long =
      custRep(spark, d, n, "l").zknnJoin(suppRep(spark, d, n),
        Seq("lx", "ly"), Seq("rx", "ry"), 3, "lid", "rid", Seq("rid")).count()
    def b7(n: Int): Long =
      docsRep(spark, d, n).minHashPairs("doc_id", "text", shingle = 3,
        numHashes = 64, bands = 16, threshold = 0.8, maxBucket = 1000).count()
    // decontamination sweep over the replicated corpus: both the corpus
    // and the stand-in benchmark set grow with the slice (the same %7
    // split as the driver query); cross-replica grams differ (vowel
    // translation), so matched pairs grow ~n, not n^2
    def b8d(n: Int): Long = {
      val docs = docsRep(spark, d, n)
      val eval = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("eval_id"), col("text"))
      graft.operators.DedupOps.contaminationPairs(
        docs.filter(col("doc_id") % 7 =!= 0), broadcast(eval),
        "doc_id", "eval_id", "text", n = 8).count()
    }

    // corpus boilerplate over the replicated corpus: each replica's
    // vowel translation makes cross-replica grams distinct, so the
    // document-frequency table grows ~n and matched grams stay within
    // a replica — the 100-TB shape (per-shard boilerplate)
    def b8b(n: Int): Long = {
      import graft.operators.CorpusOps._
      docsRep(spark, d, n).boilerplateScore("doc_id", "text", n = 5, minDocs = 2L)
        .count()
    }

    // as-of join over replicated events: each replica shifts BOTH its
    // user ids and its timestamps, so key cardinality grows ~n with
    // per-key timeline sizes constant — the 100-TB shape (more users,
    // not densified users). One shuffle + per-key window reads e ≈ 1.
    def b11(n: Int): Long = {
      import graft.operators.TemporalOps._
      val span = 3600L * 24 * 40 // > the events table's ~31-day span, s
      val ev = (0 until n).map { r =>
        events(spark, d).select(
          (col("event_id") + lit(r * IdOffset)).as("event_id"),
          (col("user_id") + lit(r * IdOffset)).as("user_id"),
          (col("ts") + expr(s"INTERVAL ${r.toLong * span} SECOND")).as("ts"),
          col("event_type"), col("value"))
      }.reduce(_ unionByName _)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"),
          col("event_id").as("p_event_id"), col("value").as("p_value"))
      clicks.asOfJoin(purchases, Seq("user_id"), Seq("user_id"),
        "ts", "p_ts", "p_event_id").count()
    }

    // unigram LM scoring over the replicated corpus: vowel translation
    // multiplies the vocabulary ~n-fold while per-replica count shapes
    // stay constant — the count table and the token-keyed score join
    // both grow ~n, so a healthy plan reads e ≈ 1
    def b8u(n: Int): Long = {
      import graft.operators.CorpusOps._
      docsRep(spark, d, n).unigramScore("doc_id", "text").count()
    }

    // embedding replicas for the clustering trend: replica r multiplies
    // every vector elementwise by a deterministic ±1 sign pattern.
    // Sign flips preserve norms and WITHIN-replica pairwise dot
    // products exactly (s_i^2 = 1), while independent patterns
    // decorrelate CROSS-replica cosines toward 0 — replicas are
    // disjoint similarity neighborhoods, the "more shards of the same
    // corpus" shape. r = 0 is the identity (1x == the bench's data).
    def embRep(n: Int): DataFrame = {
      import graft.operators.VectorOps._
      (0 until n).map { r =>
        val base = embeddings(spark, d).select(
          (col("vec_id") + lit(r * IdOffset)).as("vec_id"), col("embedding"))
        if (r == 0) base
        else {
          val rng = new scala.util.Random(1000 + r)
          val signs = array(Array.fill(64)(lit(
            if (rng.nextBoolean()) 1.0f else -1.0f)).toIndexedSeq: _*)
          base.select(col("vec_id"),
            zip_with(col("embedding"), signs, (x, sg) => x * sg).as("embedding"))
        }
      }.reduce(_ unionByName _)
    }

    // k-means over the replicated embeddings: k grows with the slice
    // (k = 8n — the SemDeDup configuration, constant expected cluster
    // size; a fixed k at 10x data would measure 10x-fatter cells, not
    // the operator). Per iteration: one scan (argmin over the literal
    // centroid array) + a (k*dim)-key partial-combined aggregation.
    def b6k(n: Int): Long = {
      import graft.operators.VectorOps._
      embRep(n).kmeansAssign("embedding", "vec_id", k = 8 * n, iters = 2).count()
    }

    // semantic dedup on those blocks: within-cell pairs only; constant
    // cell size -> pair volume ~n and the verify join ~n
    def b6sd(n: Int): Long = {
      import graft.operators.VectorOps._
      embRep(n).semanticDedupPairs("embedding", "vec_id", k = 8 * n,
        threshold = 0.8).count()
    }

    // BM25 over the replicated corpus: the stats aggregation and the
    // scoring scan both grow ~n; the term set is fixed, so df work per
    // row is constant (vowel-translated replicas simply miss the terms)
    def b8r(n: Int): Long = {
      import graft.operators.CorpusOps._
      docsRep(spark, d, n).bm25TopK("doc_id", "text",
        Seq("spark", "vector", "window", "hash", "merge", "customer"), 20).count()
    }

    // semantic decontamination over sign-flip embedding replicas: corpus
    // AND eval both grow ~n. At this threshold (0.3 ≈ 2.4σ of the
    // decorrelated cross-replica cosine) a small tail of cross-replica
    // pairs passes, so the MATCHED set grows ~n² in the synthetic slice
    // (measured ~100x at 10x) — the same harness artifact as the n-gram
    // contamination 100x note — while the banded candidate work stays
    // data-proportional; the runtime exponent is the claim under test
    def b8sc(n: Int): Long = {
      import graft.operators.VectorOps._
      val emb = embRep(n)
      emb.filter(col("vec_id") % 7 =!= 0).semanticContaminationAgainst(
        emb.filter(col("vec_id") % 7 === 0)
          .select(col("vec_id").as("eval_id"), col("embedding").as("eval_emb")),
        "embedding", "vec_id", "eval_emb", "eval_id", threshold = 0.3).count()
    }

    // certified quantiles over replicated lineitem: same 3 groups, rows
    // x n — per-group sort grows n log n, so a healthy window plan reads
    // e slightly above but near 1
    def b9q(n: Int): Long = {
      import graft.operators.StatsOps._
      val li = (0 until n).map { r =>
        lineitem(spark, d).select(col("l_returnflag"),
          col("l_extendedprice") + lit(r * 0.0))
          .toDF("l_returnflag", "l_extendedprice")
      }.reduce(_ unionByName _)
      li.quantileStats("l_returnflag", "l_extendedprice",
        Seq(0.25, 0.5, 0.75, 0.95)).count()
    }

    // DSIR importance weights over the replicated corpus: the vowel
    // translation grows BOTH vocab tables ~n (target slice = the %3
    // stand-in, same per-replica share); the token-keyed score join and
    // the doc-keyed sum grow ~n — a healthy plan reads e ≈ 1
    def b8i(n: Int): Long = {
      import graft.operators.CorpusOps._
      docsRep(spark, d, n)
        .importanceWeights("doc_id", "text", col("doc_id") % 3 === 0).count()
    }

    // BPE pair stats over the replicated corpus: the token-stream scan
    // and the vocab collapse grow ~n; the pair table is alphabet-bounded
    // (the vowel translation maps letters to letters), so the weighted
    // pair aggregation's key space is CONSTANT — e ≈ 1 measures the scan
    def b8e(n: Int): Long = {
      import graft.operators.CorpusOps._
      docsRep(spark, d, n).bpePairStats("text", topN = 50).count()
    }

    // PQ ANN over sign-flip embedding replicas: training scans grow ~n
    // with a FIXED (dim * ksub)-key aggregation; ADC scoring is one
    // shuffle-free scan; the refine/re-rank is constant-size
    def b6pq(n: Int): Long = {
      import graft.operators.VectorOps._
      val emb = embRep(n)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      emb.cosineTopKPq("embedding", "vec_id", q, 10,
        m = 4, ksub = 4, refine = 50, iters = 2).count()
    }

    // passage dedup over the replicated corpus: the vowel translation
    // keeps cross-replica passages distinct, so the first-occurrence
    // table grows ~n and within-replica duplication structure is
    // preserved — both shuffles (digest-keyed, id-keyed) grow ~n
    def b8pd(n: Int): Long = {
      import graft.operators.CorpusOps._
      docsRep(spark, d, n).passageDedup("doc_id", "text", width = 20).count()
    }

    // bigram quality over the replicated corpus: vocabulary and bigram
    // count tables grow ~n (translated replicas share no tokens), the
    // token-keyed joins and doc sums grow ~n — a healthy plan reads e≈1
    def b8bg(n: Int): Long = {
      import graft.operators.CorpusOps._
      docsRep(spark, d, n).bigramScore("doc_id", "text").count()
    }

    // integer PageRank over replicated purchase graphs: replica r
    // offsets BOTH endpoints, so the slice is n disjoint copies of the
    // graph (n-fold nodes and edges, constant degree structure — the
    // 100-TB shape). Each iteration's equi-join + contribution agg
    // grows ~n; dst base 5e7 keeps src/dst ranges disjoint within and
    // across replicas at any n here
    def b8pr(n: Int): Long = {
      val e = (0 until n).map { r =>
        lineitem(spark, d).select(
          (col("l_suppkey") + lit(r * IdOffset)).as("src"),
          (col("l_partkey") + lit(50000000L + r * IdOffset)).as("dst"))
      }.reduce(_ unionByName _).distinct()
      graft.operators.GraphOps.pageRank(e, "src", "dst", iters = 3).count()
    }

    // triangle counting over offset-disjoint part co-occurrence
    // replicas: edges, wedges, and triangles all grow ~n (replicas
    // share no nodes), so the oriented wedge join is what scales
    def b8tc(n: Int): Long = {
      val li = (0 until n).map { r =>
        lineitem(spark, d).select(
          (col("l_orderkey") + lit(r * IdOffset)).as("ok"),
          (col("l_partkey") + lit(r * IdOffset)).as("pk"))
      }.reduce(_ unionByName _)
      val pairs = li.as("x").join(li.as("y"), Seq("ok"))
        .filter(col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
      graft.operators.GraphOps.triangleCounts(pairs, "src", "dst").count()
    }

    // inverted index over the replicated corpus: translated replicas
    // share no tokens, so terms grow ~n while per-term df/postings stay
    // fixed — the (term, doc) agg and the WindowGroupLimit cap are what
    // the trend measures
    def b8ii(n: Int): Long = {
      import graft.operators.CorpusOps._
      docsRep(spark, d, n).invertedIndex("doc_id", "text", maxPostings = 20)
        .count()
    }

    // PCA over replicated embeddings: the Gram scan grows ~n while the
    // shuffle stays d^2/2 cells and the driver work is constant — the
    // one-scan aggregation is what the trend certifies
    def b6pc(n: Int): Long = {
      import graft.operators.VectorOps._
      embRep(n).principalComponents("embedding", "vec_id", k = 2).count()
    }

    // exact span dedup over the replicated corpus: translated replicas
    // share almost no grams, so occurrences AND duplicate groups grow
    // ~n — the min(struct) first-occurrence agg is what the trend
    // certifies (within-replica duplication replicates n-fold)
    def b8xd(n: Int): Long = {
      graft.operators.DedupOps.dedupRepeatedSpans(
        docsRep(spark, d, n), "doc_id", "text", n = 8).count()
    }

    // vocab encode over the replicated corpus: the count table grows ~n
    // (translated replicas share no tokens) but the vocab CUT stays
    // fixed at vocabSize — so the OOV share rises while the TakeOrdered
    // cut, encode join, and id reassembly all grow ~n
    def b8ve(n: Int): Long = {
      import graft.operators.CorpusOps._
      docsRep(spark, d, n).vocabEncode("doc_id", "text", vocabSize = 1000)
        .count()
    }

    // span decontamination over the replicated corpus: corpus AND eval
    // grow with the slice (the %7 split); cross-replica grams differ,
    // so matched spans grow ~n and the redaction projection scans ~n
    def b8sd2(n: Int): Long = {
      val docs = docsRep(spark, d, n)
      graft.operators.DedupOps.decontaminateSpans(
        docs.filter(col("doc_id") % 7 =!= 0),
        broadcast(docs.filter(col("doc_id") % 7 === 0)),
        "doc_id", "text", "text", n = 8).count()
    }

    // global sequence packing over the replicated corpus: same sources,
    // n-times the documents per source -> n-times the buckets at the
    // same bucket width; the offset tables stay aggregate-sized. The
    // decomposed two-pass scan should read e ≈ 1 where a naive global
    // window would serialize on one partition.
    def b8sq(n: Int): Long = {
      import graft.operators.CorpusOps._
      // docsRep drops `source`; a synthetic 16-shard key preserves the
      // shape (few groups, n-times the docs per group)
      docsRep(spark, d, n)
        .withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(16))))
        .sequencePackGlobal("source", "doc_id",
          graft.functions.tokenCount(col("text")), capacity = 2048L,
          bucketWidth = 64L).count()
    }

    // at-rest spatial layout (its OWN mode, `ScaleTrend disk`): the box
    // query's cost must track the QUERY's data, not the table's —
    // replicas shift in x, the box hits only replica 0, so the pruned
    // read stays flat while the table grows 10x/100x. Layout builds are
    // untimed (the generic harness would fold the first build into the
    // timed call); cellBits follows data span per the occupancy
    // discipline (cells ∝ n) so the grid keeps resolving replicas.
    // at-rest minhash index (its OWN mode, `ScaleTrend minhashidx`):
    // the dedup GATE's cost must track the WAVE, not the corpus — the
    // index write is the amortized one-time cost (untimed here), the
    // per-wave gate joins a fixed-size wave against a 1x/10x layout
    if (args.headOption.contains("minhashidx")) {
      import graft.operators.DedupOps._
      val wave = documents(spark, d).filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
      for (n <- Seq(1, 10)) {
        val p = s"${System.getProperty("java.io.tmpdir")}/graft_trend_mhidx_$n"
        val t0 = System.nanoTime()
        docsRep(spark, d, n).writeMinhashIndex(p, "doc_id", "text",
          shingle = 3, numHashes = 64, bands = 16)
        val tw = (System.nanoTime() - t0) / 1e9
        def g(): (Double, Long) = {
          val t1 = System.nanoTime()
          val rows = wave.minHashPairsAgainstIndex(p, "doc_id", "text",
            threshold = 0.8, maxBucket = 1000).count()
          ((System.nanoTime() - t1) / 1e9, rows)
        }
        val (ga, rows) = g(); val (gb, _) = g()
        println(f"b7i_minhash_index_gate ${n}%3dx: write $tw%7.2f s, " +
          f"gate ${math.min(ga, gb)}%6.2f s ($rows rows)")
      }
      spark.stop(); return
    }

    // at-rest TEXT layouts (their OWN mode, `ScaleTrend textidx`): the
    // digest and CDC gates' cost must track the WAVE against a growing
    // layout — the write is the amortized one-time cost (reported, not
    // the exponent), the per-wave gate probes a fixed-size wave against
    // a 1x/10x corpus layout. Both gates scan narrow columns only
    // (digests / chunk hashes), so the growth the exponent sees is the
    // layout scan, never corpus text.
    if (args.headOption.contains("textidx")) {
      import graft.operators.DedupOps._
      import graft.operators.CorpusOps._
      val wave = documents(spark, d).filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
      // `textidx 100` measures the second decade (1x vs 100x corpus)
      val scales =
        if (args.lift(1).contains("100")) Seq(1, 100) else Seq(1, 10)
      for (n <- scales) {
        val pd = s"${System.getProperty("java.io.tmpdir")}/graft_trend_dgidx_$n"
        var t0 = System.nanoTime()
        docsRep(spark, d, n).writeDigestIndex(pd, "doc_id", "text")
        val twd = (System.nanoTime() - t0) / 1e9
        def gd(): (Double, Long) = {
          val t1 = System.nanoTime()
          val rows = wave.exactPairsAgainstIndex(pd, "doc_id", "text").count()
          ((System.nanoTime() - t1) / 1e9, rows)
        }
        val (gda, rowsD) = gd(); val (gdb, _) = gd()
        println(f"b7dg_digest_gate ${n}%3dx: write $twd%7.2f s, " +
          f"gate ${math.min(gda, gdb)}%6.2f s ($rowsD rows)")
        // append cost must track the WAVE, not the corpus decade: the
        // id-clash gate is a LOCAL bloom probe in the common no-clash
        // case, so the decade's only O(table)-ish touch is gone
        val w2 = documents(spark, d).filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 950000000L).as("doc_id"), col("text"))
        t0 = System.nanoTime()
        w2.appendDigestIndex(pd, "doc_id", "text")
        val tad = (System.nanoTime() - t0) / 1e9
        println(f"b7dap_digest_append ${n}%3dx: append $tad%6.2f s")
        val pc = s"${System.getProperty("java.io.tmpdir")}/graft_trend_cdcidx_$n"
        t0 = System.nanoTime()
        docsRep(spark, d, n).writeCdcIndex(pc, "doc_id", "text")
        val twc = (System.nanoTime() - t0) / 1e9
        def gc(): (Double, Long) = {
          val t1 = System.nanoTime()
          val rows = wave.cdcPairsAgainstIndex(pc, "doc_id", "text",
            minShared = 1).count()
          ((System.nanoTime() - t1) / 1e9, rows)
        }
        val (gca, rowsC) = gc(); val (gcb, _) = gc()
        println(f"b7cg_cdc_gate ${n}%3dx: write $twc%7.2f s, " +
          f"gate ${math.min(gca, gcb)}%6.2f s ($rowsC rows)")
        // the retrieval layout: a top-k query reads only its terms'
        // postings — those grow O(corpus), but stay 6 terms' slivers
        val pb = s"${System.getProperty("java.io.tmpdir")}/graft_trend_bmidx_$n"
        t0 = System.nanoTime()
        docsRep(spark, d, n)
          .writeBm25Index(pb, "doc_id", "text")
        val twb = (System.nanoTime() - t0) / 1e9
        def gb2(): (Double, Long) = {
          val t1 = System.nanoTime()
          val rows = graft.operators.CorpusOps.bm25TopKAgainstIndex(spark,
            pb, Seq("spark", "vector", "window", "hash", "merge",
              "customer"), 20).count()
          ((System.nanoTime() - t1) / 1e9, rows)
        }
        val (gba, rowsB) = gb2(); val (gbb, _) = gb2()
        println(f"b8ri_bm25_index_topk ${n}%3dx: write $twb%7.2f s, " +
          f"query ${math.min(gba, gbb)}%6.2f s ($rowsB rows)")
      }
      spark.stop(); return
    }

    // BM25 purge-verb cost (`ScaleTrend bm25delete`): one layout per
    // corpus decade, two DISJOINT equal-size 294-doc purge waves —
    // the ids-only verb (its df deltas ride a semi-join over the WHOLE
    // postings table, the one O(table) pass the text layouts had left)
    // vs the located with-text verb (wave tokenization + one
    // vocab-sized dictionary pass + a term-pruned confirm sliver).
    // The located verb's cost must stay near-flat across decades;
    // bit-parity of the two verbs is spec- and oracle-pinned
    // (tx_bm25_delete_text), so the trend measures cost only.
    if (args.headOption.contains("bm25delete")) {
      import graft.operators.CorpusOps._
      val scales =
        if (args.lift(1).contains("100")) Seq(1, 100) else Seq(1, 10)
      for (n <- scales) {
        val p = s"${System.getProperty("java.io.tmpdir")}/graft_trend_bmdel_$n"
        var t0 = System.nanoTime()
        docsRep(spark, d, n).writeBm25Index(p, "doc_id", "text")
        println(f"bm25delete ${n}%3dx: write ${(System.nanoTime() - t0) / 1e9}%7.2f s")
        // replica-0 text is the identity translation — the waves carry
        // the text AS WRITTEN, the located verb's contract
        val w1 = documents(spark, d).filter(col("doc_id") % 17 === 3)
          .select(col("doc_id"), col("text"))
        val w2 = documents(spark, d).filter(col("doc_id") % 17 === 5)
          .select(col("doc_id"), col("text"))
        t0 = System.nanoTime()
        graft.operators.CorpusOps.deleteFromBm25Index(spark, p,
          w1.select(col("doc_id")))
        println(f"bm25delete ${n}%3dx: ids-only  delete-verb " +
          f"${(System.nanoTime() - t0) / 1e9}%6.2f s")
        t0 = System.nanoTime()
        graft.operators.CorpusOps.deleteFromBm25IndexWithText(spark, p,
          w2, "text")
        println(f"bm25delete ${n}%3dx: located   delete-verb " +
          f"${(System.nanoTime() - t0) / 1e9}%6.2f s")
        val rows = graft.operators.CorpusOps.bm25TopKAgainstIndex(spark, p,
          Seq("spark", "vector", "window", "hash", "merge", "customer"),
          20).count()
        println(s"bm25delete ${n}x: post-delete top-20 answers $rows rows")
      }
      spark.stop(); return
    }

    // tombstone-growth trend (`ScaleTrend deletes`): FIXED layouts (10x
    // corpus digest + BM25, 10x embeddings IVF-PQ), the TOMBSTONE set
    // grows ~0.1% -> 1% -> 10% of ids (cumulative delete waves). The
    // design claim under test: tombstoned reads anti-join against
    // already-pruned sides (the wave's digests, the query terms'
    // postings, the probed cells' codes) — never the table — so the
    // per-query cost should stay flat as tombstones grow two decades,
    // and compact is an optimization, not a correctness ritual. The
    // closing compacted measure marks what a fold buys.
    if (args.headOption.contains("deletes")) {
      import graft.operators.DedupOps._
      import graft.operators.CorpusOps._
      import graft.operators.VectorOps._
      import graft.operators.{CorpusOps, VectorOps}
      val corpus = docsRep(spark, d, 10)
      val wave = documents(spark, d).filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
      val terms = Seq("spark", "vector", "window", "hash", "merge",
        "customer")
      val pd = s"${System.getProperty("java.io.tmpdir")}/graft_trend_del_dg"
      val pb = s"${System.getProperty("java.io.tmpdir")}/graft_trend_del_bm"
      val pe = s"${System.getProperty("java.io.tmpdir")}/graft_trend_del_vec"
      corpus.writeDigestIndex(pd, "doc_id", "text")
      corpus.writeBm25Index(pb, "doc_id", "text")
      val emb = embRep(10)
      emb.writeIvfPq(pe, "embedding", "vec_id", nlist = 80, m = 4,
        ksub = 4, iters = 2)
      val q = embeddings(spark, d).filter(col("vec_id") === 1L)
        .head().getSeq[Float](1).toArray
      def mm(f: => Long): (Double, Long) = {
        def once(): (Double, Long) = {
          val t1 = System.nanoTime(); val r = f
          ((System.nanoTime() - t1) / 1e9, r)
        }
        val (a, r) = once(); val (b, _) = once()
        (math.min(a, b), r)
      }
      def measure(tag: String): Unit = {
        val (tg, rg) = mm(
          wave.exactPairsAgainstIndex(pd, "doc_id", "text").count())
        val (tb, rb) = mm(
          CorpusOps.bm25TopKAgainstIndex(spark, pb, terms, 20).count())
        val (tv, rv) = mm(VectorOps.readIvfPqTopK(spark, pe, "embedding",
          "vec_id", q, 10, nprobe = 4, refine = 50).count())
        println(f"deletes $tag%-12s digest_gate $tg%5.2f s ($rg rows), " +
          f"bm25_topk $tb%5.2f s ($rb), ann_topk $tv%5.2f s ($rv)")
      }
      measure("0%")
      for ((mod, tag) <- Seq((1000L, "0.1%"), (100L, "1%"), (10L, "10%"))) {
        var t0 = System.nanoTime()
        deleteFromDigestIndex(spark, pd,
          corpus.select(col("doc_id")).filter(col("doc_id") % mod === 1))
        deleteFromBm25Index(spark, pb,
          corpus.select(col("doc_id")).filter(col("doc_id") % mod === 1))
        VectorOps.deleteFromIvfPq(spark, pe,
          emb.select(col("vec_id")).filter(col("vec_id") % mod === 1),
          "vec_id")
        val td = (System.nanoTime() - t0) / 1e9
        println(f"deletes $tag%-12s delete-verbs $td%5.2f s (cumulative)")
        measure(tag)
      }
      var t0 = System.nanoTime()
      compactDigestIndex(spark, pd)
      CorpusOps.compactBm25Index(spark, pb)
      VectorOps.compactIvfPq(spark, pe)
      val tc = (System.nanoTime() - t0) / 1e9
      println(f"deletes compact-all $tc%5.2f s")
      measure("compacted")
      spark.stop(); return
    }

    // spatial tombstone-growth trend (`ScaleTrend spdeletes`): a FIXED
    // 10x spatial layout, tombstones growing 0.1% -> 1% -> 10% of ids
    // (cumulative waves). Box/kNN/distance-join reads should stay flat
    // (the anti-join rides the pruned sliver; the kNN walk rides the
    // DECREMENTED meta counts, not a data pass); the closing compacted
    // measure marks what a fold buys.
    if (args.headOption.contains("spdeletes")) {
      val p = s"${System.getProperty("java.io.tmpdir")}/graft_trend_spdel"
      val table = custRep(spark, d, 10, "c")
      graft.index.SpatialDisk.write(table, p, Seq("cx", "cy"), cellBits = 7)
      val wave = suppRep(spark, d, 1).limit(500)
      def mm(f: => Long): (Double, Long) = {
        def once(): (Double, Long) = {
          val t1 = System.nanoTime(); val r = f
          ((System.nanoTime() - t1) / 1e9, r)
        }
        val (a, r) = once(); val (b, _) = once()
        (math.min(a, b), r)
      }
      def measure(tag: String): Unit = {
        val (tb, rb) = mm(graft.index.SpatialDisk.boxRange(spark, p,
          Array(2000.0, 100.0), Array(4000.0, 300.0)).count())
        val (tk, rk) = mm(graft.index.SpatialDisk.knn(spark, p,
          Array(5000.0, 500.0), 10, Seq("cid")).count())
        val (tj, rj) = mm(graft.index.SpatialDisk.knnJoin(wave,
          Seq("rx", "ry"), p, 3, leftId = "rid",
          tieBreak = Seq("cid")).count())
        println(f"spdeletes $tag%-12s box $tb%5.2f s ($rb rows), " +
          f"knn $tk%5.2f s ($rk), knn_join $tj%5.2f s ($rj)")
      }
      measure("0%")
      for ((mod, tag) <- Seq((1000L, "0.1%"), (100L, "1%"), (10L, "10%"))) {
        val t0 = System.nanoTime()
        graft.index.SpatialDisk.delete(spark, p,
          table.select(col("cid")).filter(col("cid") % mod === 1), "cid")
        val td = (System.nanoTime() - t0) / 1e9
        println(f"spdeletes $tag%-12s delete-verb $td%5.2f s (cumulative)")
        measure(tag)
      }
      val t0 = System.nanoTime()
      graft.index.SpatialDisk.compact(p, spark)
      println(f"spdeletes compact ${(System.nanoTime() - t0) / 1e9}%5.2f s")
      measure("compacted")
      spark.stop(); return
    }

    // located vs ids-only purge cost (`ScaleTrend spdeleteat`): the
    // SAME fixed 10x layout as spdeletes (cellBits 7 -> 16,384 cell
    // dirs); equal-size purge waves through each verb. The ids-only
    // verb pays the documented O(table) (id, cell) pass (file-open
    // bound at 16k small dirs — ~30 s regardless of wave size); the
    // located verb's presence check reads ONLY the claimed cell
    // directories, so its cost must track the WAVE. The closing parity
    // count pins that the cheaper path deletes exactly the same rows.
    if (args.headOption.contains("spdeleteat")) {
      val p = s"${System.getProperty("java.io.tmpdir")}/graft_trend_spdelat"
      val table = custRep(spark, d, 10, "c")
      graft.index.SpatialDisk.write(table, p, Seq("cx", "cy"), cellBits = 7)
      var t0 = System.nanoTime()
      graft.index.SpatialDisk.delete(spark, p,
        table.select(col("cid")).filter(col("cid") % 1000 === 1), "cid")
      println(f"spdeleteat ids-only  delete-verb " +
        f"${(System.nanoTime() - t0) / 1e9}%6.2f s")
      t0 = System.nanoTime()
      graft.index.SpatialDisk.deleteAt(spark, p,
        table.filter(col("cid") % 1000 === 2), "cid")
      println(f"spdeleteat located   delete-verb " +
        f"${(System.nanoTime() - t0) / 1e9}%6.2f s")
      // a second located wave: steady reading once JIT/FS caches warm
      t0 = System.nanoTime()
      graft.index.SpatialDisk.deleteAt(spark, p,
        table.filter(col("cid") % 1000 === 3), "cid")
      println(f"spdeleteat located2  delete-verb " +
        f"${(System.nanoTime() - t0) / 1e9}%6.2f s")
      // region purge: one small box (~0.2% of the 10x x-span) — the
      // verb's cost must track the REGION's cells, not the 16k-dir
      // layout (the region scan prunes exactly as a boxRange does)
      t0 = System.nanoTime()
      graft.index.SpatialDisk.deleteBox(spark, p,
        Array(5000.0, 100.0), Array(5250.0, 300.0), "cid")
      println(f"spdeleteat region    delete-verb " +
        f"${(System.nanoTime() - t0) / 1e9}%6.2f s")
      val live = graft.index.SpatialDisk.boxRange(spark, p,
        Array(-1e9, -1e9), Array(1e9, 1e9)).count()
      val want = table.filter(col("cid") % 1000 =!= 1 &&
        col("cid") % 1000 =!= 2 && col("cid") % 1000 =!= 3 &&
        !(col("cx").between(5000.0, 5250.0) &&
          col("cy").between(100.0, 300.0))).count()
      println(s"spdeleteat parity: live=$live want=$want " +
        (if (live == want) "OK" else "MISMATCH"))
      spark.stop(); return
    }

    // at-rest ANN JOIN (`ScaleTrend annjoin [100]`): a FIXED query wave
    // joins its top-k out of a GROWING IVF-PQ layout. nlist grows with
    // the corpus (8n — constant expected cell population, the SemDeDup
    // configuration) and nprobe stays fixed, so per-query probed rows
    // are ~constant per decade. The r12 probed-cell literal pruning
    // bites once nlist >> |wave| * nprobe — exactly the 100-TB regime
    // (2^16 cells vs a few-hundred-query wave) — so the fixture's wave
    // is SMALL (~21 queries x 4 probes = <=84 cells): the first decade
    // (8 -> 80 cells) still scans most of the layout and may grow; the
    // SECOND decade (80 -> 800 cells, <=84 probed) is where both layout
    // reads must go near-flat. The write is the amortized one-time
    // cost (reported, not the exponent).
    if (args.headOption.contains("annjoin")) {
      import graft.operators.VectorOps._
      val wave = embeddings(spark, d).filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") + 900000000L).as("qid"),
          col("embedding").as("qvec"))
      val scales =
        if (args.lift(1).contains("100")) Seq(1, 100) else Seq(1, 10)
      for (n <- scales) {
        val p = s"${System.getProperty("java.io.tmpdir")}/graft_trend_annj_$n"
        var t0 = System.nanoTime()
        embRep(n).writeIvfPq(p, "embedding", "vec_id", nlist = 8 * n,
          m = 4, ksub = 4, iters = 2)
        val tw = (System.nanoTime() - t0) / 1e9
        def q(): (Double, Long) = {
          val t1 = System.nanoTime()
          val rows = graft.operators.VectorOps.readIvfPqTopKJoin(wave,
            "qvec", "qid", p, "embedding", "vec_id", k = 3, nprobe = 4,
            refine = 50).count()
          ((System.nanoTime() - t1) / 1e9, rows)
        }
        val (qa, rows) = q(); val (qb, _) = q()
        println(f"b6vd_ann_join_disk ${n}%3dx: write $tw%7.2f s, " +
          f"join ${math.min(qa, qb)}%6.2f s ($rows rows)")
        // append cost must track the WAVE, not the corpus decade: the
        // id-clash gate is a LOCAL bloom probe in the common no-clash
        // case (r13 — previously an O(table) id semi-join per wave)
        val w2 = embeddings(spark, d).filter(col("vec_id") % 89 === 0)
          .select((col("vec_id") + 950000000L).as("vec_id"),
            col("embedding"))
        t0 = System.nanoTime()
        w2.appendIvfPq(p, "embedding", "vec_id")
        val ta = (System.nanoTime() - t0) / 1e9
        println(f"b10ya_ivfpq_append ${n}%3dx: append $ta%6.2f s")
      }
      spark.stop(); return
    }

    if (args.headOption.contains("disk")) {
      for ((n, cb) <- Seq((1, 5), (10, 5), (100, 7))) {
        val p = s"${System.getProperty("java.io.tmpdir")}/graft_trend_disk_$n"
        val t0 = System.nanoTime()
        graft.index.SpatialDisk.write(custRep(spark, d, n, "c"), p,
          Seq("cx", "cy"), cellBits = cb)
        val tw = (System.nanoTime() - t0) / 1e9
        def q(): (Double, Long) = {
          val t1 = System.nanoTime()
          val rows = graft.index.SpatialDisk.boxRange(spark, p,
            Array(2000.0, 100.0), Array(4000.0, 300.0)).count()
          ((System.nanoTime() - t1) / 1e9, rows)
        }
        val (qa, rows) = q(); val (qb, _) = q()
        println(f"b1d_box_range_disk ${n}%3dx cellBits=$cb: " +
          f"write $tw%7.2f s, query ${math.min(qa, qb)}%6.2f s ($rows rows)")
        // kNN JOIN against the growing layout: the query set stays
        // replica-0-sized, so per-left radii SHRINK as density grows
        // (cell stats adapt) and the pruned read must stay ~flat while
        // the table grows 10x/100x
        def kj(): (Double, Long) = {
          val t1 = System.nanoTime()
          val rows = graft.index.SpatialDisk.knnJoin(
            suppRep(spark, d, 1).limit(500), Seq("rx", "ry"), p, 3,
            leftId = "rid", tieBreak = Seq("cid")).count()
          ((System.nanoTime() - t1) / 1e9, rows)
        }
        val (ka, kRows) = kj(); val (kb, _) = kj()
        println(f"b5d_knn_join_disk  ${n}%3dx cellBits=$cb: " +
          f"query ${math.min(ka, kb)}%6.2f s ($kRows rows)")
        def k1(): (Double, Long) = {
          val t1 = System.nanoTime()
          val rows = graft.index.SpatialDisk.knn(spark, p,
            Array(5000.0, 500.0), 10, Seq("cid")).count()
          ((System.nanoTime() - t1) / 1e9, rows)
        }
        val (na, nRows) = k1(); val (nb, _) = k1()
        println(f"b3d_knn_disk       ${n}%3dx cellBits=$cb: " +
          f"query ${math.min(na, nb)}%6.2f s ($nRows rows)")
      }
      spark.stop(); return
    }

    // spatio-temporal co-location over TIME-shifted event replicas:
    // replica r shifts ts past the table's span, so replicas never
    // co-locate in time whatever their spatial overlap — per-window
    // density is constant (the "more days of the same feed" shape) and
    // the one (space, time)-cell equi-join should read e ≈ 1
    def b4st(n: Int): Long = {
      val span = 3600L * 24 * 40 // > the events table's ~31-day span, s
      val ev = (0 until n).map { r =>
        eventsPts(spark, d).select(
          (col("event_id") + lit(r * IdOffset)).as("event_id"),
          (col("ts") + expr(s"INTERVAL ${r.toLong * span} SECOND")).as("ts"),
          col("ex"), col("ey"))
      }.reduce(_ unionByName _)
      val rSide = ev.select(col("event_id").as("event_id2"),
        col("ts").as("ts2"), col("ex").as("ex2"), col("ey").as("ey2"))
      ev.spatioTemporalJoin(rSide, Seq("ex", "ey"), Seq("ex2", "ey2"),
          "ts", "ts2", r = 5.0, dtMillis = 300000L)
        .filter(col("event_id") < col("event_id2")).count()
    }

    // PBSM intersects join over shifted replicas: boxes shift with
    // their centers, replicas stay disjoint in x, so true overlaps —
    // and the reference-point-deduped pair work — grow ~n
    def b4x(n: Int): Long = {
      import graft.spatial.ShapeCodec
      val lb = suppRep(spark, d, n).select(col("rid"),
        struct(lit(ShapeCodec.TagMBR).as("tag"),
          array(col("rx") - 500.0, col("ry") - 80.0,
            col("rx") + 500.0, col("ry") + 80.0).as("coords")).as("lbox"))
      val rb = custRep(spark, d, n, "c").select(col("cid"),
        struct(lit(ShapeCodec.TagMBR).as("tag"),
          array(col("cx") - 50.0, col("cy") - 8.0,
            col("cx") + 50.0, col("cy") + 8.0).as("coords")).as("rbox"))
      lb.shapeIntersectsJoin(rb, "lbox", "rbox").count()
    }

    // epoch shuffle over the replicated corpus: shard count fixed at 8,
    // rows grow ~n — ONE hash exchange + per-shard sorts, so e ≈ 1
    // (the n log n sort term is invisible at these decades)
    def b8es(n: Int): Long = {
      import graft.operators.SampleOps._
      docsRep(spark, d, n).epochShuffle("doc_id", epoch = 1, numShards = 8)
        .count()
    }

    // heavy n-grams over the replicated corpus: translated replicas
    // share no grams, so distinct grams AND heavy grams grow ~n; the
    // sketch pass's agg state stays width-bounded while both scans
    // grow ~n — e ≈ 1
    def b8hh(n: Int): Long = {
      import graft.operators.CorpusOps._
      docsRep(spark, d, n).heavyNgrams("text", n = 3, minCount = 4L).count()
    }

    // per-group top fraction: the b8sq synthetic-source shape (few
    // groups, n-times the docs per group) — one exchange + in-group
    // sort, e ≈ 1
    def b8gt(n: Int): Long = {
      import graft.operators.SampleOps._
      docsRep(spark, d, n)
        .withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(16))))
        .groupTopFraction("source", 0.25,
          Seq(graft.functions.tokenCount(col("text")).desc, col("doc_id").asc))
        .count()
    }

    // approximate vector kNN join (the r9 conf-gated IVF probe route,
    // forced via safety=1e9 so the admit-fraction gate trips at every
    // slice) with nlist grown ∝ n — the IVF scale discipline: per-cell
    // occupancy stays constant, so per-left candidates are flat and
    // total work ~n. Replicas shift dim 0 by a large offset (neighbor
    // structure intact within a replica); ids offset per replica.
    def b6va(n: Int): Long = {
      import graft.operators.VectorOps._
      def rep(p: String): DataFrame =
        (0 until n).map { r =>
          embeddings(spark, d).select(
            (col("vec_id") + lit(r * IdOffset)).as(s"${p}id"),
            transform(col("embedding"), (x, i) =>
              when(i === 0, x.cast("double") + lit(r * 10000.0))
                .otherwise(x.cast("double")))
              .cast("array<float>").as(s"${p}vec"))
        }.reduce(_ unionByName _)
      spark.conf.set(graft.GraftConf.KnnVecApprox, "true")
      spark.conf.set(graft.GraftConf.KnnVecApproxNlist, (16 * n).toString)
      try rep("l").knnJoinVec(rep("r"), "lvec", "rvec", "lid", 3,
        Seq("rid"), sampleCap = 500 * n, safety = 1e9).count()
      finally {
        spark.conf.unset(graft.GraftConf.KnnVecApprox)
        spark.conf.unset(graft.GraftConf.KnnVecApproxNlist)
      }
    }

    // any-Shape joins over replicated boxes x points: replicas shift in
    // x (same XOffset discipline), so every box's point neighborhood is
    // preserved and total true pairs grow ~n — a healthy PBSM plan
    // reads e ≈ 1 (the cross plans would read ~2)
    def shapeBoxesRep(n: Int): DataFrame = {
      import graft.spatial.ShapeCodec
      (0 until n).map { r =>
        supplierPts(spark, d).select(
          (col("s_suppkey") + lit(r * IdOffset)).as("lid"),
          struct(lit(ShapeCodec.TagMBR).as("tag"),
            array(col("sx") + lit(r * XOffset) - 100.0, col("sy") - 15.0,
              col("sx") + lit(r * XOffset) + 100.0, col("sy") + 15.0)
              .as("coords")).as("lbox"))
      }.reduce(_ unionByName _)
    }
    def shapePtsRep(n: Int): DataFrame = {
      import graft.spatial.ShapeCodec
      (0 until n).map { r =>
        customerPts(spark, d).select(
          (col("c_custkey") + lit(r * IdOffset)).as("rid"),
          struct(lit(ShapeCodec.TagPoint).as("tag"),
            array(col("cx") + lit(r * XOffset), col("cy")).as("coords"))
            .as("rpt"))
      }.reduce(_ unionByName _)
    }
    def b4sh(n: Int): Long =
      shapeBoxesRep(n).shapeDistanceJoin(shapePtsRep(n), "lbox", "rpt",
        50.0).count()
    def b5sh(n: Int): Long =
      shapeBoxesRep(n).shapeKnnJoin(shapePtsRep(n), "lbox", "rpt", 3,
        "lid", Seq("rid")).count()

    // the d=4 auto-routed kNN join (bench b5hd's fixture: customer xy
    // plus two residue axes) over x-shifted replicas — same XOffset
    // discipline, so per-replica neighborhoods are preserved, true
    // pairs grow ~n, and the pivot route's per-decade exponent is
    // directly comparable to the 2-D joins'
    def pts4dRep(n: Int, p: String): DataFrame =
      (0 until n).map { r =>
        customerPts(spark, d).select(
          (col("c_custkey") + lit(r * IdOffset)).as(s"${p}id"),
          (col("cx") + lit(r * XOffset)).as(s"${p}x"),
          col("cy").as(s"${p}y"),
          (col("c_custkey") % 773).cast("double").as(s"${p}z"),
          (col("c_custkey") % 337).cast("double").as(s"${p}w"))
      }.reduce(_ unionByName _)
    def b5hd(n: Int): Long = {
      spark.conf.set(graft.GraftConf.KnnJoinAlgo, "auto")
      try pts4dRep(n, "l").knnJoinAuto(pts4dRep(n, "r"),
        Seq("lx", "ly", "lz", "lw"), Seq("rx", "ry", "rz", "rw"),
        3, "lid", "rid", Seq("rid")).count()
      finally spark.conf.unset(graft.GraftConf.KnnJoinAlgo)
    }

    val entries: Seq[(String, Int => Long)] =
      Seq("b4l_distance_join_self_grid" -> (b4l _),
          "b4sh_shape_distance_join" -> (b4sh _),
          "b5sh_shape_knn_join" -> (b5sh _),
          "b5hd_knn_join_4d_auto" -> (b5hd _),
          "b4st_spatiotemporal_join" -> (b4st _),
          "b4x_intersects_join" -> (b4x _),
          "b5_knn_join_grid" -> (b5 _),
          "b5_knn_join_pivot" -> (b5p _),
          "b5_knn_join_zorder" -> (b5z _),
          "b7_minhash_dedup" -> (b7 _),
          "b8d_contamination" -> (b8d _),
          "b8b_boilerplate" -> (b8b _),
          "b8u_unigram_quality" -> (b8u _),
          "b11_asof_join" -> (b11 _),
          "b6k_kmeans" -> (b6k _),
          "b6sd_semantic_dedup" -> (b6sd _),
          "b8r_bm25" -> (b8r _),
          "b8sc_semantic_contamination" -> (b8sc _),
          "b9q_quantile_stats" -> (b9q _),
          "b8i_importance" -> (b8i _),
          "b8e_bpe_pairs" -> (b8e _),
          "b6pq_ann_pq" -> (b6pq _),
          "b8pd_passage_dedup" -> (b8pd _),
          "b8bg_bigram_quality" -> (b8bg _),
          "b8pr_pagerank" -> (b8pr _),
          "b8ve_vocab_encode" -> (b8ve _),
          "b8sd_span_decontamination" -> (b8sd2 _),
          "b8tc_triangles" -> (b8tc _),
          "b8ii_inverted_index" -> (b8ii _),
          "b6pc_pca" -> (b6pc _),
          "b8xd_span_dedup" -> (b8xd _),
          "b8sq_sequence_pack_global" -> (b8sq _),
          "b8es_epoch_shuffle" -> (b8es _),
          "b8hh_heavy_ngrams" -> (b8hh _),
          "b8gt_group_top_frac" -> (b8gt _),
          "b6va_knn_join_vec_approx" -> (b6va _))

    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val rows = f
      ((System.nanoTime() - t0) / 1e9, rows)
    }

    // `ScaleTrend 100` measures the second decade instead: the 1x vs
    // 100x pair, once per entry (a 100x run is minutes, min-of-2 would
    // double that for little variance reduction), on the two headline
    // join shapes. Exponent is per-decade: e = log100(t100/t1) * ... =
    // log10(t_100x / t_1x) / 2, directly comparable to the 10x column.
    if (args.headOption.contains("100")) {
      val hundred: Seq[(String, Int => Long)] =
        Seq("b4l_distance_join_self_grid" -> (b4l _),
            "b4sh_shape_distance_join" -> (b4sh _),
            "b5sh_shape_knn_join" -> (b5sh _),
            "b4st_spatiotemporal_join" -> (b4st _),
            "b4x_intersects_join" -> (b4x _),
            "b5_knn_join_grid" -> (b5 _),
            "b5_knn_join_pivot" -> (b5p _),
            "b7_minhash_dedup" -> (b7 _),
            "b8d_contamination" -> (b8d _),
            "b8i_importance" -> (b8i _),
            "b8pd_passage_dedup" -> (b8pd _),
            "b8pr_pagerank" -> (b8pr _),
            "b8tc_triangles" -> (b8tc _),
            "b8xd_span_dedup" -> (b8xd _),
            "b8es_epoch_shuffle" -> (b8es _),
            "b8gt_group_top_frac" -> (b8gt _),
            "b8hh_heavy_ngrams" -> (b8hh _),
            "b6va_knn_join_vec_approx" -> (b6va _),
            "b5hd_knn_join_4d_auto" -> (b5hd _))
      // optional trailing args select a subset (re-measure one entry
      // without re-paying the minutes-long others)
      val want = args.drop(1).toSet
      val sel = if (want.isEmpty) hundred else hundred.filter(e => want(e._1))
      sel.foreach { case (_, f) => f(1) } // warmup
      sel.foreach { case (name, f) =>
        val (t1, r1) = timed(f(1)); val (t1b, _) = timed(f(1))
        val b1 = math.min(t1, t1b)
        val (t100, r100) = timed(f(100))
        val e = math.log10(t100 / b1) / 2.0
        println(f"$name%-30s 1x: $b1%6.2f s ($r1%9d rows)  100x: $t100%7.2f s ($r100%10d rows)  exponent/decade=$e%.2f")
      }
      spark.stop(); return
    }

    // optional args select a subset (measure one new entry without
    // re-paying the whole sweep), same contract as the 100x mode
    val wanted = args.toSet
    val selected = if (wanted.isEmpty) entries else entries.filter(e => wanted(e._1))
    selected.foreach { case (name, f) => f(1) } // warmup at 1x
    selected.foreach { case (name, f) =>
      val (t1, r1) = timed(f(1)); val (t1b, _) = timed(f(1))
      val (t10, r10) = timed(f(10)); val (t10b, _) = timed(f(10))
      val b1 = math.min(t1, t1b); val b10 = math.min(t10, t10b)
      val e = math.log10(b10 / b1)
      println(f"$name%-30s 1x: $b1%6.2f s ($r1%9d rows)  10x: $b10%6.2f s ($r10%9d rows)  exponent=$e%.2f")
    }
    spark.stop()
  }
}
