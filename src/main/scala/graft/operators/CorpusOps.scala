package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._

/** Corpus-level text-preparation operators — the stages of a training
  * pipeline that look ACROSS documents rather than at one document at a
  * time (per-document scoring lives in [[graft.functions]]; dedup in
  * [[DedupOps]]; mixture/balance in [[SampleOps]]):
  *
  *  - [[DatasetCorpusOps.boilerplateScore]] finds word n-grams shared by
  *    many distinct documents (headers, footers, license blocks,
  *    templated navigation) and scores each document by the fraction of
  *    its distinct grams that are corpus-frequent — the standard
  *    "remove boilerplate before training" signal.
  *  - [[DatasetCorpusOps.sequencePack]] assigns documents to
  *    fixed-token-capacity bins (training context windows) by
  *    deterministic contiguous packing within a shard group.
  *
  * Scale notes (100 TB):
  *  - boilerplateScore never joins documents to documents: the candidate
  *    space is per-doc DISTINCT grams (texts never ride the join), the
  *    document-frequency table is a partial-aggregated groupBy on the
  *    gram, and the score join is gram-keyed — the same discipline as
  *    [[DedupOps.contaminationPairs]]. At petabyte scale swap the gram
  *    string for `fingerprint64(gram)` so the two shuffles carry 8-byte
  *    keys (same result up to hash collisions).
  *  - sequencePack's window partitions by the shard group, so the
  *    parallelism unit is the group; groups are expected to be
  *    shard-sized (source buckets, crawl segments), not the whole
  *    corpus. For packing across group boundaries (or one giant
  *    group), [[DatasetCorpusOps.sequencePackGlobal]] runs the global
  *    prefix sum as a two-pass decomposed scan — bounded windows plus
  *    aggregate-sized offset tables — instead of a sequential chain.
  */
object CorpusOps {

  /** The fixed-`width`-word passage split shared by
    * [[DatasetCorpusOps.passageDedup]] and the streaming gate
    * ([[graft.streaming.StreamingOps.streamPassageGate]]): passage i =
    * words [i·width, (i+1)·width), last one possibly short; empty text
    * has no passages. */
  private[graft] def passagesOf(text: Column, width: Int): Column = {
    val toks = graft.functions.tokens(text)
    val nTok = graft.functions.tokenCount(text)
    val nPass = ceil(nTok / lit(width.toDouble)).cast("long")
    when(nTok === 0L, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0L), nPass - 1L),
        i => array_join(slice(toks, (i * width + 1L).cast("int"), lit(width)), " ")))
  }

  /** Conjunctive (boolean AND) retrieval from the
    * [[DatasetCorpusOps.writeBm25Index]] layout: ids whose documents
    * contain EVERY query term, answered from the query terms' posting
    * rows alone (pushed `term IN`, one groupBy over those slivers —
    * the corpus is never touched). The candidate-generation primitive
    * under field-filtered search and the strict form BM25's weak-AND
    * relaxes; returns (id, dl) ordered by id. */
  /** Admitted-token guard shared by the BM25 read/delete verbs:
    * refuses a missing token column, asserts every surviving row's
    * token is admitted, drops the column. */
  private def bm25TokenChecked(df: DataFrame, path: String, what: String,
                               admitted: Seq[String],
                               caller: String): DataFrame = {
    require(df.columns.contains("__graft_token"),
      s"$caller: $path/$what has no __graft_token column — the layout " +
        "is torn or foreign; rewrite with writeBm25Index")
    df.filter(assert_true(col("__graft_token").isin(admitted: _*),
      lit(s"$caller: write-token mismatch between $path/meta and " +
        s"$path/$what — rewrite the layout")).isNull)
      .drop("__graft_token")
  }

  def matchAllTermsAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                                path: String,
                                terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "need at least one term")
    val params = DedupOps.indexMeta(spark, path, "matchAllTermsAgainstIndex")
    val idCol = params("idCol")
    val waveTokens = params.getOrElse("__waves", params("__token"))
      .split(";").toSeq
    require(waveTokens.contains(params("__token")),
      s"matchAllTermsAgainstIndex: write-token mismatch inside " +
        s"$path/meta (token not in the waves list) — rewrite the layout")
    val live = bm25TokenChecked(spark.read.parquet(s"$path/postings"),
        path, "postings", waveTokens, "matchAllTermsAgainstIndex")
      .filter(col("term").isin(terms.distinct: _*))
    val survivors = DedupOps.tombstoneIds(spark, path, params,
        "matchAllTermsAgainstIndex") match {
      case Some(t) => live.join(t, Seq(idCol), "left_anti")
      case None    => live
    }
    survivors
      .groupBy(col(idCol), col("__dl"))
      .agg(count(lit(1)).as("__nt"))
      .filter(col("__nt") === terms.distinct.length.toLong)
      .select(col(idCol), col("__dl").as("dl"))
      .orderBy(col(idCol))
  }

  /** Exact PHRASE retrieval off the BM25 layout: documents whose token
    * stream contains `phrase`'s tokens CONSECUTIVELY — the quoted-query
    * primitive the bag-of-words postings cannot answer alone. Stage 1
    * pulls the conjunctive candidates from the phrase terms' posting
    * slivers ([[matchAllTermsAgainstIndex]] — pruned `term IN`,
    * tombstones subtracted; containing every term is NECESSARY for
    * containing the phrase, so the candidate set is a superset).
    * Stage 2 confirms adjacency over ONLY the candidate docs' text,
    * read via a pushed `id IN` when the candidate list is bounded
    * (`maxPushdown`, the hybridTopKAgainstIndex discipline) and a
    * semi-join past it — neither stage scans the corpus. The adjacency
    * check is boundary-safe padded-join containment
    * (`' w1 w2 '` inside `' ' || join(toks, ' ') || ' '` — tokens are
    * whitespace-free by construction), replayable verbatim in any SQL
    * engine. A tombstone-deleted doc never surfaces (it leaves the
    * candidate stage). Returns `(idCol, n_tokens)` ordered by id. */
  def phraseMatchAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                              path: String, corpus: DataFrame,
                              textCol: String, phrase: Seq[String],
                              maxPushdown: Int = 4096): DataFrame = {
    require(phrase.nonEmpty &&
      phrase.forall(t => t.nonEmpty && !t.exists(_.isWhitespace)),
      "phraseMatchAgainstIndex: phrase must be non-empty " +
        "whitespace-free tokens")
    graft.GraftConf.checkDriverPushdown(spark, "phraseMatchAgainstIndex",
      maxPushdown)
    val params = DedupOps.indexMeta(spark, path, "phraseMatchAgainstIndex")
    val idCol = params("idCol")
    require(corpus.columns.contains(idCol),
      s"phraseMatchAgainstIndex: the corpus must carry the layout's id " +
        s"column '$idCol' (has: ${corpus.columns.mkString(", ")})")
    require(corpus.columns.contains(textCol),
      s"phraseMatchAgainstIndex: the corpus has no '$textCol' column")
    val cand = matchAllTermsAgainstIndex(spark, path, phrase.distinct)
    val candIds = cand.select(col(idCol))
      .limit(maxPushdown + 1).collect().map(_.get(0))
    val docs =
      if (candIds.length <= maxPushdown)
        corpus.filter(col(idCol).isin(candIds.toIndexedSeq: _*))
      else corpus.join(cand.select(col(idCol)), Seq(idCol), "left_semi")
    val toks = graft.functions.tokens(col(textCol))
    val padded = concat(lit(" "), array_join(toks, " "), lit(" "))
    docs
      .filter(padded.contains(" " + phrase.mkString(" ") + " "))
      .select(col(idCol),
        graft.functions.tokenCount(col(textCol)).as("n_tokens"))
      .orderBy(col(idCol))
  }

  /** QUERY-SET BM25 retrieval off the layout — the batch
    * retrieval-serving / eval-harness shape ("score these 10k queries
    * against the corpus"), where a per-query driver loop would pay a
    * Spark job per query. `queries` is a (queryId, term) table — one
    * row per query term — and the result is each query's top-k
    * (doc, dl, score) by BM25 over the indexed corpus. ONE pruned
    * posting read serves every query: the distinct query terms push as
    * a `term IN` literal when bounded (under the shared
    * [[graft.GraftConf.MaxDriverPushdown]] ceiling via
    * `maxPushdownTerms`) and semi-join past it; df sums across waves
    * from the dictionary (delete waves' negative rows included),
    * constants come from the meta, tombstoned docs never rank.
    *
    * Scoring determinism: with the term set a TABLE, the single-query
    * verbs' fixed-column left-to-right IEEE chain doesn't exist, so the
    * per-(query, doc) score sums DECIMAL(18,6)-cast contributions —
    * exact decimal addition is order-independent, and any SQL engine
    * replays the same double->decimal rounding (the [[graft.Tables.dsum]]
    * discipline). A query term with zero postings contributes nothing
    * (the single-query verbs' literal 0.0); repeated terms within a
    * query count once; `score > 0` filters non-hits as [[bm25TopK]].
    * Scale shape: posting-sliver join keyed by term, one partial-agg
    * shuffle on (queryId, doc), windowed top-k — query count and corpus
    * size scale independently, never a per-query scan. */
  def bm25TopKJoinAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                               path: String, queries: DataFrame,
                               queryIdCol: String, termCol: String, k: Int,
                               k1: Double = 1.2, b: Double = 0.75,
                               maxPushdownTerms: Int = 1024): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(queries.columns.contains(queryIdCol) &&
      queries.columns.contains(termCol),
      s"bm25TopKJoinAgainstIndex: queries must carry '$queryIdCol' and " +
        s"'$termCol' (has: ${queries.columns.mkString(", ")})")
    graft.GraftConf.checkDriverPushdown(spark, "bm25TopKJoinAgainstIndex",
      maxPushdownTerms)
    val params = DedupOps.indexMeta(spark, path, "bm25TopKJoinAgainstIndex")
    val idCol = params("idCol")
    require(queryIdCol != idCol && queryIdCol != "term" && termCol != idCol,
      s"bm25TopKJoinAgainstIndex: '$queryIdCol'/'$termCol' collide with " +
        s"the layout's columns ('$idCol', 'term')")
    val waveTokens = params.getOrElse("__waves", params("__token"))
      .split(";").toSeq
    require(waveTokens.contains(params("__token")),
      s"bm25TopKJoinAgainstIndex: write-token mismatch inside $path/meta " +
        "(token not in the waves list) — rewrite the layout")
    val nD = params("__n").toLong.toDouble
    val avgdl = params("__sumdl").toLong.toDouble / params("__n").toLong.toDouble
    val tombTokens = DedupOps.tombTokens(params)
    val qt = queries.select(col(queryIdCol), col(termCol).as("term"))
      .distinct()
    // bounded literal pushdown for the posting + dictionary slivers;
    // past the cap both prune by semi-join instead
    val termProbe = qt.select(col("term")).distinct()
      .limit(maxPushdownTerms + 1).collect().map(_.getString(0)).toSeq
    val push = termProbe.length <= maxPushdownTerms
    def pruneTerms(df: DataFrame): DataFrame =
      if (push) df.filter(col("term").isin(termProbe: _*))
      else df.join(qt.select(col("term")).distinct(), Seq("term"), "left_semi")
    val dict = pruneTerms(bm25TokenChecked(
        spark.read.parquet(s"$path/terms"), path, "terms",
        waveTokens ++ tombTokens, "bm25TopKJoinAgainstIndex"))
      .groupBy(col("term")).agg(sum(col("__df")).as("__df"))
    val posts0 = pruneTerms(bm25TokenChecked(
      spark.read.parquet(s"$path/postings"), path, "postings",
      waveTokens, "bm25TopKJoinAgainstIndex"))
    val posts = DedupOps.tombstoneIds(spark, path, params,
        "bm25TopKJoinAgainstIndex") match {
      case Some(t) => posts0.join(t, Seq(idCol), "left_anti")
      case None    => posts0
    }
    val dfD = col("__df").cast("double")
    val tfD = col("__tf").cast("double")
    val dlD = col("__dl").cast("double")
    val contrib = ((lit(nD) - dfD + lit(0.5)) / (dfD + lit(0.5))) *
      (tfD * lit(k1 + 1.0)) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * dlD / lit(avgdl)))
    val scored = qt.join(posts, Seq("term"))
      .join(dict, Seq("term"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(max(col("__dl")).as("dl"),
        sum(contrib.cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("score"))
      .filter(col("score") > 0.0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol))
      .orderBy(col("score").desc, col(idCol).asc)
    scored.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") <= k)
      .drop("__graft_rn")
      .orderBy(col(queryIdCol), col(idCol))
  }

  /** BOOLEAN phrase retrieval off the BM25 layout — the composition of
    * [[phraseMatchAgainstIndex]] a keyword-search surface needs: `query`
    * is an AND of clauses, each clause an OR of alternatives, each
    * alternative a consecutive-token PHRASE (length 1 = a bare term).
    * `"big data" AND (spark OR "query engine")` is
    * `Seq(Seq(Seq("big","data")), Seq(Seq("spark"), Seq("query","engine")))`.
    *
    * One pruned posting read serves the WHOLE query: the sliver is
    * `term IN (every term of every alternative)` (term-clustered
    * layout -> only those terms' row ranges), tombstones subtracted
    * once. Each alternative's conjunctive candidates derive from that
    * one frame; only MULTI-token alternatives confirm adjacency, over
    * the union of their candidates' text — a bounded pushed `id IN`
    * (`maxPushdown`, under the shared [[graft.GraftConf.MaxDriverPushdown]]
    * ceiling) or a semi-join past it. Bare-term alternatives are exact
    * straight from the postings (containing the term IS the predicate),
    * so a term-only query never touches the corpus at all. OR = union
    * distinct of id sets, AND = left-semi chain — wave-sized frames,
    * never the corpus. Returns `(idCol, n_tokens)` ordered by id, with
    * `n_tokens` from the layout's stored per-doc length (written as
    * `size(tokens(text))`, so it equals the text recount and the
    * oracle's `len(toks)` bit-for-bit). */
  def phraseBoolMatchAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                                  path: String, corpus: DataFrame,
                                  textCol: String,
                                  query: Seq[Seq[Seq[String]]],
                                  maxPushdown: Int = 4096): DataFrame = {
    require(query.nonEmpty && query.forall(cl => cl.nonEmpty && cl.forall(
      alt => alt.nonEmpty && alt.forall(t =>
        t.nonEmpty && !t.exists(_.isWhitespace)))),
      "phraseBoolMatchAgainstIndex: query must be AND-of-clauses, " +
        "OR-of-alternatives, each a non-empty whitespace-free phrase")
    graft.GraftConf.checkDriverPushdown(spark,
      "phraseBoolMatchAgainstIndex", maxPushdown)
    val params = DedupOps.indexMeta(spark, path, "phraseBoolMatchAgainstIndex")
    val idCol = params("idCol")
    require(corpus.columns.contains(idCol),
      s"phraseBoolMatchAgainstIndex: the corpus must carry the layout's " +
        s"id column '$idCol' (has: ${corpus.columns.mkString(", ")})")
    require(corpus.columns.contains(textCol),
      s"phraseBoolMatchAgainstIndex: the corpus has no '$textCol' column")
    val waveTokens = params.getOrElse("__waves", params("__token"))
      .split(";").toSeq
    val alts: Seq[Seq[String]] = query.flatten.distinct
    val allTerms = alts.flatten.distinct
    // the one posting sliver: every alternative's candidates come from
    // here; distinct'd to (id, term, dl) so conjunction counts terms
    val live = bm25TokenChecked(spark.read.parquet(s"$path/postings"),
        path, "postings", waveTokens, "phraseBoolMatchAgainstIndex")
      .filter(col("term").isin(allTerms: _*))
    val survivors = (DedupOps.tombstoneIds(spark, path, params,
        "phraseBoolMatchAgainstIndex") match {
      case Some(t) => live.join(t, Seq(idCol), "left_anti")
      case None    => live
    }).select(col(idCol), col("term"), col("__dl")).distinct()
      .localCheckpoint()
    def candidates(alt: Seq[String]): DataFrame = {
      val ts = alt.distinct
      survivors.filter(col("term").isin(ts: _*))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("__nt"))
        .filter(col("__nt") === ts.length.toLong)
        .select(col(idCol))
    }
    // adjacency pass, once, over the union of the multi-token
    // alternatives' candidates (a superset of every true phrase match)
    val multi = alts.filter(_.length > 1)
    val padded: Option[DataFrame] =
      if (multi.isEmpty) None
      else {
        val union = multi.map(candidates).reduce(_.unionByName(_)).distinct()
        val ids = union.limit(maxPushdown + 1).collect().map(_.get(0))
        val docs =
          if (ids.length <= maxPushdown)
            corpus.filter(col(idCol).isin(ids.toIndexedSeq: _*))
          else corpus.join(union, Seq(idCol), "left_semi")
        Some(docs.select(col(idCol),
          concat(lit(" "),
            array_join(graft.functions.tokens(col(textCol)), " "),
            lit(" ")).as("__graft_padded")).localCheckpoint())
      }
    def altMatch(alt: Seq[String]): DataFrame =
      if (alt.length == 1) candidates(alt)
      else candidates(alt).join(
        padded.get.filter(col("__graft_padded")
            .contains(" " + alt.mkString(" ") + " "))
          .select(col(idCol)), Seq(idCol), "left_semi")
    val matched = query
      .map(cl => cl.map(altMatch).reduce(_.unionByName(_)).distinct())
      .reduce((a, b) => a.join(b, Seq(idCol), "left_semi"))
    matched
      .join(survivors.groupBy(col(idCol))
        .agg(max(col("__dl")).as("n_tokens")), Seq(idCol))
      .orderBy(col(idCol))
  }

  /** Collapse a multi-wave [[DatasetCorpusOps.writeBm25Index]] layout
    * back to one wave: per-wave (term, df) dictionary rows merge by
    * SUM, postings republish clustered by term (wave appends leave one
    * term's rows scattered across wave files — the term-pruned read
    * this layout exists for degrades with every append), everything
    * under ONE fresh token with the meta committing last. Constants
    * are already sums in the meta and don't change. `dropForeign`
    * makes it the REPAIR verb: a torn append's orphan rows (tokens the
    * meta never admitted) are filtered out instead of refused, and the
    * fresh-token republish makes the repair itself crash-safe. */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       path: String, dropForeign: Boolean = false): Unit = {
    val params = DedupOps.indexMeta(spark, path, "compactBm25Index")
    val waveTokens = params.getOrElse("__waves", params("__token"))
      .split(";").toSet
    require(waveTokens.contains(params("__token")),
      s"compactBm25Index: write-token mismatch inside $path/meta " +
        "(token not in the waves list) — rewrite the layout")
    val storedId = params("idCol")
    // the dictionary may hold delete waves' NEGATIVE df rows under
    // delete tokens — its admitted set is waves ∪ tombs
    val tombTokens = DedupOps.tombTokens(params).toSet
    val postings = spark.read.parquet(s"$path/postings")
    val dict = spark.read.parquet(s"$path/terms")
    for ((df, what, toks) <- Seq((postings, "postings", waveTokens),
        (dict, "terms", waveTokens ++ tombTokens))) {
      require(df.columns.contains("__graft_token"),
        s"compactBm25Index: $path/$what has no __graft_token column — " +
          "the layout is torn or foreign; rewrite it")
      if (!dropForeign) {
        val seen = df.select(col("__graft_token")).distinct()
          .collect().map(_.getString(0)).toSet
        require(seen.subsetOf(toks),
          s"compactBm25Index: $path/$what holds rows under token(s) " +
            s"${seen.diff(toks)} the meta never admitted — " +
            "refusing to compact a torn layout")
      }
    }
    def admitted(df: DataFrame, toks: Set[String]): DataFrame =
      if (dropForeign)
        df.filter(col("__graft_token").isin(toks.toSeq: _*))
      else df
    val snapP = s"$path/compact_snapshot_postings"
    val snapT = s"$path/compact_snapshot_terms"
    // admitted delete waves FOLD here: tombstoned postings leave
    // physically, negative dictionary rows sum away, constants are
    // already net in the meta (the delete subtracted them)
    val folded = DedupOps.tombstoneIds(spark, path, params,
        "compactBm25Index") match {
      case Some(t) => admitted(postings, waveTokens)
        .join(t, Seq(storedId), "left_anti")
      case None => admitted(postings, waveTokens)
    }
    folded.drop("__graft_token")
      .write.mode("overwrite").parquet(snapP)
    // the dictionary is DERIVED from the folded postings: df = posting
    // count per term (identical to summing the wave df rows, negatives
    // included), and the max-score bounds recompute TIGHT — a delete's
    // stale-but-valid bounds vanish with the rows that justified them
    spark.read.parquet(snapP)
      .groupBy(col("term")).agg(count(lit(1)).as("__df"),
        max(col("__tf")).as("__maxtf"), min(col("__dl")).as("__mindl"))
      .write.mode("overwrite").parquet(snapT)
    val token = java.util.UUID.randomUUID().toString
    spark.read.parquet(snapP)
      .withColumn("__graft_token", lit(token))
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"), col(storedId))
      .write.mode("overwrite").parquet(s"$path/postings")
    spark.read.parquet(snapT)
      .withColumn("__graft_token", lit(token))
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"))
      .write.mode("overwrite").parquet(s"$path/terms")
    val idOk = DedupOps.writeIdBloomRow(spark, path, "postings", storedId,
      token, "overwrite")
    DedupOps.publishMeta(spark, path, Seq("params=idCol:" + storedId,
      "n=" + params("__n"),
      "sumdl=" + params("__sumdl"),
      "token=" + token,
      "waves=" + token)
      ++ DedupOps.idBloomMetaLine(idOk))
    // folded tombstones are inert once the meta stopped listing them
    DedupOps.deleteDir(spark, s"$path/tombstones")
    val conf = spark.sparkContext.hadoopConfiguration
    for (s <- Seq(snapP, snapT)) {
      val p = new org.apache.hadoop.fs.Path(s)
      p.getFileSystem(conf).delete(p, true)
    }
  }

  /** [[DedupOps.repairCdcIndex]] for the bm25 layout: roll a torn
    * append back by compacting over only the admitted tokens. The
    * constants stay exact: an append's meta (rows AND summed N/Σdl)
    * commits last, so a torn wave's constants never landed and
    * dropping its rows restores full consistency. The same argument
    * covers a torn DELETE: its negative dictionary rows and tombstones
    * never got admitted, so dropping them rolls the delete back whole
    * (re-run it). */
  def repairBm25Index(spark: org.apache.spark.sql.SparkSession,
                      path: String): Unit =
    compactBm25Index(spark, path, dropForeign = true)

  /** [[DedupOps.fsckTextIndex]] on a bm25 layout (one of its detected
    * families) — aliased here so the audit verb sits beside the other
    * bm25 verbs. */
  def fsckBm25Index(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    DedupOps.fsckTextIndex(spark, path)

  /** Tombstone-delete ids from a [[DatasetCorpusOps.writeBm25Index]]
    * layout — the ids-only GDPR purge. The deleted docs' per-term df
    * and the (N, Σdl) constants are derived FROM THE LAYOUT's own
    * posting rows (never from caller-supplied text, which could drift
    * from what was indexed): df deltas append to the dictionary as
    * NEGATIVE rows under the delete token (the readers already sum df
    * across waves, so negatives compose for free), the constants
    * subtract in the meta, ids land at `$path/tombstones`, and the
    * meta — constants AND the `tombs=` list — commits LAST. Readers
    * anti-join tombstones on the posting sliver they were reading
    * anyway; [[compactBm25Index]] folds everything physically. After
    * the delete the layout answers BIT-EQUAL to a fresh write over the
    * survivors (integer deltas; same IEEE score chain) — spec-pinned.
    *
    * One honest caveat: a doc with ZERO tokens leaves no postings, so
    * its deletion cannot adjust N (it is indistinguishable from an id
    * never indexed). Such a doc also never matches any query — the
    * only drift is avgdl/idf by one empty doc, visible and bounded;
    * rewrite from source if that matters.
    *
    * A tombstoned id stays DEAD for the append clash check (its
    * posting rows are physically present) until a compact folds it —
    * re-adding a deleted id is a compact-then-append. */
  def deleteFromBm25Index(spark: org.apache.spark.sql.SparkSession,
                          path: String,
                          ids: DataFrame): Unit = {
    val params = DedupOps.indexMeta(spark, path, "deleteFromBm25Index")
    require(params.contains("__waves"),
      "deleteFromBm25Index: " + path + "/meta has no 'waves' line — the " +
        "layout predates wave support; rewrite with writeBm25Index")
    val storedId = params("idCol")
    require(ids.columns.contains(storedId),
      s"deleteFromBm25Index: the ids frame must carry the layout's id " +
        s"column '$storedId' (has: ${ids.columns.mkString(", ")})")
    val waveTokens = params("__waves").split(";").toSeq
    require(waveTokens.contains(params("__token")),
      s"deleteFromBm25Index: write-token mismatch inside $path/meta " +
        "(token not in the waves list) — rewrite the layout")
    // only NEWLY deleted ids count (idempotent deletes: an id already
    // tombstoned must not subtract its constants twice)
    val fresh = ids.select(col(storedId)).distinct()
    val newIds = (DedupOps.tombstoneIds(spark, path, params,
        "deleteFromBm25Index") match {
      case Some(t) => fresh.join(t, Seq(storedId), "left_anti")
      case None    => fresh
    }).localCheckpoint()
    // everything already dead: admit nothing (an admitted wave with no
    // tombstone rows on disk would read as a MISSING wave to fsck, and
    // the constants would subtract zero anyway)
    if (newIds.isEmpty) return
    val posts = bm25TokenChecked(spark.read.parquet(s"$path/postings"),
      path, "postings", waveTokens, "deleteFromBm25Index")
    // the deleted docs' layout facts, ONE column-pruned semi-join:
    // (term, id) rows are df units, per-doc dl rides every posting
    val delPosts = posts.join(newIds, Seq(storedId), "left_semi")
      .select(col("term"), col(storedId), col("__dl"))
      .localCheckpoint()
    val perDoc = delPosts.groupBy(col(storedId))
      .agg(max(col("__dl")).as("__dl"))
      .agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__sumdl")).head()
    val nDelta = perDoc.getLong(0)
    val sumdlDelta = if (perDoc.isNullAt(1)) 0L else perDoc.getLong(1)
    val token = java.util.UUID.randomUUID().toString
    newIds.withColumn("__graft_token", lit(token))
      .write.mode("append").parquet(s"$path/tombstones")
    // neutral max-score bounds: max(0)/min(MaxValue) leave the merged
    // bound untightened — stale-but-valid (a deleted doc that held the
    // max tf just loosens pruning until a compact recomputes); a
    // pre-bounds layout keeps its schema
    val delDict =
      if (spark.read.parquet(s"$path/terms").columns.contains("__maxtf"))
        delPosts.groupBy(col("term")).agg((-count(lit(1))).as("__df"),
          lit(0L).as("__maxtf"), lit(Long.MaxValue).as("__mindl"))
      else delPosts.groupBy(col("term")).agg((-count(lit(1))).as("__df"))
    delDict
      .withColumn("__graft_token", lit(token))
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"))
      .write.mode("append").parquet(s"$path/terms")
    DedupOps.publishMeta(spark, path, Seq("params=idCol:" + storedId,
      s"n=${params("__n").toLong - nDelta}",
      s"sumdl=${params("__sumdl").toLong - sumdlDelta}",
      "token=" + params("__token"),
      "waves=" + params("__waves"),
      "tombs=" + (DedupOps.tombTokens(params) :+ token).mkString(";"))
      // a delete adds no physical ids — clash-gate coverage unchanged
      ++ DedupOps.idBloomMetaLine(params.get("__idbloom").contains("yes")))
  }

  /** LOCATED tombstone-delete for a [[DatasetCorpusOps.writeBm25Index]]
    * layout — the O(wave + vocab) sibling of [[deleteFromBm25Index]].
    * The wave carries the id AND the document text AS WRITTEN, so the
    * wave's layout facts (per-term tf, dl) recompute from the writer's
    * exact deterministic tokenizer instead of being read back through
    * the ids-only verb's semi-join over the WHOLE postings table (the
    * one per-purge-wave O(table) pass the text layouts had left — the
    * postings are term-clustered, so an id-keyed read cannot prune).
    *
    * Presence is confirmed EXACTLY through a wave-sized posting
    * sliver: one vocab-sized dictionary pass picks each doc's RAREST
    * live term (min summed df — the cheapest term to confirm by), and
    * a term-pruned postings read answers "is (rarest-term, id) on
    * disk" per doc. A doc holding any term with NO live df cannot be
    * live (every written doc's terms carry df >= 1 until its OWN
    * tombstone subtracts them, and tombstoned ids were already
    * filtered) — absence confirmed without touching postings at all.
    * Chosen terms push down as literals when the distinct list is
    * bounded (`maxPushdownTerms`, the PrunedCellScan discipline) and
    * fall back to a semi-join past it.
    *
    * Absent and already-tombstoned ids are exact no-ops; docs whose
    * text tokenizes EMPTY are refused loudly (they leave no posting to
    * confirm presence with — use [[deleteFromBm25Index]], which shares
    * the same blind spot on their N residue). A wave that matches
    * nothing admits nothing. The caller owns the text-as-written
    * contract: foreign text makes wrong df deltas, which fsck's
    * constants check surfaces. */
  def deleteFromBm25IndexWithText(spark: org.apache.spark.sql.SparkSession,
                                  path: String, docs: DataFrame,
                                  textCol: String,
                                  maxPushdownTerms: Int = 1024): Unit = {
    graft.GraftConf.checkDriverPushdown(spark,
      "deleteFromBm25IndexWithText", maxPushdownTerms)
    val params = DedupOps.indexMeta(spark, path, "deleteFromBm25IndexWithText")
    require(params.contains("__waves"),
      "deleteFromBm25IndexWithText: " + path + "/meta has no 'waves' " +
        "line — the layout predates wave support; rewrite with writeBm25Index")
    val storedId = params("idCol")
    require(docs.columns.contains(storedId),
      s"deleteFromBm25IndexWithText: the wave must carry the layout's " +
        s"id column '$storedId' (has: ${docs.columns.mkString(", ")})")
    require(docs.columns.contains(textCol),
      s"deleteFromBm25IndexWithText: the wave must carry '$textCol' — " +
        "the located verb recomputes the doc's postings from its text; " +
        "use deleteFromBm25Index(ids) when only ids are known")
    val waveTokens = params("__waves").split(";").toSeq
    require(waveTokens.contains(params("__token")),
      s"deleteFromBm25IndexWithText: write-token mismatch inside " +
        s"$path/meta (token not in the waves list) — rewrite the layout")
    val fresh = (DedupOps.tombstoneIds(spark, path, params,
        "deleteFromBm25IndexWithText") match {
      case Some(t) => docs.select(col(storedId), col(textCol))
        .dropDuplicates(Seq(storedId)).join(t, Seq(storedId), "left_anti")
      case None => docs.select(col(storedId), col(textCol))
        .dropDuplicates(Seq(storedId))
    }).localCheckpoint()
    if (fresh.isEmpty) return
    // the wave's own (term, id, tf, dl) facts — the writer's exact plan
    val tf = fresh
      .select(col(storedId), graft.functions.tokens(col(textCol)).as("__toks"))
      .withColumn("__dl", size(col("__toks")).cast("long"))
      .select(col(storedId), col("__dl"), explode(col("__toks")).as("term"))
      .groupBy(col("term"), col(storedId), col("__dl"))
      .agg(count(lit(1)).as("__tf"))
      .localCheckpoint()
    val empties = fresh.join(tf.select(col(storedId)).distinct(),
      Seq(storedId), "left_anti").limit(1).count()
    require(empties == 0L,
      "deleteFromBm25IndexWithText: the wave holds docs whose text " +
        "tokenizes empty — no posting exists to confirm their presence; " +
        "delete those ids with deleteFromBm25Index")
    val tombTokens = DedupOps.tombTokens(params)
    // ONE vocab-sized dictionary pass: per-doc rarest LIVE term (min
    // summed df, term as tie-break); any no-live-df term = doc absent
    val dictRaw = bm25TokenChecked(spark.read.parquet(s"$path/terms"),
      path, "terms", waveTokens ++ tombTokens, "deleteFromBm25IndexWithText")
    val hasBounds = dictRaw.columns.contains("__maxtf") &&
      dictRaw.columns.contains("__mindl")
    val dictDf = dictRaw.groupBy(col("term")).agg(sum(col("__df")).as("__df"))
    val chosen = tf.select(col("term"), col(storedId))
      .join(dictDf, Seq("term"), "left_outer")
      .groupBy(col(storedId))
      .agg(
        min(struct(coalesce(col("__df"), lit(Long.MaxValue)).as("__df"),
          col("term").as("term"))).as("__best"),
        min(when(col("__df").isNull || col("__df") <= 0L, lit(0))
          .otherwise(lit(1))).as("__allLive"))
      .filter(col("__allLive") === 1)
      .select(col("__best").getField("term").as("term"), col(storedId))
      .localCheckpoint()
    // wave-sized posting sliver keyed by the chosen terms
    val chosenTerms = chosen.select(col("term")).distinct()
      .limit(maxPushdownTerms + 1).collect().map(_.getString(0)).toSeq
    val posts0 = bm25TokenChecked(spark.read.parquet(s"$path/postings"),
        path, "postings", waveTokens, "deleteFromBm25IndexWithText")
      .select(col("term"), col(storedId))
    val sliver =
      if (chosenTerms.length <= maxPushdownTerms)
        posts0.filter(col("term").isin(chosenTerms: _*))
      else posts0.join(chosen.select(col("term")).distinct(),
        Seq("term"), "left_semi")
    val present = chosen.join(sliver, Seq("term", storedId), "left_semi")
      .select(col(storedId)).localCheckpoint()
    // everything absent or already dead: admit nothing
    if (present.isEmpty) return
    val delTf = tf.join(present, Seq(storedId), "left_semi")
    val perDoc = delTf.groupBy(col(storedId)).agg(max(col("__dl")).as("__dl"))
      .agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__sumdl")).head()
    val nDelta = perDoc.getLong(0)
    val sumdlDelta = perDoc.getLong(1)
    val token = java.util.UUID.randomUUID().toString
    present.withColumn("__graft_token", lit(token))
      .write.mode("append").parquet(s"$path/tombstones")
    // the same neutral max-score bounds the ids-only verb writes
    val delDict =
      if (hasBounds)
        delTf.groupBy(col("term")).agg((-count(lit(1))).as("__df"),
          lit(0L).as("__maxtf"), lit(Long.MaxValue).as("__mindl"))
      else delTf.groupBy(col("term")).agg((-count(lit(1))).as("__df"))
    delDict
      .withColumn("__graft_token", lit(token))
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"))
      .write.mode("append").parquet(s"$path/terms")
    DedupOps.publishMeta(spark, path, Seq("params=idCol:" + storedId,
      s"n=${params("__n").toLong - nDelta}",
      s"sumdl=${params("__sumdl").toLong - sumdlDelta}",
      "token=" + params("__token"),
      "waves=" + params("__waves"),
      "tombs=" + (DedupOps.tombTokens(params) :+ token).mkString(";"))
      // a delete adds no physical ids — clash-gate coverage unchanged
      ++ DedupOps.idBloomMetaLine(params.get("__idbloom").contains("yes")))
  }

  /** BM25 top-k answered from a [[DatasetCorpusOps.writeBm25Index]]
    * layout: reads ONLY the query terms' posting rows (pushed `term IN`
    * over the term-clustered parquet) plus one bounded dictionary probe
    * — the corpus itself is never touched. Bit-identical to
    * [[DatasetCorpusOps.bm25TopK]]: per-term contributions pivot into
    * FIXED columns summed in query-term order (the same left-to-right
    * IEEE chain; an unordered SQL sum over posting rows would float-
    * drift), zero-posting terms contribute the same literal 0.0, and
    * the constants replay the driver arithmetic verbatim.
    *
    * NOT interchangeable with [[bm25TopKJoinAgainstIndex]] near score
    * ties: the query-set verb sums DECIMAL(18,6)-cast contributions
    * (order-independent), while this verb sums doubles in query-term
    * order — the two roundings can disagree in the last ulp, so the
    * same logical query may rank tied documents differently across the
    * two surfaces. Pinned in `CorpusOpsSpec` ("single-query and
    * query-set surfaces agree up to rounding"). */
  def bm25TopKAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                           path: String, terms: Seq[String], k: Int,
                           k1: Double = 1.2, b: Double = 0.75,
                           maxPruneCandidates: Int = 4096,
                           minPruneRows: Long = 1L << 17): DataFrame = {
    require(terms.nonEmpty && k >= 1, "need terms and k >= 1")
    val params = DedupOps.indexMeta(spark, path, "bm25TopKAgainstIndex")
    val idCol = params("idCol")
    val waveTokens = params.getOrElse("__waves", params("__token"))
      .split(";").toSeq
    require(waveTokens.contains(params("__token")),
      s"bm25TopKAgainstIndex: write-token mismatch inside $path/meta " +
        "(token not in the waves list) — rewrite the layout")
    val nD = params("__n").toLong.toDouble
    val avgdl = params("__sumdl").toLong.toDouble / params("__n").toLong.toDouble
    // delete waves append NEGATIVE df rows to the dictionary and carry
    // their own tokens — the dictionary's admitted set is waves ∪ tombs
    // (postings never hold delete-token rows)
    val tombTokens = DedupOps.tombTokens(params)
    def tokenChecked(df: DataFrame, what: String,
                     admittedTokens: Seq[String]): DataFrame =
      bm25TokenChecked(df, path, what, admittedTokens,
        "bm25TopKAgainstIndex")
    // one bounded dictionary probe: df for exactly the query terms —
    // SUMMED across waves (each wave appended its own df rows; delete
    // waves appended negative ones) — plus the max-score bounds when
    // the layout carries them: max tf only ever grows across waves
    // (delete waves write the neutral 0), min dl only ever shrinks
    // (delete waves write Long.MaxValue), so a post-delete bound is
    // stale-but-valid — looser pruning, never a wrong answer
    val dictRaw = tokenChecked(spark.read.parquet(s"$path/terms"), "terms",
      waveTokens ++ tombTokens)
    val hasBounds = dictRaw.columns.contains("__maxtf") &&
      dictRaw.columns.contains("__mindl")
    val dictRows = (
      if (hasBounds)
        dictRaw.filter(col("term").isin(terms: _*))
          .groupBy(col("term")).agg(sum(col("__df")).as("__df"),
            max(col("__maxtf")).as("__maxtf"), min(col("__mindl")).as("__mindl"))
      else
        dictRaw.filter(col("term").isin(terms: _*))
          .groupBy(col("term")).agg(sum(col("__df")).as("__df"),
            lit(0L).as("__maxtf"), lit(Long.MaxValue).as("__mindl"))
      ).collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    val idf = terms.map { t =>
      val dfT = dictRows.get(t).map(_._1).getOrElse(0L).toDouble
      (nD - dfT + 0.5) / (dfT + 0.5)
    }
    val tombs = DedupOps.tombstoneIds(spark, path, params,
      "bm25TopKAgainstIndex")
    // the posting sliver for a term subset, optionally restricted to a
    // literal candidate id set (pushed to the parquet scan), always
    // with admitted tombstones subtracted
    def postings(subset: Seq[String], ids: Option[Seq[Any]]): DataFrame = {
      val p0 = tokenChecked(spark.read.parquet(s"$path/postings"),
          "postings", waveTokens)
        .filter(col("term").isin(subset: _*))
      val p1 = ids match {
        case Some(xs) => p0.filter(col(idCol).isin(xs: _*))
        case None     => p0
      }
      tombs match {
        case Some(t) => p1.join(t, Seq(idCol), "left_anti")
        case None    => p1
      }
    }
    val dlD = col("__dl").cast("double")
    // one term's contribution — the EXACT column the final chain sums,
    // reused standalone by the pruning phases
    def contribution(i: Int, tf: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column =
      lit(idf(i)) * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dlD / lit(avgdl)))
    // pivot to fixed per-term tf columns so the score sums in QUERY-
    // TERM order — the bm25TopK IEEE chain, not an unordered agg
    def scoreTopK(posts: DataFrame): DataFrame = {
      val pivoted = posts
        .groupBy(col(idCol), col("__dl"))
        .agg(
          max(when(col("term") === terms.head, col("__tf"))).as("__t0"),
          terms.tail.zipWithIndex.map { case (t, i) =>
            max(when(col("term") === t, col("__tf"))).as(s"__t${i + 1}")
          }: _*)
      val termScores = terms.indices.map { i =>
        contribution(i, coalesce(col(s"__t$i"), lit(0L)).cast("double"))
      }
      pivoted.withColumn("score", termScores.reduce(_ + _))
        .filter(col("score") > 0.0)
        .orderBy(col("score").desc, col(idCol).asc)
        .limit(k)
        .select(col(idCol), col("__dl").as("dl"), col("score"))
    }
    // ---- max-score pruning (LOSSLESS — every skip is justified by an
    // upper bound; any doubt falls back to the full plan) -------------
    // Per-term upper bound on any posting's contribution: the score is
    // increasing in tf and decreasing in dl, so f(maxtf, mindl) bounds
    // every (tf, dl) the term stores — for ANY (k1, b, avgdl), which is
    // why the DICTIONARY stores the parameter-free (maxtf, mindl) pair
    // instead of a baked score. Driver arithmetic mirrors the column
    // expression op-for-op (IEEE ops are monotone, so the bound holds
    // in floats, not just reals).
    def driverContribution(i: Int, tf: Double, dl: Double): Double =
      idf(i) * (tf * (k1 + 1.0)) /
        (tf + k1 * ((1.0 - b) + b * dl / avgdl))
    // pruning pays two fixed wave-scale driver jobs (threshold
    // bootstrap + candidate collect) to skip the non-essential terms'
    // posting rows; below `minPruneRows` total query-term postings the
    // full read is cheaper than the bootstrap (the 1x/10x textidx
    // points), so small posting sets take the one-scan plan
    val totalDf = dictRows.valuesIterator.map(_._1).filter(_ > 0L).sum
    val prunedResult: Option[DataFrame] =
      if (!hasBounds || terms.distinct != terms || totalDf < minPruneRows) None
      else {
        val ub = terms.indices.map { i =>
          dictRows.get(terms(i)) match {
            case Some((df, maxtf, mindl)) if df > 0L && maxtf > 0L =>
              driverContribution(i, maxtf.toDouble, mindl.toDouble)
            case _ => 0.0 // no live postings -> contributes nothing
          }
        }
        // bootstrap threshold: the k-th largest SINGLE-TERM contribution
        // of the best-bounded term is a lower bound on the final k-th
        // score (each of those k docs' true score >= that contribution)
        val tStar = ub.indices.maxBy(ub)
        val theta0 = if (ub(tStar) <= 0.0) Array.empty[Double] else
          postings(Seq(terms(tStar)), None)
            .select(contribution(tStar, col("__tf").cast("double")).as("__c"))
            .orderBy(col("__c").desc).limit(k)
            .collect().map(_.getDouble(0))
        if (theta0.length < k) None // fewer than k docs hold t* — no bound
        else {
          val theta = theta0.last
          // non-essential terms: the largest ascending-ub prefix whose
          // SUM stays strictly under theta — a doc matching only those
          // scores < theta <= kth score and can never rank
          val byUb = terms.indices.sortBy(ub)
          val ne = scala.collection.mutable.ArrayBuffer[Int]()
          var cum = 0.0
          for (i <- byUb) if (cum + ub(i) < theta) { cum += ub(i); ne += i }
          val neSet = ne.toSet
          val essential = terms.indices.filterNot(neSet).map(terms)
          if (ne.isEmpty) None // every term essential — nothing to skip
          else {
            // phase 1: exact contributions over the ESSENTIAL terms'
            // postings only (the skipped rows are the win), plus the
            // non-essential sum as a constant optimistic remainder
            val pivotE = postings(essential, None)
              .groupBy(col(idCol), col("__dl"))
              .agg(
                max(when(col("term") === essential.head, col("__tf"))).as("__e0"),
                essential.tail.zipWithIndex.map { case (t, i) =>
                  max(when(col("term") === t, col("__tf"))).as(s"__e${i + 1}")
                }: _*)
            val eScores = essential.indices.map { j =>
              val i = terms.indexOf(essential(j))
              contribution(i, coalesce(col(s"__e$j"), lit(0L)).cast("double"))
            }
            val cands = pivotE
              .withColumn("__ub", eScores.reduce(_ + _) + lit(cum))
              .filter(col("__ub") >= theta)
              .select(col(idCol))
              .limit(maxPruneCandidates + 1)
              .collect().map(_.get(0))
            if (cands.length > maxPruneCandidates) None // cap blown — full plan
            // phase 2: exact re-score of ONLY the candidates over all
            // terms (pushed id IN — the readIvfPqTopK refine
            // discipline); same pivot, same IEEE chain, bit-equal
            else Some(scoreTopK(postings(terms, Some(cands.toSeq))))
          }
        }
      }
    prunedResult.getOrElse(scoreTopK(postings(terms, None)))
  }

  /** FULLY at-rest hybrid retrieval: BM25 candidates from the
    * [[bm25TopKAgainstIndex]] layout (query terms' postings only),
    * exact-cosine re-rank with the candidates' vectors read from the
    * IVF-PQ layout via a pushed `id IN` filter (≤ `candidates` rows of
    * the vector columns — the layout is never scanned). The retrieval
    * architecture at 100 TB: neither stage touches the corpus; both
    * read slivers of write-once layouts. Bit-identical to
    * [[DatasetCorpusOps.hybridTopK]] on the same data. */
  def hybridTopKAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                             bm25Path: String, ivfPath: String,
                             vecIdCol: String, vecCol: String,
                             terms: Seq[String], query: Array[Float],
                             candidates: Int, k: Int, k1: Double = 1.2,
                             b: Double = 0.75): DataFrame = {
    require(candidates >= k && k >= 1,
      s"hybridTopKAgainstIndex: need candidates >= k >= 1: $candidates, $k")
    graft.GraftConf.checkDriverPushdown(spark, "hybridTopKAgainstIndex",
      candidates)
    val cands = bm25TopKAgainstIndex(spark, bm25Path, terms, candidates,
      k1, b)
    val idCol = cands.columns.head
    // bounded driver hop: <= `candidates` ids become a pushed IN filter
    // on the vector layout, so the refine reads vectors for exactly
    // the candidate rows (the readIvfPqTopK refine-pass discipline)
    val ids = cands.select(col(idCol)).collect().map(_.get(0))
    val meta = graft.operators.VectorOps.readIvfPqMeta(spark, ivfPath)
    val data = spark.read.parquet(s"$ivfPath/data")
    require(data.columns.contains("__graft_token"),
      s"hybridTopKAgainstIndex: $ivfPath/data has no __graft_token " +
        "column — the layout is torn or foreign; rewrite it")
    val vecs0 = data.filter(assert_true(col("__graft_token") === meta.token,
        lit(s"hybridTopKAgainstIndex: write-token mismatch between " +
          s"$ivfPath/meta and $ivfPath/data — rewrite the layout")).isNull)
      .filter(col(vecIdCol).isin(ids.toIndexedSeq: _*))
    // the vector layout's own delete waves subtract (a candidate whose
    // vector was purged drops out instead of re-ranking on stale bytes)
    val vecs = (graft.operators.VectorOps.ivfPqTombstones(spark, ivfPath,
        meta, vecIdCol) match {
      case Some(t) => vecs0.join(t, Seq(vecIdCol), "left_anti")
      case None    => vecs0
    }).select(col(vecIdCol).as(idCol), col(vecCol).as("__graft_hv"))
    cands.join(vecs, Seq(idCol))
      .withColumn("cos",
        graft.functions.cosineSimilarity(col("__graft_hv"), lit(query)))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("score"), col("cos"))
  }

  /** QUERY-SET hybrid retrieval, both stages at rest — the query-join
    * completion of [[hybridTopKAgainstIndex]]: every query's BM25
    * candidates come from ONE pruned posting read
    * ([[bm25TopKJoinAgainstIndex]]), the candidates' raw vectors come
    * from the IVF-PQ layout via a bounded pushed `id IN` (semi-join
    * past 4096 distinct candidates), and each query re-ranks its own
    * candidates by exact cosine against its own embedding (one
    * qid-keyed join — embeddings never fan out). The batch
    * serving/eval shape: N queries cost one posting sliver + one
    * candidate-sized vector read, never N scans. Tombstones on either
    * layout subtract (a purged doc neither ranks nor re-ranks).
    * `queries` = (queryId, term) rows; `queryVecs` = (queryId, vector).
    * Returns per query the top-k (doc, score, cos) by cosine, ordered. */
  def hybridTopKJoinAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                                 bm25Path: String, ivfPath: String,
                                 queries: DataFrame, queryVecs: DataFrame,
                                 queryIdCol: String, termCol: String,
                                 queryVecCol: String, vecIdCol: String,
                                 vecCol: String, candidates: Int, k: Int,
                                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(candidates >= k && k >= 1,
      s"hybridTopKJoinAgainstIndex: need candidates >= k >= 1: $candidates, $k")
    require(queryVecs.columns.contains(queryIdCol) &&
      queryVecs.columns.contains(queryVecCol),
      s"hybridTopKJoinAgainstIndex: queryVecs must carry '$queryIdCol' " +
        s"and '$queryVecCol' (has: ${queryVecs.columns.mkString(", ")})")
    val idCol = DedupOps.indexMeta(spark, bm25Path,
      "hybridTopKJoinAgainstIndex")("idCol")
    val cands = bm25TopKJoinAgainstIndex(spark, bm25Path, queries,
      queryIdCol, termCol, candidates, k1, b).localCheckpoint()
    // bounded driver hop for the vector read (the single-query verb's
    // discipline, capped): <= 4096 distinct candidate ids push as a
    // literal IN; larger query sets prune by semi-join instead
    val cap = math.min(4096, graft.GraftConf.maxDriverPushdown(spark))
    val ids = cands.select(col(idCol)).distinct()
      .limit(cap + 1).collect().map(_.get(0))
    val meta = graft.operators.VectorOps.readIvfPqMeta(spark, ivfPath)
    val data = spark.read.parquet(s"$ivfPath/data")
    require(data.columns.contains("__graft_token"),
      s"hybridTopKJoinAgainstIndex: $ivfPath/data has no __graft_token " +
        "column — the layout is torn or foreign; rewrite it")
    val vecs0 = data.filter(assert_true(col("__graft_token") === meta.token,
        lit(s"hybridTopKJoinAgainstIndex: write-token mismatch between " +
          s"$ivfPath/meta and $ivfPath/data — rewrite the layout")).isNull)
    val vecs1 =
      if (ids.length <= cap) vecs0.filter(col(vecIdCol).isin(ids.toIndexedSeq: _*))
      else vecs0.join(cands.select(col(idCol).as(vecIdCol)).distinct(),
        Seq(vecIdCol), "left_semi")
    val vecs = (graft.operators.VectorOps.ivfPqTombstones(spark, ivfPath,
        meta, vecIdCol) match {
      case Some(t) => vecs1.join(t, Seq(vecIdCol), "left_anti")
      case None    => vecs1
    }).select(col(vecIdCol).as(idCol), col(vecCol).as("__graft_hv"))
    val qv = queryVecs.select(col(queryIdCol), col(queryVecCol).as("__graft_qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol))
      .orderBy(col("cos").desc, col(idCol).asc)
    cands.join(vecs, Seq(idCol))
      .join(qv, Seq(queryIdCol))
      .withColumn("cos",
        graft.functions.cosineSimilarity(col("__graft_hv"), col("__graft_qv")))
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") <= k)
      .select(col(queryIdCol), col(idCol), col("score"), col("cos"))
      .orderBy(col(queryIdCol), col(idCol))
  }

  /** The PII pattern surface shared by [[DatasetCorpusOps.piiRedact]]
    * and its oracle: `(class, pattern, replacement)` applied IN ORDER
    * (order is part of the contract — a redacted span can't re-match a
    * later class). Every pattern sits in the Java-regex ∩ RE2 class (no
    * lookaround, no backreferences — `\b`, bounded repetition, and
    * non-capturing alternation are in both), so DuckDB/Trino replay the
    * redaction verbatim with `regexp_replace(..., 'g')`. Deliberately
    * high-recall shapes (the curation posture: over-redact training
    * text rather than leak); swap or extend the list per corpus. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    // `\+?` sits BEFORE the `\b`: a boundary can't occur between
    // whitespace and `+` (both non-word), so `\b\+?` never consumed a
    // leading `+` and international numbers redacted to `+<PHONE>`.
    // `\+?\b` lets the match start at the `+` itself (still Java∩RE2).
    ("phone", "\\+?\\b\\d{10,15}\\b", "<PHONE>"))

  implicit class DatasetCorpusOps[T](private val ds: Dataset[T]) extends AnyVal {

    /** PII detection + redaction — the privacy pass of a training-data
      * curation pipeline: per document, count each [[piiPatterns]]
      * class on the ORIGINAL text (counts are independent per class —
      * overlap between classes shows in both counters, which is what an
      * audit wants), then redact by applying the replacements in the
      * declared order. Pure codegen'd `regexp_count`/`regexp_replace`
      * chains — no UDF, shuffle-free, scales as a projection over the
      * corpus scan; the patterns' Java∩RE2 shape keeps every count and
      * the cleaned text bit-replayable in the oracle engine. Returns
      * `(idCol, text_clean, n_<class>..., n_pii)`. */
    def piiRedact(idCol: String, textCol: String): DataFrame = {
      val rawCounts = CorpusOps.piiPatterns.map { case (_, pat, _) =>
        regexp_count(col(textCol), lit(pat)).cast("long")
      }
      val named = rawCounts.zip(CorpusOps.piiPatterns).map {
        case (c, (name, _, _)) => c.as(s"n_$name")
      }
      val cleaned = CorpusOps.piiPatterns.foldLeft(col(textCol)) {
        case (c, (_, pat, repl)) => regexp_replace(c, pat, repl)
      }
      ds.toDF.select(
        (col(idCol) +: cleaned.as("text_clean") +: named) :+
          rawCounts.reduce(_ + _).as("n_pii"): _*)
    }

    /** Canonical-URL dedup — the Common-Crawl curation primitive: two
      * fetches of the SAME page routinely differ only in case, tracking
      * params, param order, fragments, `www.`, or default ports, and a
      * URL-level dedup removes them for the cost of one projection +
      * one shuffle (no text ever moves — this runs BEFORE the content
      * dedups and shrinks their input). Normalizes through
      * [[graft.functions.urlNormalize]], keeps the lowest `idCol` per
      * canonical URL (one window, one hash exchange on the canonical
      * key), and returns every surviving row plus its `url_norm`.
      * Null / schemeless URLs normalize to themselves and dedup as
      * their own keys. */
    def urlCanonicalDedup(idCol: String, urlCol: String): DataFrame = {
      val n = ds.toDF.withColumn("__graft_url_norm",
        graft.functions.urlNormalize(col(urlCol)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__graft_url_norm")).orderBy(col(idCol).asc)
      n.withColumn("__graft_rn", row_number().over(w))
        .filter(col("__graft_rn") === 1)
        .drop("__graft_rn")
        .withColumnRenamed("__graft_url_norm", "url_norm")
    }

    /** Per-document boilerplate fraction against the whole corpus: a
      * word `n`-gram is boilerplate iff it occurs in at least `minDocs`
      * DISTINCT documents; each document scores
      * `boilerplate_grams / total_grams` over its DISTINCT grams.
      * Documents shorter than `n` words have no grams and are absent
      * from the output (nothing to score).
      *
      * Contract: `idCol` must identify exactly ONE row per document
      * (the corpus-table invariant every dedup op here shares). The
      * in-row `array_distinct` gram dedup relies on it — a doc id
      * spread across several rows would count document frequency per
      * ROW and inflate both gram counts (ADVICE r16).
      *
      * Plain integer counts plus one double division, so any SQL engine
      * replays the scores bit-for-bit. */
    def boilerplateScore(idCol: String, textCol: String,
                         n: Int = 8, minDocs: Long = 2L): DataFrame = {
      require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
      // ONE tokenize pass, ONE gram-keyed exchange (r16 verdict #1):
      // per-doc gram dedup stays INSIDE the row (array_distinct — a
      // cross-document dedup never applies under the unique-id
      // contract), and document frequency is a count().over(gram)
      // window on the single exploded stream, so membership is a plain
      // comparison. The r16 attempt to SHARE a gram repartition between
      // a df aggregation and a membership join never did: column
      // pruning and join-key filters specialize the two consumer
      // subtrees (one carries the doc id, one doesn't), exchange reuse
      // cannot fire, and the final plan tokenized the corpus TWICE with
      // two gram exchanges (measured: r15 distinct 4.62 s, r16 shared-
      // repartition 4.12 s, this window shape 3.83 s median at sf0.1 —
      // in-JVM A/B in OPTIMIZATION_r17.md, bit-exact parity across all
      // three). At scale the win is structural: the heavy exploded-gram
      // stream crosses the network once instead of twice, and the
      // corpus scans once.
      val w = Window.partitionBy(col("__graft_gram"))
      ds.toDF
        .select(col(idCol).as("__graft_bid"),
          explode(array_distinct(wordGrams(col(textCol), n))).as("__graft_gram"))
        .withColumn("__graft_df", count(lit(1)).over(w))
        .groupBy(col("__graft_bid"))
        .agg(count(lit(1)).as("total_grams"),
          count(when(col("__graft_df") >= minDocs, lit(1)))
            .as("boilerplate_grams"))
        .select(col("__graft_bid").as(idCol),
          col("total_grams"), col("boilerplate_grams"),
          (col("boilerplate_grams").cast("double") /
            col("total_grams").cast("double")).as("boilerplate_frac"))
    }

    /** Winnowing fingerprints (the MOSS scheme: Schleimer, Wilkerson,
      * Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
      * SIGMOD 2003): hash every word `n`-gram, slide a window of `w`
      * consecutive gram hashes, keep each window's minimum, emit the
      * DISTINCT selected hashes per document. Guarantees any shared run
      * of `n + w - 1` words between two documents shares at least one
      * fingerprint — substring-robust near-dup detection, where minhash
      * only sees whole-document similarity.
      *
      * The "hash" is the md5 hex string and the window minimum is its
      * lexicographic minimum: both engines compute identical md5 hex
      * and compare ASCII identically, so the fingerprint set replays
      * exactly in SQL with no custom hash kernel. Documents with fewer
      * than `n + w - 1` words have no full window and emit nothing.
      *
      * Scale shape: one shuffle on the document id; the window sort is
      * per-document (gram position), never global. Fingerprint join
      * downstream is an equi-join on the fingerprint string (or its
      * fingerprint64 at petabyte scale — same note as the gram ops). */
    def winnowFingerprints(idCol: String, textCol: String,
                           n: Int = 4, w: Int = 4): DataFrame = {
      require(n >= 1 && w >= 1, s"n and w must be >= 1, got ($n, $w)")
      val g = ds.toDF.select(col(idCol),
        posexplode(wordGrams(col(textCol), n)).as(Seq("__graft_pos", "__graft_gram")))
      val byDoc = Window.partitionBy(col(idCol))
      val win = byDoc.orderBy(col("__graft_pos"))
        .rowsBetween(Window.currentRow, w - 1)
      g.withColumn("__graft_h", md5(col("__graft_gram")))
        .withColumn("__graft_n", count(lit(1)).over(byDoc))
        .withColumn("__graft_wmin", min(col("__graft_h")).over(win))
        // only full windows select fingerprints (window starts at pos)
        .filter(col("__graft_pos") <= col("__graft_n") - w)
        .select(col(idCol), col("__graft_wmin").as("fingerprint"))
        .distinct()
    }

    /** Candidate substring-duplication pairs: documents sharing at
      * least `minShared` winnowing fingerprints. By the winnowing
      * guarantee, any two documents sharing a run of
      * `n + w - 1 + (minShared-1)*w` words (approximately) surface
      * here — the cross-document analogue of what suffix-array
      * substring dedup finds, expressed as a fingerprint equi-join:
      * per-doc fingerprint sets are bounded (~2/(w+1) of gram count),
      * the join is fingerprint-keyed, and texts never ride it — the
      * same shape as [[DedupOps.contaminationPairs]]. Emits
      * `(id1, id2, shared_fps)` with `id1 < id2`. */
    def winnowPairs(idCol: String, textCol: String,
                    n: Int = 4, w: Int = 4, minShared: Long = 2L): DataFrame = {
      val fps = winnowFingerprints(idCol, textCol, n, w)
      val l = fps.select(col(idCol).as("id1"), col("fingerprint"))
      val r = fps.select(col(idCol).as("id2"), col("fingerprint"))
      l.join(r, Seq("fingerprint"))
        .filter(col("id1") < col("id2"))
        .groupBy(col("id1"), col("id2"))
        .agg(count(lit(1)).as("shared_fps"))
        .filter(col("shared_fps") >= minShared)
    }

    /** Exact corpus-wide heavy word n-grams — boilerplate DISCOVERY
      * (the flip side of the per-document repetition score): grams
      * occurring at least `minCount` times across the corpus are the
      * navigation chrome, license blocks, and template fragments a
      * curation pipeline then strips, caps, or feeds to
      * [[DedupOps]]-style span removal.
      *
      * The naive plan — explode every gram and groupBy — shuffles a
      * hash table the size of the CORPUS's distinct-gram set (at
      * 100 TB, itself terabytes). This verb bounds that with a
      * count-sketch prefilter that costs one extra (cheap) pass:
      * pass 1 aggregates occurrence counts of `hash(gram) mod
      * sketchWidth` BUCKETS — a partial-combined aggregation whose
      * state is at most `sketchWidth` rows per task, whatever the gram
      * cardinality — and keeps buckets with total >= minCount. A
      * bucket's count upper-bounds every member gram's count
      * (collisions only ever ADD), so discarding light buckets drops
      * NO heavy gram: the prefilter is exact-by-construction, the
      * classic count-min guarantee. Pass 2 re-explodes, keeps only
      * grams in surviving buckets (a broadcast semi-join against the
      * <= sketchWidth survivor ids — no driver collect), and counts
      * those exactly. Output `(gram, cnt)` is the exact heavy-hitter
      * set; the sketch only sized the work. Size `sketchWidth` ~
      * (corpus grams / minCount) * small constant so surviving buckets
      * stay a sliver; the default 2^16 handles the test scales with
      * room. */
    def heavyNgrams(textCol: String, n: Int, minCount: Long,
                    sketchWidth: Int = 1 << 16): DataFrame = {
      require(n >= 1, s"n must be >= 1, got $n")
      require(minCount >= 1, s"minCount must be >= 1, got $minCount")
      require(sketchWidth >= 1, s"sketchWidth must be >= 1, got $sketchWidth")
      // the same tokenization wordGrams uses, split once; a window's
      // bucket is a hash of its TOKEN HASHES, so the sketch pass never
      // materializes a single gram string (string building dominates
      // the gram kernel — measured 2.8 s of the 5.6 s two-string-pass
      // form at sf0.1). The bucket hash need not be engine-portable or
      // match hash(gram string): it only routes grams to sketch cells,
      // and same-gram -> same token hashes -> same bucket, so the
      // no-false-negative guarantee is unchanged.
      val toks = split(trim(col(textCol)), "[ \\t\\n\\r]+")
      val base = ds.toDF.select(toks.as("__toks"))
        .filter(size(col("__toks")) >= n)
        .select(col("__toks"),
          transform(col("__toks"), t => xxhash64(t)).as("__th"))
      def bucketAt(i: Column): Column = pmod(
        xxhash64((0 until n).map(j => element_at(col("__th"), i + j + 1)): _*),
        lit(sketchWidth.toLong))
      val starts = sequence(lit(0), size(col("__toks")) - n)
      val heavyBuckets = base
        .select(explode(transform(starts, i => bucketAt(i))).as("__graft_hb"))
        .groupBy(col("__graft_hb")).agg(count(lit(1)).as("__graft_hc"))
        .filter(col("__graft_hc") >= minCount)
        .select(col("__graft_hb"))
      // pass 2: gram strings alongside their window's bucket (positions
      // align by construction), exact count of survivors only
      base
        .select(explode(transform(starts, i =>
          struct(array_join(slice(col("__toks"), i + 1, lit(n)), " ").as("gram"),
            bucketAt(i).as("bucket")))).as("__g"))
        .select(col("__g.gram").as("gram"), col("__g.bucket").as("__graft_hb"))
        .join(broadcast(heavyBuckets), Seq("__graft_hb"), "left_semi")
        .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= minCount)
    }

    /** Fixed-size token chunking with stride (context-window slicing
      * for embedding/training pipelines): chunk `c` covers tokens
      * `[c*stride, c*stride + size)`; the last chunk may be shorter;
      * chunks start while `c*stride < n_tokens - size + stride` — i.e.
      * a final fragment shorter than a full stride's advance is folded
      * into the preceding chunk count. Documents with zero tokens emit
      * nothing. Pure per-row explode — no shuffle at all. */
    def tokenChunks(idCol: String, textCol: String,
                    size: Int, stride: Int): DataFrame = {
      require(size >= 1 && stride >= 1 && stride <= size,
        s"need 1 <= stride <= size, got (size=$size, stride=$stride)")
      val toks = graft.functions.tokens(col(textCol))
      val nTok = graft.functions.tokenCount(col(textCol))
      // ceil((n - size) / stride) + 1 full-or-tail chunks, min 1 for
      // any non-empty doc; floor-division stays exact at any document
      // length a context window will ever see
      val nChunks = when(nTok <= size, lit(1L))
        .otherwise(floor((nTok - size + stride - 1) / lit(stride)).cast("long") + 1L)
      ds.toDF
        .filter(nTok >= 1)
        .select(col(idCol), posexplode(transform(
          sequence(lit(0L), nChunks - 1L),
          c => array_join(slice(toks, (c * stride + 1L).cast("int"), lit(size)), " ")))
          .as(Seq("chunk_id", "chunk_text")))
    }

    /** BM25 top-k retrieval over the corpus for a FIXED literal term
      * set — the keyword-retrieval stage of a data pipeline (find the
      * training documents most relevant to an eval topic, rank
      * candidates for inspection, build topic-targeted subsets).
      *
      * Uses the Robertson odds-ratio idf `(N - df + 0.5)/(df + 0.5)`
      * WITHOUT the usual log wrapper: `ln` is not required to be
      * correctly rounded, so a log idf would not hash-replay across
      * engines (the [[unigramScore]] precedent). The odds ratio
      * preserves the idf ORDERING of terms exactly and keeps every
      * arithmetic step IEEE-replayable; rankings differ from log-BM25
      * only in how strongly rare terms dominate. The tf saturation
      * term `tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))` is standard BM25.
      *
      * Scale shape: corpus statistics (N, Σdl, per-term df) are ONE
      * bounded aggregation — map-side combined, `2 + |terms|` numbers
      * to the driver; scoring is a pure codegen'd expression over the
      * token array (no join — the term list rides in the plan); the
      * top-k is TakeOrderedAndProject (per-partition heaps, k-row
      * merge), never a global sort. An inverted-index layout would
      * serve ad-hoc queries better; for a fixed pipeline term set the
      * two-pass scan is the honest minimum. */
    def bm25TopK(idCol: String, textCol: String, terms: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
      require(terms.nonEmpty, "bm25TopK: need at least one query term")
      val df = ds.toDF
      val base = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
        .withColumn("__dl", size(col("__toks")).cast("long"))
      val statAggs =
        Seq(count(lit(1)).as("__n"), sum(col("__dl")).as("__sumdl")) ++
          terms.zipWithIndex.map { case (t, i) =>
            sum(when(array_contains(col("__toks"), t), 1L).otherwise(0L))
              .as(s"__df$i")
          }
      val stats = base.agg(statAggs.head, statAggs.tail: _*).head()
      val nD = stats.getLong(0).toDouble
      if (stats.getLong(0) == 0L)
        return base.select(col(idCol), col("__dl").as("dl"),
          lit(0.0).as("score")).limit(0)
      val avgdl = stats.getLong(1).toDouble / stats.getLong(0).toDouble
      val idf = terms.indices.map { i =>
        val dfT = stats.getLong(2 + i).toDouble
        (nD - dfT + 0.5) / (dfT + 0.5)
      }
      val dlD = col("__dl").cast("double")
      // every literal and association below mirrors the oracle SQL
      // text exactly — same IEEE graph, same doubles
      val termScores = terms.zipWithIndex.map { case (t, i) =>
        val tf = size(filter(col("__toks"), x => x === lit(t))).cast("double")
        lit(idf(i)) * (tf * lit(k1 + 1.0)) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dlD / lit(avgdl)))
      }
      base.withColumn("score", termScores.reduce(_ + _))
        .filter(col("score") > 0.0) // no term present -> not a hit
        .orderBy(col("score").desc, col(idCol).asc)
        .limit(k)
        .select(col(idCol), col("__dl").as("dl"), col("score"))
    }

    /** Persist this corpus's BM25 retrieval index AT REST: per-term
      * posting rows (term, id, tf, dl — the doc length rides every
      * posting so scoring never joins a doc table), a (term, df)
      * dictionary, and the corpus constants (N, Σdl) in the meta.
      * Term-clustered parquet: a query reads ONLY its terms' postings
      * (pushed `term IN` + range-clustered row groups) — at 100 TB
      * this is THE difference between retrieval and a corpus scan,
      * and [[bm25TopK]]'s per-query full scan becomes a write-once
      * cost. Token-paired meta as every graft layout. */
    def writeBm25Index(path: String, idCol: String, textCol: String): Unit = {
      require(!idCol.contains(",") && !idCol.contains(":"),
        s"writeBm25Index: idCol '$idCol' would break the meta codec")
      val spark = ds.sparkSession
      val token = java.util.UUID.randomUUID().toString
      // the (term, id, tf, dl) table checkpoints once and feeds BOTH
      // the postings and the dictionary writes — without it the
      // tokenize+explode+combine plan would run twice over the corpus
      val tf = ds.toDF
        .select(col(idCol),
          graft.functions.tokens(col(textCol)).as("__toks"))
        .withColumn("__dl", size(col("__toks")).cast("long"))
        .select(col(idCol), col("__dl"), explode(col("__toks")).as("term"))
        .groupBy(col("term"), col(idCol), col("__dl"))
        .agg(count(lit(1)).as("__tf"))
        .localCheckpoint()
      tf.select(col("term"), col(idCol), col("__tf"), col("__dl"))
        .withColumn("__graft_token", lit(token))
        .repartitionByRange(col("term"))
        .sortWithinPartitions(col("term"), col(idCol))
        .write.mode("overwrite").parquet(s"$path/postings")
      // (max tf, min dl) per term are the max-score bounds: parameter-
      // free (valid for any query's k1/b and any future avgdl), they
      // let the reader skip whole non-essential terms losslessly
      tf.groupBy(col("term")).agg(count(lit(1)).as("__df"),
          max(col("__tf")).as("__maxtf"), min(col("__dl")).as("__mindl"))
        .withColumn("__graft_token", lit(token))
        .repartitionByRange(col("term"))
        .sortWithinPartitions(col("term"))
        .write.mode("overwrite").parquet(s"$path/terms")
      // corpus constants from the SAME tokenization: every doc counts,
      // including all-stopword docs with zero postings? No — tokens()
      // never drops tokens, so a doc with any token has postings; a
      // genuinely empty doc has dl 0 and contributes nothing to either
      // constant the way bm25TopK's base table counts it — so N and
      // Σdl come from the corpus directly, NOT from the postings
      val base = ds.toDF
        .select(size(graft.functions.tokens(col(textCol))).cast("long").as("__dl"))
        .agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__sumdl")).head()
      // a fresh full write starts a new generation: stale tombstones
      // from the previous one must not shadow it
      DedupOps.deleteDir(spark, s"$path/tombstones")
      val idOk = DedupOps.writeIdBloomRow(spark, path, "postings", idCol,
        token, "overwrite")
      import spark.implicits._
      DedupOps.publishMeta(spark, path, Seq(s"params=idCol:$idCol",
        s"n=${base.getLong(0)}",
        s"sumdl=${base.getLong(1)}",
        "token=" + token,
        "waves=" + token)
        ++ DedupOps.idBloomMetaLine(idOk))
    }

    /** Admit THIS dataset into a [[writeBm25Index]] layout as a new
      * ingest wave at O(wave): the wave's postings and its own (term,
      * df) rows append under a FRESH wave token, the corpus constants
      * (N, Σdl) SUM into the meta, and the meta's token list commits
      * LAST — a torn append refuses at read, the graft wave
      * discipline. After the append the layout answers EXACTLY like a
      * fresh full write over the union (constants and df are sums;
      * posting rows are per-doc facts) — spec-pinned bit parity. */
    def appendBm25Index(path: String, idCol: String, textCol: String): Unit = {
      val spark = ds.sparkSession
      val params = DedupOps.indexMeta(spark, path, "appendBm25Index")
      val storedId = params("idCol")
      // refuse BEFORE any row lands: appending to a waves-less or
      // internally inconsistent meta would tear the layout instead
      require(params.contains("__waves"),
        s"appendBm25Index: $path/meta has no 'waves' line — the layout " +
          "predates wave support; rewrite with writeBm25Index")
      require(params("__waves").split(";").contains(params("__token")),
        s"appendBm25Index: write-token mismatch inside $path/meta " +
          "(token not in the waves list) — rewrite the layout")
      DedupOps.idClashCheck(spark, path, "postings", "appendBm25Index",
        ds.toDF.select(col(idCol).as(storedId)), storedId, params)
      val waveToken = java.util.UUID.randomUUID().toString
      // one checkpointed tf feeds both the postings and dictionary
      // appends (the writeBm25Index discipline)
      val tf = ds.toDF
        .select(col(idCol).as(storedId),
          graft.functions.tokens(col(textCol)).as("__toks"))
        .withColumn("__dl", size(col("__toks")).cast("long"))
        .select(col(storedId), col("__dl"), explode(col("__toks")).as("term"))
        .groupBy(col("term"), col(storedId), col("__dl"))
        .agg(count(lit(1)).as("__tf"))
        .localCheckpoint()
      tf.select(col("term"), col(storedId), col("__tf"), col("__dl"))
        .withColumn("__graft_token", lit(waveToken))
        .repartitionByRange(col("term"))
        .sortWithinPartitions(col("term"), col(storedId))
        .write.mode("append").parquet(s"$path/postings")
      // per-wave max-score bounds merge at read (max/min across waves);
      // a pre-bounds layout keeps its schema — mixing bound and
      // boundless dictionary files would corrupt the read
      val dictAgg =
        if (spark.read.parquet(s"$path/terms").columns.contains("__maxtf"))
          tf.groupBy(col("term")).agg(count(lit(1)).as("__df"),
            max(col("__tf")).as("__maxtf"), min(col("__dl")).as("__mindl"))
        else tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
      dictAgg
        .withColumn("__graft_token", lit(waveToken))
        .repartitionByRange(col("term"))
        .sortWithinPartitions(col("term"))
        .write.mode("append").parquet(s"$path/terms")
      val base = ds.toDF
        .select(size(graft.functions.tokens(col(textCol))).cast("long").as("__dl"))
        .agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__sumdl")).head()
      val idOk = params.get("__idbloom").contains("yes") &&
        DedupOps.writeIdBloomRow(spark, path, "postings", storedId,
          waveToken, "append")
      DedupOps.publishMeta(spark, path, Seq("params=idCol:" + storedId,
        s"n=${params("__n").toLong + base.getLong(0)}",
        s"sumdl=${params("__sumdl").toLong + base.getLong(1)}",
        "token=" + params("__token"),
        "waves=" + params("__waves") + ";" + waveToken)
        ++ DedupOps.tombsMetaLine(params)
        ++ DedupOps.idBloomMetaLine(idOk))
    }

    /** Hybrid retrieval: BM25 keyword candidates re-ranked by exact
      * embedding cosine — the two-stage retrieval shape every RAG /
      * retrieval pipeline runs (cheap lexical recall, expensive
      * semantic precision). Stage 1 is [[bm25TopK]] at `candidates`
      * (its one corpus scan + tiny top-k); stage 2 joins ONLY the
      * candidate ids to their vectors (broadcast-sized by
      * construction — the corpus's embeddings are never scanned
      * beyond the semi-join) and re-ranks by the codegen'd cosine.
      * Returns (id, score, cos) at `k`, ordered by cosine with the id
      * tie-break. Exactly SQL-replayable end to end: both stages'
      * kernels already hold the hash-oracle IEEE contract. */
    def hybridTopK(idCol: String, textCol: String, terms: Seq[String],
                   vectors: Dataset[_], vecIdCol: String, vecCol: String,
                   query: Array[Float], candidates: Int, k: Int,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
      require(candidates >= k && k >= 1,
        s"hybridTopK: need candidates >= k >= 1: $candidates, $k")
      bm25TopK(idCol, textCol, terms, candidates, k1, b)
        .join(vectors.toDF.select(col(vecIdCol).as(idCol),
          col(vecCol).as("__graft_hv")), Seq(idCol))
        .withColumn("cos", cosineSimilarity(col("__graft_hv"), lit(query)))
        .orderBy(col("cos").desc, col(idCol).asc)
        .limit(k)
        .select(col(idCol), col("score"), col("cos"))
    }

    /** Per-document unigram "likelihood" quality score — the cheap,
      * fully-SQL-replayable stand-in for the KenLM-perplexity filter of
      * CCNet-style pipelines: documents whose tokens are corpus-typical
      * score high, documents full of rare junk (mojibake, hashes, code
      * spill) score low. Score = (Σ over token OCCURRENCES of that
      * token's corpus count) / (n_doc_tokens · N_corpus_tokens) — the
      * mean corpus unigram probability of the document's tokens. All
      * counting is exact integer arithmetic; the single final double
      * division is IEEE-correctly-rounded in every engine (deliberately
      * NO log: `ln` is not required correctly rounded, so a true
      * log-likelihood would not hash-replay across engines).
      *
      * Scale shape: the count table is vocabulary-sized (partial
      * aggregation collapses each mapper's tokens before its shuffle);
      * the score join is token-keyed with exactly ONE row per token on
      * the count side, so hot stopword keys replicate nothing — AQE
      * skew handling splits the fat left partitions. The corpus total
      * is derived from the count table, and at runtime AQE reuses the
      * count shuffle for it (`ReusedExchange`, pinned by spec) — two
      * corpus passes total, never three. Documents with zero tokens
      * score 0.0. */
    def unigramScore(idCol: String, textCol: String): DataFrame = {
      val df = ds.toDF
      val toks = df.select(col(idCol).as("__graft_uid"),
        explode(tokens(col(textCol))).as("__graft_tok"))
      val counts = toks.groupBy(col("__graft_tok"))
        .agg(count(lit(1)).as("__graft_cnt"))
      val totalDf = counts.agg(sum(col("__graft_cnt")).as("__graft_total"))
      val perDoc = toks.join(counts, Seq("__graft_tok"))
        .groupBy(col("__graft_uid"))
        .agg(sum(col("__graft_cnt")).as("sum_cnt"),
          count(lit(1)).as("n_tokens"))
      df.select(col(idCol)).join(
          perDoc.withColumnRenamed("__graft_uid", idCol), Seq(idCol), "left")
        .crossJoin(broadcast(totalDf))
        .select(col(idCol),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("sum_cnt"), lit(0L)).as("sum_cnt"),
          when(coalesce(col("n_tokens"), lit(0L)) === 0L, lit(0.0))
            .otherwise(col("sum_cnt").cast("double") /
              (col("n_tokens") * col("__graft_total")).cast("double"))
            .as("unigram_score"))
    }

    /** Per-group vocabulary statistics with a certified sketch: exact
      * distinct-token count next to the HyperLogLog++ estimate
      * (`approx_count_distinct`) and a boolean verdict that the sketch
      * landed within `bound` relative error. The sketch is the scale
      * path (fixed-size registers, no distinct shuffle; order- and
      * partition-independent, so the estimate is deterministic); the
      * exact count is the certificate. At 100 TB run the sketch alone —
      * the verdict column exists so small-scale runs can prove the
      * sketch's contract before you trust it where exact is
      * unaffordable ("estimate the dedup rate before paying for it"). */
    def vocabStats(groupCol: String, textCol: String,
                   rsd: Double = 0.02, bound: Double = 0.05): DataFrame = {
      val toks = ds.toDF.select(col(groupCol),
        explode(tokens(col(textCol))).as("__graft_tok"))
      toks.groupBy(col(groupCol))
        .agg(countDistinct(col("__graft_tok")).as("n_distinct_exact"),
          approx_count_distinct(col("__graft_tok"), rsd).as("__graft_approx"))
        .withColumn("within_bound",
          abs(col("__graft_approx") - col("n_distinct_exact")).cast("double") /
            col("n_distinct_exact").cast("double") <= bound)
        .drop("__graft_approx")
    }

    /** Source/domain reputation filter (the C4 / RefinedWeb "drop bad
      * domains" stage): keep only documents whose `groupCol` (source,
      * domain, crawl segment) has mean [[graft.functions.qualityScore]]
      * of at least `minMean`, and attach that mean as `source_mean_q`.
      * The mean is a decimal-exact sum divided by the count
      * ([[graft.Tables.davg]]), so aggregation order never perturbs it
      * and SQL engines replay the kept set bit-for-bit.
      *
      * Scale shape: one partial-aggregated groupBy on the group key
      * builds the reputation table (cardinality = #sources, tiny);
      * surviving sources broadcast back onto the corpus — the corpus
      * itself never shuffles. */
    def sourceReputationFilter(groupCol: String, textCol: String,
                               minMean: Double): DataFrame = {
      val stats = ds.toDF.groupBy(col(groupCol))
        .agg(graft.Tables.davg(qualityScore(col(textCol))).as("source_mean_q"))
        .filter(col("source_mean_q") >= minMean)
      ds.toDF.join(broadcast(stats), Seq(groupCol))
    }

    /** Deterministic contiguous sequence packing: within each
      * `groupCol` shard, documents in ascending `idCol` order are
      * assigned `bin = exclusive-prefix-sum(tokens) div capacity` — the
      * streaming next-fit packing a sequential packer over the same
      * order would produce, except a document straddling a capacity
      * boundary stays in the bin it starts in (bins can overflow by at
      * most one document; no document is ever split). Emits the
      * exclusive prefix sum as `cum_tokens` so callers can compute
      * intra-bin offsets.
      *
      * Integer arithmetic end to end (`div` is integral division), so
      * the assignment replays exactly in any engine. */
    def sequencePack(groupCol: String, idCol: String, tokens: Column,
                     capacity: Long): DataFrame = {
      require(capacity >= 1, s"capacity must be >= 1, got $capacity")
      val w = Window.partitionBy(col(groupCol)).orderBy(col(idCol))
        .rowsBetween(Window.unboundedPreceding, -1)
      ds.toDF
        .select(col(groupCol), col(idCol), tokens.cast("long").as("tok_count"))
        .withColumn("cum_tokens", coalesce(sum(col("tok_count")).over(w), lit(0L)))
        .withColumn("bin", expr(s"cum_tokens div ${capacity}L"))
    }

    /** GLOBAL deterministic sequence packing: the same next-fit bin
      * assignment as [[sequencePack]], but over the single corpus-wide
      * ordering `(groupCol, idCol)` — bins may span group boundaries,
      * so the packed stream has no per-shard padding waste.
      *
      * A global exclusive prefix sum is a sequential chain, but it
      * DECOMPOSES: this is the classic two-pass scan, expressed
      * declaratively so no stage ever sees more than a bounded window.
      *
      *  1. within-bucket pass — `idCol div bucketWidth` splits each
      *     group into contiguous id ranges; a window partitioned by
      *     (group, bucket) computes the exclusive prefix inside each
      *     bucket (≤ `bucketWidth` rows per window partition, never a
      *     whole group on one task);
      *  2. bucket offsets — per-bucket token totals (ONE tiny
      *     partial-combined aggregation, n/bucketWidth rows) get their
      *     own exclusive prefix via a window partitioned by the group
      *     (#buckets-per-group rows per partition);
      *  3. group offsets — per-group totals (#groups rows) get the
      *     cross-group exclusive prefix; the frame is aggregate-sized,
      *     so its single-partition window is free.
      *
      * `cum_tokens = group_off + bucket_off + in_bucket` reproduces the
      * sequential scan exactly; both offset tables broadcast back onto
      * the corpus (size n/bucketWidth and #groups — pick `bucketWidth`
      * so n/bucketWidth stays broadcastable: 2^20 keeps a 10^11-doc
      * corpus's bucket table at ~10^5 rows). No global sort, no
      * single-partition pass over data rows, and the corpus shuffles
      * once (the within-bucket window); integer arithmetic end to end,
      * so any engine's plain global window sum replays it bit-exactly. */
    def sequencePackGlobal(groupCol: String, idCol: String, tokens: Column,
                           capacity: Long, bucketWidth: Long = 1L << 20): DataFrame = {
      require(capacity >= 1, s"capacity must be >= 1, got $capacity")
      require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
      // the bucket key is integral division of the id, so the id MUST
      // be integral: a string id's SORT order (the documented global
      // ordering) disagrees with its numeric cast's bucket order
      // ("100" sorts before "63" but buckets after it), which would
      // silently misorder the prefix sum. Per-group sequencePack works
      // for any orderable id; the global decomposition needs this.
      val idType = ds.toDF.schema(idCol).dataType
      require(Seq("byte", "short", "integer", "long").contains(idType.typeName),
        s"sequencePackGlobal: idCol '$idCol' must be an integral type " +
          s"(its ${idType.typeName} sort order would disagree with the " +
          "bucket key's numeric order); use sequencePack for non-numeric ids")
      // `tokens` is assumed non-negative (token counts): the bucket
      // total below reads the LAST row's prefix+own, exact only when
      // later rows never decrease the running sum
      val base = ds.toDF
        .select(col(groupCol), col(idCol), tokens.cast("long").as("tok_count"))
        // truncating div is monotone in idCol, so buckets are contiguous
        // ranges of the ordering whatever the id sign
        .withColumn("__bucket", expr(s"cast($idCol as bigint) div ${bucketWidth}L"))
      val wIn = Window.partitionBy(col(groupCol), col("__bucket"))
        .orderBy(col(idCol))
        .rowsBetween(Window.unboundedPreceding, -1)
      val withIn = base.withColumn("__in_bucket",
        coalesce(sum(col("tok_count")).over(wIn), lit(0L)))
      // bucket totals DERIVED FROM the windowed frame, not from a second
      // read of `base`: max(prefix + own) over a bucket IS its token sum
      // (the prefix is monotone under non-negative tokens), and because
      // this groupBy keys on the window's own partitioning, the ONE
      // exchange feeding the window is reused — the corpus is scanned
      // and tokenized exactly once
      val bucketTotals = withIn.groupBy(col(groupCol), col("__bucket"))
        .agg(max(col("__in_bucket") + col("tok_count")).as("__bucket_tok"),
          // the max(prefix+own) = bucket-sum identity above holds ONLY
          // for non-negative tokens; a negative count would silently
          // corrupt every downstream offset. Carrying the bucket min
          // through the SAME partial agg (no extra pass) lets the tiny
          // per-bucket side fail loudly instead.
          min(col("tok_count")).as("__bucket_min"))
      val wBucket = Window.partitionBy(col(groupCol)).orderBy(col("__bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val bucketOff = bucketTotals
        .filter(assert_true(col("__bucket_min") >= 0L,
          lit("sequencePackGlobal: tokens must be non-negative — a " +
            "negative count breaks the bucket-total identity (use " +
            "greatest(tokens, 0) or fix the expression)")).isNull)
        .withColumn("__bucket_off",
          coalesce(sum(col("__bucket_tok")).over(wBucket), lit(0L)))
      val groupTotals = bucketTotals.groupBy(col(groupCol))
        .agg(sum(col("__bucket_tok")).as("__group_tok"))
      val wGroup = Window.orderBy(col(groupCol))
        .rowsBetween(Window.unboundedPreceding, -1)
      val groupOff = groupTotals.withColumn("__group_off",
        coalesce(sum(col("__group_tok")).over(wGroup), lit(0L)))
        .select(col(groupCol), col("__group_off"))
      withIn
        .join(broadcast(bucketOff.select(col(groupCol), col("__bucket"),
          col("__bucket_off"))), Seq(groupCol, "__bucket"))
        .join(broadcast(groupOff), Seq(groupCol))
        .withColumn("cum_tokens",
          col("__group_off") + col("__bucket_off") + col("__in_bucket"))
        .withColumn("bin", expr(s"cum_tokens div ${capacity}L"))
        .select(col(groupCol), col(idCol), col("tok_count"),
          col("cum_tokens"), col("bin"))
    }

    /** Data-selection importance weights (the DSIR recipe, reduced to
      * unigram features and kept log-free): each document scores the
      * MEAN likelihood ratio of its tokens under a target-domain
      * unigram LM vs the raw-corpus unigram LM, with add-one
      * smoothing — documents that look like the target distribution
      * (`targetPred` selects the exemplar docs) score above 1,
      * off-distribution documents below. Feed the weight into
      * [[SampleOps]] (e.g. keep `knuthFrac(id) * wMax < weight`) for
      * importance resampling of a raw crawl toward a curated domain.
      *
      * Engine-replay contract: token counts and totals are exact
      * integers; each per-token ratio is two correctly-rounded
      * divisions in a fixed shape
      * `((m+1)/(M+V)) / ((n+1)/(N+V))`; the per-document sum runs
      * through [[graft.Tables.dsum]]'s decimal cast, so it is
      * order- and partition-independent (the trade: ratios truncate
      * at 6 decimal places — documented, deterministic); one final
      * division by the token count. No `ln` anywhere (not correctly
      * rounded across engines — the [[unigramScore]] precedent), so
      * the classic sum-of-log-ratios becomes a mean of ratios: the
      * same ordering signal for selection, exactly replayable.
      *
      * Scale shape: both LMs are vocabulary-sized count tables from
      * partial-combined groupBys; the score join is token-keyed onto
      * the vocab table (text never rides a join); one doc-keyed
      * aggregation. The three scalars (N, M, V) broadcast. */
    def importanceWeights(idCol: String, textCol: String,
                          targetPred: Column): DataFrame =
      scoreWithRatios(importanceRatios(textCol, targetPred), idCol, textCol)

    /** The trainable half of [[importanceWeights]]: the per-token
      * likelihood-ratio table `(token, ratio)` fit on THIS corpus —
      * persist it and hand it to [[scoreWithRatios]] to score other
      * (or later) corpora against a frozen fit. The periodic-refit /
      * online-score production split, exactly the
      * [[VectorOps.DatasetVectorOps.kmeansCenters]] /
      * `assignClusters` shape for text. */
    def importanceRatios(textCol: String, targetPred: Column): DataFrame = {
      val df = ds.toDF
      val raw = df
        .select(explode(graft.functions.tokens(col(textCol))).as("__graft_tok"))
        .groupBy(col("__graft_tok"))
        .agg(count(lit(1)).as("__graft_n"))
      val tgt = df.filter(targetPred)
        .select(explode(graft.functions.tokens(col(textCol))).as("__graft_tok"))
        .groupBy(col("__graft_tok"))
        .agg(count(lit(1)).as("__graft_m"))
      // ratio table over the RAW vocabulary (target-only tokens cannot
      // occur in a doc scored against its own fit); V = raw vocab size
      val totals = raw.agg(
        sum(col("__graft_n")).as("__graft_nn"),
        count(lit(1)).as("__graft_v"))
        .crossJoin(tgt.agg(
          coalesce(sum(col("__graft_m")), lit(0L)).as("__graft_mm")))
      raw.join(tgt, Seq("__graft_tok"), "left")
        .crossJoin(broadcast(totals))
        .select(col("__graft_tok").as("token"),
          (((coalesce(col("__graft_m"), lit(0L)) + 1L).cast("double") /
              (col("__graft_mm") + col("__graft_v")).cast("double")) /
            ((col("__graft_n") + 1L).cast("double") /
              (col("__graft_nn") + col("__graft_v")).cast("double")))
            .as("ratio"))
    }

    /** The stateless half of [[importanceWeights]]: score THIS dataset
      * against a FROZEN `(token, ratio)` table from
      * [[importanceRatios]] — a token-keyed join + one per-doc
      * aggregation, no corpus statistics recomputed, so it applies
      * per micro-batch (`foreachBatch`) for importance scoring at
      * ingest. Tokens outside the frozen vocabulary are skipped (the
      * mean runs over in-vocabulary tokens; `n_tokens` counts those),
      * and a doc with no known token scores 0. Scoring a corpus
      * against its own fit reproduces [[importanceWeights]] exactly —
      * the fit covers every token, so nothing is skipped. */
    def scoreWithRatios(ratios: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
      val df = ds.toDF
      val toks = df.select(col(idCol).as("__graft_iid"),
        explode(graft.functions.tokens(col(textCol))).as("__graft_tok"))
      val perDoc = toks.join(
          ratios.select(col("token").as("__graft_tok"),
            col("ratio").as("__graft_r")),
          Seq("__graft_tok"))
        .groupBy(col("__graft_iid"))
        .agg(graft.Tables.dsum(col("__graft_r")).as("__graft_sum"),
          count(lit(1)).as("n_tokens"))
      df.select(col(idCol)).join(
          perDoc.withColumnRenamed("__graft_iid", idCol), Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          when(coalesce(col("n_tokens"), lit(0L)) === 0L, lit(0.0))
            .otherwise(col("__graft_sum") / col("n_tokens").cast("double"))
            .as("imp_weight"))
    }

    /** One counting iteration of byte-pair-encoding tokenizer training:
      * the `topN` most frequent ADJACENT symbol pairs across the corpus,
      * weighted by word frequency — the statistic BPE training computes
      * per merge round (the top pair becomes the next merge rule; the
      * driver loop re-runs this after applying each merge, exactly like
      * the Lloyd rounds of [[VectorOps]]). Symbols here are the initial
      * single-character alphabet; repeats inside a word count every
      * occurrence, the standard BPE convention.
      *
      * Scale shape: the corpus collapses to its WORD VOCABULARY first
      * (one partial-combined groupBy — Zipf makes this table orders of
      * magnitude smaller than the token stream), pair extraction and the
      * weighted pair count run over that vocabulary table, and the topN
      * cut is TakeOrderedAndProject. Document text never rides a join;
      * nothing driver-side except the final `topN` rows. Deterministic:
      * ties at the cut break lexicographically on (lhs, rhs). */
    def bpePairStats(textCol: String, topN: Int = 50): DataFrame = {
      require(topN >= 1, s"topN must be >= 1, got $topN")
      val wc = ds.toDF
        .select(explode(graft.functions.tokens(col(textCol))).as("__graft_w"))
        .groupBy(col("__graft_w")).agg(count(lit(1)).as("__graft_n"))
      // '.' never matches a tokenizer-split word boundary (tokens carry
      // no whitespace), so this is exactly the character alphabet; the
      // sequence() is guarded because Spark's sequence(1, 0) counts DOWN
      val chars = wc.withColumn("__graft_cs",
        regexp_extract_all(col("__graft_w"), lit("."), lit(0)))
      val idx = when(size(col("__graft_cs")) >= 2,
          sequence(lit(1), size(col("__graft_cs")) - 1))
        .otherwise(array().cast("array<int>"))
      chars.select(col("__graft_n"), col("__graft_cs"),
          explode(idx).as("__graft_i"))
        .select(col("__graft_n"),
          element_at(col("__graft_cs"), col("__graft_i")).as("lhs"),
          element_at(col("__graft_cs"), col("__graft_i") + 1).as("rhs"))
        .groupBy(col("lhs"), col("rhs"))
        .agg(sum(col("__graft_n")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("lhs").asc, col("rhs").asc)
        .limit(topN)
    }

    /** Cross-corpus repeated-passage removal — the passage-level
      * counterpart of document dedup (repeated spans across DIFFERENT
      * documents: quoted reposts, templated headers, license blocks —
      * the duplication document-level dedup cannot see). Every document
      * splits into fixed-`width`-word passages; only the globally FIRST
      * occurrence of each distinct passage survives (ordered by
      * (document id, position) — a total order, so the result is
      * independent of partitioning); each document is reassembled from
      * its surviving passages in original order.
      *
      * Returns `(idCol, text_clean, kept_passages, total_passages)` for
      * EVERY input document — a document whose passages all first
      * occurred elsewhere keeps an empty `text_clean` (the pipeline's
      * length filter then drops it).
      *
      * Scale shape: the first-occurrence shuffle carries
      * `(md5(passage), id, pos)` — a 32-char digest and two longs, never
      * passage text (same digest discipline as [[DedupOps]]; 2^128
      * collision space). Passage text rides only the per-document
      * reassembly, keyed by id. `min(struct(id, pos))` partial-aggregates
      * map-side, so a passage repeated millions of times (the exact case
      * this operator exists for) sends one candidate per mapper, not one
      * per occurrence. Total passage counts come straight from the token
      * count — no extra shuffle. */
    def passageDedup(idCol: String, textCol: String,
                     width: Int = 20): DataFrame = {
      require(width >= 1, s"width must be >= 1, got $width")
      val df = ds.toDF
      val toks = graft.functions.tokens(col(textCol))
      val nTok = graft.functions.tokenCount(col(textCol))
      val nPass = ceil(nTok / lit(width.toDouble)).cast("long")
      val passages = CorpusOps.passagesOf(col(textCol), width)
      val chunked = df.select(col(idCol).as("__graft_did"),
        posexplode(passages).as(Seq("__graft_pos", "__graft_pass")))
      val firsts = chunked
        .groupBy(md5(col("__graft_pass")).as("__graft_key"))
        .agg(min(struct(col("__graft_did"), col("__graft_pos"))).as("__graft_f"))
        .select(col("__graft_f.__graft_did").as("__graft_did"),
          col("__graft_f.__graft_pos").as("__graft_pos"))
      val cleaned = chunked
        .join(firsts, Seq("__graft_did", "__graft_pos"), "left_semi")
        .groupBy(col("__graft_did"))
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("__graft_pos"), col("__graft_pass")))),
            x => x("__graft_pass")), " ").as("text_clean"),
          count(lit(1)).as("kept_passages"))
      df.select(col(idCol), nPass.as("total_passages"))
        .join(cleaned.withColumnRenamed("__graft_did", idCol), Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("text_clean"), lit("")).as("text_clean"),
          coalesce(col("kept_passages"), lit(0L)).as("kept_passages"),
          col("total_passages"))
    }

    /** Per-document word-ORDER typicality — the bigram companion of
      * [[unigramScore]]: score = (Σ over the document's adjacent token
      * pairs of that pair's corpus bigram count) / (Σ of the first
      * token's corpus unigram count) — a pooled bigram-to-unigram
      * evidence ratio in (0, 1]. A document whose unigram MIX is
      * corpus-typical but whose word order is scrambled (the failure
      * mode unigram scoring cannot see: shuffled text, keyword stuffing,
      * interleaved columns) scores low, because its bigrams are rare
      * while its unigrams stay common.
      *
      * All counting is exact integer arithmetic with ONE final double
      * division (the [[unigramScore]] replay discipline — no `ln`, no
      * per-term double sums), so any SQL engine reproduces the scores
      * bit-for-bit. Documents with fewer than two tokens score 0.0.
      *
      * Scale shape: both count tables are vocabulary-sized (partial
      * aggregation collapses each mapper's stream before its shuffle) —
      * the bigram vocabulary is the one to watch, but Zipf keeps it
      * orders of magnitude under the pair-occurrence stream; the two
      * score joins are token-keyed with ONE row per key on the count
      * side (hot stopword-pair keys replicate nothing; AQE splits the
      * fat occurrence partitions). Document text never rides a join. */
    def bigramScore(idCol: String, textCol: String): DataFrame = {
      val df = ds.toDF
      val base = df.select(col(idCol).as("__graft_bid"),
          graft.functions.tokens(col(textCol)).as("__graft_ts"))
        .withColumn("__graft_i",
          explode(when(size(col("__graft_ts")) >= 2,
              sequence(lit(1), size(col("__graft_ts")) - 1))
            .otherwise(array().cast("array<int>"))))
        .select(col("__graft_bid"),
          element_at(col("__graft_ts"), col("__graft_i")).as("__graft_w1"),
          element_at(col("__graft_ts"), col("__graft_i") + 1).as("__graft_w2"))
      val uniCounts = df
        .select(explode(graft.functions.tokens(col(textCol))).as("__graft_w1"))
        .groupBy(col("__graft_w1")).agg(count(lit(1)).as("__graft_c1"))
      val biCounts = base.groupBy(col("__graft_w1"), col("__graft_w2"))
        .agg(count(lit(1)).as("__graft_c12"))
      val perDoc = base
        .join(biCounts, Seq("__graft_w1", "__graft_w2"))
        .join(uniCounts, Seq("__graft_w1"))
        .groupBy(col("__graft_bid"))
        .agg(sum(col("__graft_c12")).as("__graft_s12"),
          sum(col("__graft_c1")).as("__graft_s1"),
          count(lit(1)).as("n_bigrams"))
      df.select(col(idCol)).join(
          perDoc.withColumnRenamed("__graft_bid", idCol), Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          when(coalesce(col("n_bigrams"), lit(0L)) === 0L, lit(0.0))
            .otherwise(col("__graft_s12").cast("double") /
              col("__graft_s1").cast("double"))
            .as("bigram_score"))
    }

    /** Corpus collocation mining: the `topN` adjacent word pairs with
      * the highest lift `c(w1,w2)·N / (c(w1)·c(w2))` among pairs seen
      * ≥ `minCount` times — the PMI-style association lexicon (PMI is
      * `log` of exactly this ratio; the log is monotone, so ranking by
      * the raw ratio is ranking by PMI without the `ln`
      * correct-rounding hazard — the repo-wide log-free discipline).
      * The lexicon feeds tokenizer sanity checks ("did multi-word
      * entities survive?"), stopword-list induction, and phrase-table
      * export.
      *
      * Scale shape: both count tables are vocabulary-sized and
      * partial-aggregated; the lift joins are word-keyed with ONE row
      * per word on the count side; N is a two-number broadcast; the
      * top-N cut is TakeOrdered (per-partition heaps). Counts are
      * exact integers; lift is one pinned-shape double expression —
      * fully engine-replayable. */
    def collocations(textCol: String, minCount: Long = 5,
                     topN: Int = 50): DataFrame = {
      require(minCount >= 1 && topN >= 1)
      val df = ds.toDF
      val ts = graft.functions.tokens(col(textCol))
      val pairs = df.select(ts.as("__graft_ts"))
        .withColumn("__graft_i",
          explode(when(size(col("__graft_ts")) >= 2,
              sequence(lit(1), size(col("__graft_ts")) - 1))
            .otherwise(array().cast("array<int>"))))
        .select(element_at(col("__graft_ts"), col("__graft_i")).as("w1"),
          element_at(col("__graft_ts"), col("__graft_i") + 1).as("w2"))
      val uni = df.select(explode(ts).as("__graft_w"))
        .groupBy(col("__graft_w")).agg(count(lit(1)).as("__graft_c"))
      val tot = uni.agg(
        sum(col("__graft_c").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("long").as("__graft_n"))
      val bi = pairs.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("pair_count"))
        .filter(col("pair_count") >= minCount)
      bi
        .join(uni.select(col("__graft_w").as("w1"),
          col("__graft_c").as("__graft_c1")), Seq("w1"))
        .join(uni.select(col("__graft_w").as("w2"),
          col("__graft_c").as("__graft_c2")), Seq("w2"))
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("pair_count"),
          (col("pair_count").cast("double") * col("__graft_n").cast("double") /
            (col("__graft_c1").cast("double") * col("__graft_c2").cast("double")))
            .as("lift"))
        .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
        .limit(topN)
    }

    /** Tokenize every word of `textCol` with an ORDERED byte-pair-merge
      * list — the APPLY side of the BPE tokenizer whose training
      * statistic is [[bpePairStats]] / whose trainer is
      * [[CorpusOps.learnBpeMerges]]. Standard ordered-merge encoding:
      * each word becomes its character sequence, then each merge
      * `(lhs, rhs) -> lhs+rhs` is applied in rank order to every
      * left-to-right non-overlapping adjacent occurrence. Returns the
      * document's BPE tokens as one flat array column.
      *
      * The kernel is a chain of built-in `replace` calls over a
      * symbol string with DOUBLE-space separators (`" h  e  l  l  o "`),
      * one per merge — whole-stage-codegen'd end to end, no UDF, and
      * bit-replayable in any SQL engine with `replace`. The double
      * separator is load-bearing: the merge pattern `" a  b "` consumes
      * only the INNER space of each boundary, so after a replacement the
      * very next adjacent pair still starts with its own boundary space
      * and one left-to-right pass merges a whole chain (`a a a a` →
      * `aa aa`, the canonical pairing — a single-space pattern would eat
      * the shared boundary and strand every other pair). One pass per
      * rank is the fixpoint: a merge's output symbol differs from both
      * inputs, so it can never create a new occurrence of its own pair.
      * Merge lists are tokenizer-sized (thousands); each adds one
      * codegen'd pass over a string whose length shrinks monotonically. */
    def bpeEncode(textCol: String, merges: Seq[(String, String)]): Column = {
      require(merges.forall { case (a, b) => a.nonEmpty && b.nonEmpty },
        "bpeEncode: empty merge symbol")
      val encodeWord = (w: Column) => {
        val spaced = regexp_replace(w, "(.)", " $1 ")
        val merged = merges.foldLeft(spaced) { case (acc, (a, b)) =>
          replace(acc, lit(s" $a  $b "), lit(s" $a$b "))
        }
        graft.functions.tokens(merged)
      }
      flatten(transform(graft.functions.tokens(col(textCol)), encodeWord))
    }

    /** Frequency-ranked vocabulary build + token-id encoding — the
      * export step between tokenizer training and sequence packing:
      * the `vocabSize` most frequent tokens get ids 1..vocabSize by
      * (count DESC, token ASC) rank (deterministic; id 0 is reserved
      * for out-of-vocabulary), and every document becomes its id
      * sequence. Returns `(idCol, ids, n_tokens, n_unk)`.
      *
      * Scale shape: the count table is vocabulary-sized and
      * partial-aggregated; the top-`vocabSize` cut is
      * TakeOrderedAndProject (per-partition heaps — never a global
      * sort of the count table), and the rank window runs over the
      * ALREADY-CUT `vocabSize` rows, so the one single-partition
      * window is bounded by the parameter, not the corpus. The encode
      * join is token-keyed with one row per token on the vocab side
      * (hot stopwords replicate nothing); ids reassemble on the
      * document key. Integer arithmetic end to end — any engine
      * replays the ids exactly. */
    def vocabEncode(idCol: String, textCol: String,
                    vocabSize: Int): DataFrame = {
      require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
      val df = ds.toDF
      val tokPos = df.select(col(idCol).as("__graft_vid"),
        posexplode(graft.functions.tokens(col(textCol)))
          .as(Seq("__graft_pos", "__graft_tok")))
      val counts = tokPos.groupBy(col("__graft_tok"))
        .agg(count(lit(1)).as("__graft_c"))
        .orderBy(col("__graft_c").desc, col("__graft_tok").asc)
        .limit(vocabSize)
      val vocab = counts.withColumn("__graft_tid",
        row_number().over(Window.orderBy(
          col("__graft_c").desc, col("__graft_tok").asc)).cast("int"))
        .select(col("__graft_tok"), col("__graft_tid"))
      val enc = tokPos.join(vocab, Seq("__graft_tok"), "left")
        .select(col("__graft_vid"), col("__graft_pos"),
          coalesce(col("__graft_tid"), lit(0)).as("__graft_tid"))
        .groupBy(col("__graft_vid"))
        .agg(
          transform(array_sort(collect_list(
            struct(col("__graft_pos"), col("__graft_tid")))),
            x => x("__graft_tid")).as("ids"),
          count(lit(1)).as("n_tokens"),
          sum(when(col("__graft_tid") === 0, 1L).otherwise(0L)).as("n_unk"))
      df.select(col(idCol)).join(
          enc.withColumnRenamed("__graft_vid", idCol), Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("ids"), array().cast("array<int>")).as("ids"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_unk"), lit(0L)).as("n_unk"))
    }

    /** Inverted-index export: one row per term with its document
      * frequency, total term frequency, and a bounded posting string
      * (`"id:tf id:tf …"`, the `maxPostings` LOWEST doc ids) — the
      * materialized form of the per-query stats [[bm25TopK]] computes
      * on the fly, and the standard corpus-exploration artifact
      * (retrieval indexes, "which docs contain this contaminated
      * phrase", term-level corpus diffs).
      *
      * Scale shape: `df`/`tf_total` come from partial-aggregated
      * counts over the (term, doc) frame — exact over ALL documents.
      * The posting LIST is where an export dies at 100 TB (a stop
      * word's list is the corpus), so it is capped: the per-term
      * doc-id rank filter plans as WindowGroupLimit, every map task
      * pre-prunes to ≤ `maxPostings` rows per term, and a
      * billion-document term ships `maxPostings·tasks` candidates,
      * not its corpus. Exact integer arithmetic end to end. */
    def invertedIndex(idCol: String, textCol: String,
                      maxPostings: Int = 1000): DataFrame = {
      require(maxPostings >= 1, s"maxPostings must be >= 1, got $maxPostings")
      val tf = ds.toDF
        .select(col(idCol).as("__graft_iid"),
          explode(graft.functions.tokens(col(textCol))).as("term"))
        .groupBy(col("term"), col("__graft_iid"))
        .agg(count(lit(1)).as("__graft_tf"))
      val stats = tf.groupBy(col("term"))
        .agg(count(lit(1)).as("df"),
          sum(col("__graft_tf")).as("tf_total"))
      val postings = tf
        .withColumn("__graft_rn", row_number().over(
          Window.partitionBy(col("term")).orderBy(col("__graft_iid").asc)))
        .filter(col("__graft_rn") <= maxPostings)
        .groupBy(col("term"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("__graft_iid"), col("__graft_tf")))),
          x => concat_ws(":", x("__graft_iid"), x("__graft_tf"))), " ")
          .as("postings"))
      stats.join(postings, Seq("term"))
        .select(col("term"), col("df"), col("tf_total"), col("postings"))
    }

    /** TF-IDF doc-term matrix export: one row per (document, term)
      * with the term frequency and the odds-ratio-idf weight
      * `tf · (N − df + 0.5)/(df + 0.5)` — the sparse document vectors
      * downstream clustering / retrieval / topic passes consume
      * ([[bm25TopK]] is the query-time scorer over the same stats;
      * this is the materialized corpus-wide form). Log-free idf (the
      * repo-wide `ln` correct-rounding discipline) with the IEEE
      * expression shape pinned to the oracle text, so every weight
      * replays bit-for-bit.
      *
      * Scale shape: the (doc, term) tf table partial-aggregates
      * map-side; `df` is a second vocabulary-sized partial agg; the
      * weight join is term-keyed with ONE row per term on the df side
      * (hot stopword keys replicate nothing — AQE splits the fat
      * partitions); N is one driver scalar. */
    def tfidfVectors(idCol: String, textCol: String): DataFrame = {
      val df0 = ds.toDF
      // N stays in the plan (one-row agg broadcast) — a driver count()
      // here would run an extra eager job on every composition
      val nDocs = df0.agg(count(lit(1)).cast("double").as("__graft_nd"))
      val tf = df0
        .select(col(idCol).as("__graft_tid"),
          explode(graft.functions.tokens(col(textCol))).as("term"))
        .groupBy(col("__graft_tid"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      tf.join(dfT, Seq("term"))
        .crossJoin(broadcast(nDocs))
        .select(col("__graft_tid").as(idCol), col("term"), col("tf"),
          ((col("__graft_nd") - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5)) *
            col("tf").cast("double")).as("tfidf"))
    }

    /** Snapshot delta audit: classify every document id across two
      * corpus versions as `added` / `removed` / `changed` / `unchanged`
      * by content digest — the drift report a training pipeline runs
      * between crawl snapshots before deciding what to re-process
      * (and the provenance record for "which examples entered/left the
      * mix this release"). `this` dataset is the NEW snapshot, `old`
      * the previous one.
      *
      * Scale shape: each side collapses to `(id, md5)` at the scan —
      * text never rides the join — then ONE id-keyed full-outer
      * shuffle join and a codegen'd CASE. String-exact end to end. */
    def snapshotDiff(old: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
      // presence is its own marker: md5(NULL) is NULL, so a NULL-text
      // document would otherwise read as absent, and the hash compare
      // is null-safe so two NULL texts count as unchanged
      val newD = ds.toDF.select(col(idCol), md5(col(textCol)).as("__graft_nh"),
        lit(true).as("__graft_np"))
      val oldD = old.select(col(idCol), md5(col(textCol)).as("__graft_oh"),
        lit(true).as("__graft_op"))
      newD.join(oldD, Seq(idCol), "full_outer")
        .select(col(idCol),
          when(col("__graft_op").isNull, lit("added"))
            .when(col("__graft_np").isNull, lit("removed"))
            .when(col("__graft_nh") <=> col("__graft_oh"), lit("unchanged"))
            .otherwise(lit("changed")).as("status"))
    }

    /** Hash-sharded corpus export — the write side of the pipeline:
      * every row lands in shard `knuth32(id) mod shards` (the
      * engine-portable two-halves fold the samplers use, so ANY
      * engine recomputes which shard holds a document without reading
      * manifests), written as a `shard=`-partitioned parquet
      * directory. Returns the post-write manifest `(shard, n_docs)`
      * READ BACK from the files — the count you publish is the count
      * that's actually on disk, not the count you meant to write.
      *
      * Scale shape: the shard column is one codegen'd projection (no
      * shuffle — each task appends to its shards' directories);
      * readers of one shard prune every other directory at plan time
      * (`PartitionFilters`, spec-gated — the IVF-directory
      * discipline). Deterministic: stable across runs, partitionings,
      * and engines; id-hash sharding keeps any (language, source)
      * subpopulation proportionally represented in every shard. */
    def writeSharded(path: String, idCol: String, shards: Int): DataFrame = {
      require(shards >= 1, s"shards must be >= 1, got $shards")
      val spark = ds.sparkSession
      ds.toDF.withColumn("shard",
          pmod(graft.functions.knuth32(col(idCol)), lit(shards.toLong)).cast("int"))
        .write.mode("overwrite").partitionBy("shard").parquet(path)
      spark.read.parquet(path)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"))
    }

    /** Greedy BPE tokenizer training over the corpus: `rounds` merge
      * rules, each the most-frequent adjacent symbol pair (ties broken
      * lexicographically — deterministic) under all PREVIOUS merges —
      * the classic Sennrich et al. loop, with the corpus collapsed to
      * its word-frequency vocabulary first so every round is one
      * aggregation over a Zipf-small table, never the token stream.
      *
      * The vocabulary is localCheckpointed once and each round's merge
      * is applied as a codegen'd `replace` on the spaced representation
      * — `rounds` narrow passes, one `limit(1)` collect per round (two
      * driver numbers: the pair). Training is driver-looped by nature
      * (each rule depends on the last — same shape as the Lloyd rounds
      * of [[VectorOps]]); the apply side ([[bpeEncode]]) is a single
      * codegen'd pass. */
    def learnBpeMerges(textCol: String, rounds: Int): Seq[(String, String)] = {
      require(rounds >= 1, s"rounds must be >= 1, got $rounds")
      val wc0 = ds.toDF
        .select(explode(graft.functions.tokens(col(textCol))).as("__graft_w"))
        .groupBy(col("__graft_w")).agg(count(lit(1)).as("__graft_n"))
        .select(regexp_replace(col("__graft_w"), "(.)", " $1 ")
          .as("__graft_sp"), col("__graft_n"))
        .localCheckpoint()
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var wc = wc0
      var round = 0
      var exhausted = false
      while (round < rounds && !exhausted) {
        val syms = graft.functions.tokens(col("__graft_sp"))
        val idx = when(size(syms) >= 2, sequence(lit(1), size(syms) - 1))
          .otherwise(array().cast("array<int>"))
        val top = wc
          .select(col("__graft_n"), syms.as("__graft_ss"),
            explode(idx).as("__graft_i"))
          .select(col("__graft_n"),
            element_at(col("__graft_ss"), col("__graft_i")).as("lhs"),
            element_at(col("__graft_ss"), col("__graft_i") + 1).as("rhs"))
          .groupBy(col("lhs"), col("rhs"))
          .agg(sum(col("__graft_n")).as("pc"))
          .orderBy(col("pc").desc, col("lhs").asc, col("rhs").asc)
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (a, b) = (top(0).getString(0), top(0).getString(1))
          merges += ((a, b))
          wc = wc.select(
            replace(col("__graft_sp"), lit(s" $a  $b "), lit(s" $a$b "))
              .as("__graft_sp"), col("__graft_n"))
            .localCheckpoint()
        }
        round += 1
      }
      merges.toSeq
    }
  }
}
