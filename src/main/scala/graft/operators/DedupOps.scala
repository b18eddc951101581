package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions._

/** Deduplication operators for large-scale corpus curation — the
  * LLM-data-pipeline extension surface (BASELINE.json north star), built
  * on the same blocking-join machinery as the spatial operators: every
  * near-dup algorithm is "deterministic blocking key -> equi-join ->
  * exact verify", so the only shuffles are hash-partitioned equi-joins
  * that AQE can re-plan, and nothing ever materializes the full pair
  * space.
  *
  * Scale notes (100 TB):
  *  - exactDedup is one hash shuffle on a 64-bit digest, not on the text.
  *  - minHash/simHash pairs shuffle (id, signature) tuples; candidate
  *    sets are banded, verified exactly, then deduped — the classic
  *    MinHash-LSH layout.
  *  - Skewed buckets (boilerplate docs) are the known hazard; AQE skew
  *    join handles moderate skew, and minHashPairs caps bucket sizes
  *    (with an audit query for what the cap dropped) so a templated
  *    corpus can't detonate the bucket self-join.
  */
object DedupOps {

  /** Shard-vs-corpus candidate pairs from two banded-bucket frames —
    * the shared kernel behind [[DatasetDedupOps.minHashPairsAgainst]]
    * and its at-rest-index twin, so index-on/index-off results are
    * equal by construction. `maxBucket > 0` takes the capped route
    * (one collect_list membership aggregation on the corpus side). */
  private[operators] def pairsAgainstBuckets(
      newB: DataFrame, corpB: DataFrame, idCol: String,
      maxBucket: Int): DataFrame = (
    if (maxBucket <= 0) {
      newB.select(col(idCol).as("id_new"), col("__band"), col("__bucket"))
        .join(corpB.select(col(idCol).as("id_corpus"),
          col("__band"), col("__bucket")), Seq("__band", "__bucket"))
    } else {
      // capped route, the minHashPairs discipline: the cap bounds
      // every corpus bucket, so membership is ONE collect_list
      // aggregation — the corpus signature pipeline runs ONCE (the
      // former count-agg + semi-join re-ran it per reference), the
      // cap check is a free size() filter, and the shard side joins
      // against the bounded membership arrays
      val corpBuckets = corpB
        .groupBy(col("__band"), col("__bucket"))
        .agg(collect_list(col(idCol)).as("__cids"))
        .filter(size(col("__cids")) <= maxBucket)
      newB.select(col(idCol).as("id_new"), col("__band"), col("__bucket"))
        .join(corpBuckets, Seq("__band", "__bucket"))
        .select(col("id_new"), explode(col("__cids")).as("id_corpus"))
    })
    .filter(col("id_new") =!= col("id_corpus"))
    .select(col("id_new"), col("id_corpus"))
    .distinct()

  /** Largest `maxBucket` the capped minhash route expands as a nested
    * pair array (~cap^2/2 structs in ONE row before explode — at 2048
    * that is ~2M small structs, comfortably task-sized; at 10k it
    * would be ~50M in one task). Larger caps fall back to the
    * self-join shape, which spreads a bucket's pair fan-out across the
    * shuffle. */
  private[operators] val CappedArrayBucketMax = 2048

  /** Publish a layout's meta as close to atomically as a filesystem
    * allows: the complete new lines land at `$path/meta_tmp` first
    * (one `part-00000` file, then the `_SUCCESS` marker, both written
    * from the driver — the layout the text writer leaves, without a
    * Spark job), then ONE delete + rename replaces `$path/meta` —
    * the vulnerable window shrinks from a whole job (during which a
    * crash leaves NO meta and bricks every reader, repair included)
    * to two filesystem metadata ops. A crash inside even that window
    * leaves the complete new meta at `meta_tmp`, and the readers heal
    * it: [[readMetaLines]] promotes a complete `meta_tmp` (its job
    * `_SUCCESS` marker present) into place when `meta` is absent —
    * re-running a verb is NOT the recovery (every verb starts by
    * reading the meta that would be gone). */
  private[graft] def publishMeta(spark: org.apache.spark.sql.SparkSession,
                                 path: String, lines: Seq[String],
                                 dir: String = "meta"): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = new org.apache.hadoop.fs.Path(s"$path/${dir}_tmp")
    val dst = new org.apache.hadoop.fs.Path(s"$path/$dir")
    val fs = dst.getFileSystem(conf)
    fs.delete(tmp, true)
    val out = fs.create(new org.apache.hadoop.fs.Path(tmp, "part-00000"), false)
    try out.write(lines.map(_ + "\n").mkString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.create(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), false).close()
    if (fs.exists(dst)) fs.delete(dst, true)
    require(fs.rename(tmp, dst),
      s"publishMeta: rename $tmp -> $dst failed; the complete new $dir " +
        s"is still at ${dir}_tmp — re-run the verb")
  }

  /** Serialize one Bloom filter as a token-paired row of
    * `$path/$dir` — the digest layout's per-wave filter store and the
    * append clash gate's per-wave id filters. */
  private def writeBloomRow(spark: org.apache.spark.sql.SparkSession,
                            path: String, token: String,
                            bf: org.apache.spark.util.sketch.BloomFilter,
                            mode: String, dir: String = "bloom"): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__graft_token",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("__bloom",
        org.apache.spark.sql.types.BinaryType)))
    spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(token, bos.toByteArray)), schema)
      .coalesce(1).write.mode(mode).parquet(s"$path/$dir")
  }

  /** Per-wave id Bloom of the append clash gate: built from the rows
    * actually WRITTEN to `$path/$table` under `token` (never a second
    * source scan — a non-deterministic wave would land ids its own
    * filter never saw, and an id the filter misses is a silently
    * admitted duplicate later). Long-typed ids only (the probe is a
    * codegen'd long expression) and size-capped like every graft
    * filter; returns whether the filter landed — a `false` flips the
    * layout's `idbloom` meta to `no` and the clash gate stays on the
    * semi-join path. */
  private[graft] def writeIdBloomRow(
      spark: org.apache.spark.sql.SparkSession, path: String, table: String,
      storedId: String, token: String, mode: String,
      fpp: Double = 1e-6, maxBloomBytes: Long = 128L << 20): Boolean = {
    val written = spark.read.parquet(s"$path/$table")
      .filter(col("__graft_token") === token)
      .select(col(storedId))
    writeIdBloomRowFrom(spark, path, written, storedId, token, mode,
      fpp, maxBloomBytes)
  }

  /** [[writeIdBloomRow]] over a caller-supplied id frame — for layouts
    * whose appended waves share the generation token (IVF-PQ), where
    * "filter written rows by wave token" cannot isolate the wave. The
    * caller owns the written-rows-equal-these-ids argument (e.g. the
    * frame is persisted and the data write ran from the same frame). */
  private[graft] def writeIdBloomRowFrom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      ids: org.apache.spark.sql.DataFrame, storedId: String, token: String,
      mode: String, fpp: Double = 1e-6,
      maxBloomBytes: Long = 128L << 20): Boolean = {
    // fpp sits far below the digest filters' 1%: the fast path only
    // fires when the WHOLE wave probes clean, P(clean) = (1-fpp)^|wave|
    // — at 1e-6 (~3.6 bytes/id, ~37M ids under the default cap) a
    // 100k-id wave still clears with p~0.9, where 1% would force the
    // confirm join on essentially every append
    if (ids.schema.head.dataType !=
        org.apache.spark.sql.types.LongType) return false
    // sizing by ROW count, not distinct ids: an over-estimate only
    // lowers the realized fpp, and it saves a whole shuffle per write
    val n = math.max(1L, ids.count())
    val bloomBits = math.ceil(
      -n.toDouble * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    if (bloomBits / 8 > maxBloomBytes) false
    else {
      val bf = ids.stat.bloomFilter(storedId, n, fpp)
      writeBloomRow(spark, path, token, bf, mode, dir = "idbloom")
      true
    }
  }

  /** The `idbloom=` meta line for a publish: `yes` only while EVERY
    * admitted wave's id filter landed (an uncovered wave would turn a
    * bloom miss into a silently admitted duplicate id). */
  private[graft] def idBloomMetaLine(ok: Boolean): Seq[String] =
    Seq("idbloom=" + (if (ok) "yes" else "no"))

  /** Append-time id-clash gate at O(wave): when the layout carries
    * complete per-wave id Blooms (meta `idbloom=yes`), the wave's ids
    * probe the OR of the stored filters LOCALLY — a wave with zero
    * maybes skips the O(table) id semi-join entirely (the common
    * no-clash case the r11 verdict flagged), and only the maybes ride
    * the confirm join (bloom false positives are expected and
    * harmless). A bloom-less or downgraded layout confirms the whole
    * wave as before. The probe set is EVERY filter row present —
    * admitted or torn — because over-covering only costs a confirm
    * join, while under-covering would silently admit a duplicate.
    * Returns true when the bloom fast path cleared the wave without
    * touching the stored table (spec surface). */
  private[graft] def idClashCheck(
      spark: org.apache.spark.sql.SparkSession, path: String, table: String,
      caller: String, waveIds: org.apache.spark.sql.DataFrame,
      storedId: String, params: Map[String, String]): Boolean = {
    import graft.functions.bloomMightContain
    def confirm(suspects: org.apache.spark.sql.DataFrame): Unit = {
      val clash = suspects
        .join(spark.read.parquet(s"$path/$table")
          .select(col(storedId)), Seq(storedId), "left_semi")
        .limit(1).collect()
      require(clash.isEmpty,
        s"$caller: wave id ${clash.headOption.map(_.get(0))} " +
          s"already exists in $path — ids must be unique across waves")
    }
    val useBloom = params.get("__idbloom").contains("yes") &&
      waveIds.schema.head.dataType == org.apache.spark.sql.types.LongType
    if (useBloom) {
      val blooms = spark.read.parquet(s"$path/idbloom")
        .select(col("__bloom")).collect().map(_.getAs[Array[Byte]](0))
      if (blooms.nonEmpty) {
        val maybes = waveIds.filter(blooms.map(b =>
          bloomMightContain(col(storedId), b)).reduce(_ || _))
        if (maybes.limit(1).collect().isEmpty) return true // wave-local only
        confirm(maybes)
        return false
      }
    }
    confirm(waveIds)
    false
  }

  /** Read an at-rest layout's meta lines, healing the one crash window
    * [[publishMeta]] leaves open: between its delete of the old meta
    * and the rename of `meta_tmp`, a crash leaves NO `$path/meta` —
    * but the COMPLETE new meta sits at `meta_tmp` (the delete only
    * runs after the meta_tmp job committed, `_SUCCESS` included). If
    * `meta` is absent and a complete `meta_tmp` exists, finish the
    * interrupted rename and read on; an absent meta WITHOUT a complete
    * meta_tmp is a genuine tear and refuses loudly. */
  private[graft] def readMetaLines(
      spark: org.apache.spark.sql.SparkSession, path: String,
      what: String): Array[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(s"$path/meta")
    val fs = dst.getFileSystem(conf)
    if (!fs.exists(dst)) {
      val tmp = new org.apache.hadoop.fs.Path(s"$path/meta_tmp")
      require(fs.exists(tmp) &&
        fs.exists(new org.apache.hadoop.fs.Path(s"$path/meta_tmp/_SUCCESS")),
        s"$what: $path/meta is missing and $path/meta_tmp is absent or " +
          "incomplete (no _SUCCESS) — the layout is torn; rewrite it")
      require(fs.rename(tmp, dst),
        s"$what: $path/meta is missing and promoting the complete " +
          "meta_tmp failed — rename $path/meta_tmp to $path/meta manually")
    }
    // the data files of the meta directory, in name order — the files
    // the text reader would read (`_SUCCESS`, `.crc` and other hidden
    // names skipped), read here on the driver instead of by a job
    fs.listStatus(dst).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getPath).sortBy(_.getName).flatMap { f =>
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(fs.open(f),
        java.nio.charset.StandardCharsets.UTF_8))
      try Iterator.continually(r.readLine()).takeWhile(_ != null).toArray
      finally r.close()
    }
  }

  /** Parse an at-rest layout's `$path/meta` (the `params=`/`token=`
    * line codec shared by the minhash/CDC/digest indexes) into a map;
    * the write token rides under the reserved key `__token`. */
  private[graft] def indexMeta(
      spark: org.apache.spark.sql.SparkSession, path: String,
      what: String): Map[String, String] = {
    val lines = readMetaLines(spark, path, what)
    def line(tag: String): String = lines.find(_.startsWith(tag + "="))
      .getOrElse(throw new IllegalArgumentException(
        s"$what: no '$tag' line in $path/meta"))
      .substring(tag.length + 1)
    val base = line("params").split(",").map { kv =>
      val Array(a, v) = kv.split(":"); a -> v
    }.toMap + ("__token" -> line("token"))
    // every other `key=value` meta line rides under `__key`: `__waves`
    // (the ordered wave-token list — absent means single-write) and
    // layout-specific constants like the bm25 layout's `__n`/`__sumdl`
    base ++ lines.flatMap { l =>
      val i = l.indexOf('=')
      if (i <= 0) None
      else Some("__" + l.substring(0, i) -> l.substring(i + 1))
    }.toMap.removedAll(Seq("__params"))
  }

  /** The digest index's serialized Bloom filters — one driver-side row
    * per admitted wave, token-paired with the meta: a filter set that
    * doesn't cover exactly the admitted waves (stale after an
    * overwrite, torn after a failed append) refuses. Probes OR across
    * waves, so a definite-no stays definite. */
  private[graft] def digestBlooms(
      spark: org.apache.spark.sql.SparkSession, path: String,
      waveTokens: Seq[String]): Seq[Array[Byte]] = {
    val rows = spark.read.parquet(s"$path/bloom")
      .select(col("__graft_token"), col("__bloom")).collect()
    val byToken = rows.map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    require(byToken.size == rows.length &&
      byToken.keySet == waveTokens.toSet,
      s"digest gate: write-token mismatch between $path/meta and " +
        s"$path/bloom (filters for ${byToken.keySet.size} wave(s), meta " +
        s"admits ${waveTokens.length}) — rewrite the layout")
    waveTokens.map(byToken)
  }

  /** Tokens of admitted DELETE waves (the `tombs=` meta line); empty
    * when the layout has none. */
  private[graft] def tombTokens(params: Map[String, String]): Seq[String] =
    params.get("__tombs").toSeq.flatMap(_.split(";")).filter(_.nonEmpty)

  /** The `tombs=` meta line to CARRY FORWARD on an append's meta
    * republish — dropping it would silently resurrect every deleted
    * document. Empty when the layout has no delete waves. */
  private[graft] def tombsMetaLine(params: Map[String, String]): Seq[String] =
    tombTokens(params) match {
      case Seq() => Seq.empty
      case ts    => Seq("tombs=" + ts.mkString(";"))
    }

  /** The ADMITTED tombstoned ids of a layout (distinct, one column
    * named the layout's id column), or None when the meta lists no
    * delete waves. Rows of `$path/tombstones` under tokens the meta's
    * `tombs=` line never admitted are FILTERED, not refused — the
    * relaxation is deliberate and safe where the append discipline's
    * loud refusal is not: an unadmitted tombstone row applied would
    * over-delete, but ignored it just serves the last committed state
    * (a torn delete is a no-op until its meta commit lands; the caller
    * saw the failure and re-runs). Compact/repair clear the orphans. */
  private[graft] def tombstoneIds(
      spark: org.apache.spark.sql.SparkSession, path: String,
      params: Map[String, String], what: String)
      : Option[org.apache.spark.sql.DataFrame] = {
    val toks = tombTokens(params)
    if (toks.isEmpty) None
    // NOT distinct'd: every consumer anti-joins (duplicates on the
    // build side are harmless), and admitted delete waves are disjoint
    // by construction (each delete verb anti-joins already-tombstoned
    // ids before writing), so the distinct was a pure per-read
    // shuffle+agg over the WHOLE tombstone set — the one delete-path
    // term the r13 tombstone-growth trend saw tracking total
    // tombstones rather than the query
    else Some(spark.read.parquet(s"$path/tombstones")
      .filter(col("__graft_token").isin(toks: _*))
      .select(col(params("idCol"))))
  }

  /** Delete a directory if present (stale tombstones on a fresh full
    * write; folded tombstones after compact). */
  private[graft] def deleteDir(spark: org.apache.spark.sql.SparkSession,
                               p: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.delete(hp, true)
  }

  /** Tombstone-delete shared by the digest/minhash/CDC layouts: the
    * ids land at `$path/tombstones` under a FRESH delete token and the
    * meta's `tombs=` list commits LAST (the wave discipline); readers
    * subtract admitted tombstones, so the layout answers as if the
    * documents were never written, and [[compactDigestIndex]] /
    * [[compactMinhashIndex]] / [[compactCdcIndex]] fold them
    * physically. Ids-only API — a GDPR purge needs no text. Already-
    * tombstoned ids are skipped (a delete is idempotent); absent ids
    * are harmless no-ops. A tombstoned id stays DEAD for the append
    * clash check (its rows are still physically present) until a
    * compact folds it out — re-adding a deleted id is a
    * compact-then-append, never a silent resurrection. */
  private def deleteFromIndex(spark: org.apache.spark.sql.SparkSession,
                              path: String,
                              ids: org.apache.spark.sql.DataFrame,
                              caller: String,
                              paramKeys: Seq[String]): Unit = {
    val params = indexMeta(spark, path, caller)
    require(params.contains("__waves"),
      s"$caller: $path/meta has no 'waves' line — the layout predates " +
        "wave support; rewrite it")
    val storedId = params("idCol")
    require(ids.columns.contains(storedId),
      s"$caller: the ids frame must carry the layout's id column " +
        s"'$storedId' (has: ${ids.columns.mkString(", ")})")
    val token = java.util.UUID.randomUUID().toString
    val fresh = ids.select(col(storedId)).distinct()
    val newIds = (tombstoneIds(spark, path, params, caller) match {
      case Some(t) => fresh.join(t, Seq(storedId), "left_anti")
      case None    => fresh
    }).localCheckpoint() // the guard and the write both read it
    // everything already dead: admit nothing (an admitted wave with no
    // tombstone rows on disk would read as a MISSING wave to fsck)
    if (newIds.isEmpty) return
    newIds.withColumn("__graft_token", lit(token))
      .write.mode("append").parquet(s"$path/tombstones")
    publishMeta(spark, path, Seq(
      "params=" + paramKeys.map(k => s"$k:${params(k)}").mkString(","),
      "token=" + params("__token"),
      "waves=" + params("__waves"),
      "tombs=" + (tombTokens(params) :+ token).mkString(";"))
      // a delete adds no physical ids — clash-gate coverage unchanged
      ++ idBloomMetaLine(params.get("__idbloom").contains("yes")))
  }

  /** Tombstone-delete ids from a [[DatasetDedupOps.writeDigestIndex]]
    * layout (see [[deleteFromIndex]] for the semantics). The per-wave
    * Bloom filters stay as written: a filter cannot un-contain, but a
    * tombstoned maybe just fails the confirm join — definite-no stays
    * definite, and compact rebuilds the filter from survivors. */
  def deleteFromDigestIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String,
                            ids: org.apache.spark.sql.DataFrame): Unit =
    deleteFromIndex(spark, path, ids, "deleteFromDigestIndex", DigestParamKeys)

  /** Tombstone-delete ids from a [[DatasetDedupOps.writeMinhashIndex]]
    * layout: readers subtract tombstoned ids from the bucket
    * membership arrays BEFORE the bucket cap (so a capped read answers
    * exactly like a fresh write over the survivors) and never emit
    * them as candidates. */
  def deleteFromMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                             path: String,
                             ids: org.apache.spark.sql.DataFrame): Unit =
    deleteFromIndex(spark, path, ids, "deleteFromMinhashIndex", MinhashParamKeys)

  /** Tombstone-delete ids from a [[DatasetDedupOps.writeCdcIndex]]
    * layout: readers subtract tombstoned ids from the chunk membership
    * arrays BEFORE the boilerplate cap. */
  def deleteFromCdcIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String,
                         ids: org.apache.spark.sql.DataFrame): Unit =
    deleteFromIndex(spark, path, ids, "deleteFromCdcIndex", CdcParamKeys)

  /** Non-throwing audit of an at-rest TEXT layout (digest / minhash /
    * CDC / BM25, auto-detected from the meta): one (check, ok, detail)
    * row per invariant — meta parses, the write token is admitted,
    * every table's tokens are a subset of the admitted set (torn waves
    * NAMED instead of thrown at), the digest Bloom and the id-clash
    * filters cover exactly the admitted waves when the meta claims
    * them, dictionary df sums are non-negative, tombstones are
    * inventoried (orphans are informational — readers ignore them).
    * Every reader REFUSES a torn layout by design; this is the verb an
    * operator runs to learn WHAT tore and which repair applies, and
    * the all-green row set a healthy layout must answer. Column-pruned
    * token scans only — never data-sized work. */
  def fsckTextIndex(spark: org.apache.spark.sql.SparkSession,
                    path: String): org.apache.spark.sql.DataFrame = {
    val out = scala.collection.mutable.ArrayBuffer[(String, Boolean, String)]()
    def check(name: String)(body: => (Boolean, String)): Unit =
      out += (try { val (ok, d) = body; (name, ok, d) }
        catch { case e: Throwable =>
          (name, false, Option(e.getMessage).getOrElse(e.toString).take(200)) })
    val metaTry =
      try Right(indexMeta(spark, path, "fsckTextIndex"))
      catch { case e: Throwable => Left(e) }
    metaTry match {
      case Left(e) =>
        out += (("meta", false,
          Option(e.getMessage).getOrElse(e.toString).take(200)))
      case Right(params) =>
        val family =
          if (params.contains("__n")) "bm25"
          else if (params.contains("maskBits")) "cdc"
          else if (params.contains("numHashes")) "minhash"
          else "digest"
        out += (("meta", true, family))
        val waves = params.getOrElse("__waves", params("__token"))
          .split(";").toSeq.filter(_.nonEmpty)
        val tombs = tombTokens(params)
        check("token_in_waves") {
          (waves.contains(params("__token")), "")
        }
        val tables: Seq[(String, Set[String])] = family match {
          case "digest"  => Seq("digests" -> waves.toSet)
          case "minhash" => Seq("buckets" -> waves.toSet,
            "shingles" -> waves.toSet)
          case "cdc"     => Seq("chunks" -> waves.toSet,
            "shingles" -> waves.toSet)
          case _         => Seq("postings" -> waves.toSet,
            "terms" -> (waves.toSet ++ tombs)) // delete waves' negative df rows
        }
        for ((table, admitted) <- tables) check(s"${table}_tokens") {
          val seen = spark.read.parquet(s"$path/$table")
            .select(col("__graft_token")).distinct()
            .collect().map(_.getString(0)).toSet
          val foreign = seen.diff(admitted)
          (foreign.isEmpty,
            if (foreign.isEmpty) s"${seen.size} token(s)"
            else s"torn: ${foreign.size} unadmitted token(s) — run the repair verb")
        }
        if (family == "digest" && params.get("bloom").contains("yes"))
          check("bloom_covers_waves") {
            val byToken = spark.read.parquet(s"$path/bloom")
              .select(col("__graft_token")).collect().map(_.getString(0))
            (byToken.toSet == waves.toSet && byToken.length == waves.length,
              s"${byToken.length} filter(s) for ${waves.length} wave(s)")
          }
        if (params.get("__idbloom").contains("yes"))
          check("idbloom_covers_waves") {
            val toks = spark.read.parquet(s"$path/idbloom")
              .select(col("__graft_token")).collect().map(_.getString(0)).toSet
            // over-coverage (orphan filters) is safe; a MISSING wave is not
            (waves.toSet.subsetOf(toks),
              s"${toks.size} filter(s) for ${waves.length} wave(s)")
          }
        if (family == "bm25") check("terms_df_nonnegative") {
          val bad = spark.read.parquet(s"$path/terms")
            .filter(col("__graft_token").isin((waves ++ tombs): _*))
            .groupBy(col("term")).agg(sum(col("__df")).as("__df"))
            .filter(col("__df") < 0L).limit(1).collect()
          (bad.isEmpty,
            bad.headOption.map(r => s"term '${r.getString(0)}' sums negative")
              .getOrElse(""))
        }
        if (tombs.nonEmpty) check("tombstones") {
          val toks = spark.read.parquet(s"$path/tombstones")
            .select(col("__graft_token")).distinct()
            .collect().map(_.getString(0)).toSet
          val orphans = toks.diff(tombs.toSet)
          val missing = tombs.toSet.diff(toks)
          // orphans are ignored by readers (informational); a MISSING
          // admitted delete wave means tombstones were lost — unsafe
          (missing.isEmpty,
            s"${tombs.length} admitted delete wave(s)" +
              (if (orphans.nonEmpty) s", ${orphans.size} orphan token(s) (ignored)" else "") +
              (if (missing.nonEmpty) s", ${missing.size} admitted wave(s) MISSING" else ""))
        }
    }
    import spark.implicits._
    spark.createDataset(out.toIndexedSeq).toDF("check", "ok", "detail")
  }

  /** Merge a multi-wave [[DatasetDedupOps.writeCdcIndex]] layout back
    * to single-wave form: membership arrays split across appends are
    * re-grouped once and republished under ONE fresh token, restoring
    * the reader's in-place (shuffle-free) fast path. Results are
    * identical by construction — the reader's merged view IS this
    * regroup. Crash safety is the token discipline (the
    * [[graft.operators.VectorOps.compactIvfPq]] shape): both tables
    * are snapshotted beside the layout, rewritten with the new token,
    * and the meta commits LAST — a tear leaves a token mismatch every
    * reader refuses, with the snapshots still holding every row. */
  def compactCdcIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): Unit =
    compactMembershipIndex(spark, path, "compactCdcIndex", "chunks",
      Seq("__h"), CdcParamKeys,
      df => df.repartitionByRange(col("__h")).sortWithinPartitions(col("__h")))

  /** [[compactCdcIndex]] for the minhash layout: merges per-wave
    * (band, bucket) membership slices back to whole arrays under one
    * fresh token. */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String): Unit =
    compactMembershipIndex(spark, path, "compactMinhashIndex", "buckets",
      Seq("__band", "__bucket"), MinhashParamKeys,
      df => df.repartition(col("__band"))
        .sortWithinPartitions(col("__band"), col("__bucket")))

  /** Collapse a multi-wave [[DatasetDedupOps.writeDigestIndex]] layout
    * back to one wave: digests republish under ONE fresh token and the
    * per-wave Bloom filters are replaced by a single filter rebuilt
    * from the full table — restoring the write-time fpp that k OR'd
    * wave filters degrade to k·fpp. Token discipline as everywhere:
    * snapshot, rewrite, meta commits last; a tear refuses. */
  def compactDigestIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String,
                         maxBloomBytes: Long = 128L << 20,
                         dropForeign: Boolean = false): Unit = {
    val params = indexMeta(spark, path, "compactDigestIndex")
    val waveTokens = params.getOrElse("__waves", params("__token"))
      .split(";").toSet
    require(waveTokens.contains(params("__token")),
      s"compactDigestIndex: write-token mismatch inside $path/meta " +
        "(token not in the waves list) — rewrite the layout")
    val digests = spark.read.parquet(s"$path/digests")
    require(digests.columns.contains("__graft_token"),
      s"compactDigestIndex: $path/digests has no __graft_token column — " +
        "the layout is torn or foreign; rewrite with writeDigestIndex")
    if (!dropForeign) {
      val seen = digests.select(col("__graft_token")).distinct()
        .collect().map(_.getString(0)).toSet
      require(seen.subsetOf(waveTokens),
        s"compactDigestIndex: $path/digests holds rows under token(s) " +
          s"${seen.diff(waveTokens)} the meta never admitted — " +
          "refusing to compact a torn layout")
    }
    // dropForeign = repair: a torn append's orphan rows are filtered
    // out here and the republish under a fresh token (meta last) makes
    // the repair itself crash-safe — a tear mid-repair leaves rows the
    // OLD meta refuses, never a silently shorter table
    val admitted =
      if (dropForeign)
        digests.filter(col("__graft_token").isin(waveTokens.toSeq: _*))
      else digests
    // admitted delete waves FOLD here: tombstoned digests leave the
    // table physically and the rebuilt Bloom filter never saw them
    val folded = tombstoneIds(spark, path, params, "compactDigestIndex") match {
      case Some(t) => admitted.join(t, Seq(params("idCol")), "left_anti")
      case None    => admitted
    }
    val snap = s"$path/compact_snapshot_digests"
    folded.drop("__graft_token").write.mode("overwrite").parquet(snap)
    val token = java.util.UUID.randomUUID().toString
    spark.read.parquet(snap)
      .withColumn("__graft_token", lit(token))
      .repartitionByRange(col("__h64"))
      .sortWithinPartitions(col("__h64"))
      .write.mode("overwrite").parquet(s"$path/digests")
    // the rebuilt single filter must respect the SAME size bound the
    // original write enforced — a layout grown by many appends may no
    // longer fit one driver-side filter, and the honest answer is
    // bloom:no (join-only, still correct), never a multi-GB broadcast
    val n = math.max(1L, spark.read.parquet(s"$path/digests").count())
    val fpp = params("fpp").toDouble
    val bloomBits = math.ceil(
      -n.toDouble * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val withBloom = params("bloom") == "yes" && bloomBits / 8 <= maxBloomBytes
    if (withBloom) {
      val bf = spark.read.parquet(s"$path/digests")
        .stat.bloomFilter("__h64", n, fpp)
      DedupOps.writeBloomRow(spark, path, token, bf, "overwrite")
    }
    val idOk = writeIdBloomRow(spark, path, "digests", params("idCol"),
      token, "overwrite", maxBloomBytes = maxBloomBytes)
    publishMeta(spark, path, Seq(
      s"params=idCol:${params("idCol")},normalized:${params("normalized")}," +
        s"bloom:${if (withBloom) "yes" else "no"},fpp:${params("fpp")}",
      "token=" + token,
      "waves=" + token)
      ++ idBloomMetaLine(idOk))
    // folded tombstones are inert once the meta stopped listing them
    deleteDir(spark, s"$path/tombstones")
    val p = new org.apache.hadoop.fs.Path(snap)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Roll back a TORN append: drop every row whose wave token the meta
    * never admitted (rows landed, the meta commit didn't) and republish
    * the admitted rows unchanged — after which reads succeed, compact
    * works, and the failed wave can simply re-run its append (its
    * half-landed ids no longer trip the clash check). Without this the
    * only exit from a torn layout is a full rebuild: reads refuse (by
    * design), compact refuses un-admitted tokens, and a re-append
    * clashes with its own orphaned rows. O(table) rewrite of only the
    * affected tables; a layout with no orphans is left untouched. */
  def repairCdcIndex(spark: org.apache.spark.sql.SparkSession,
                     path: String): Unit =
    compactMembershipIndex(spark, path, "repairCdcIndex", "chunks",
      Seq("__h"), CdcParamKeys,
      df => df.repartitionByRange(col("__h")).sortWithinPartitions(col("__h")),
      dropForeign = true)

  /** [[repairCdcIndex]] for the minhash layout. */
  def repairMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String): Unit =
    compactMembershipIndex(spark, path, "repairMinhashIndex", "buckets",
      Seq("__band", "__bucket"), MinhashParamKeys,
      df => df.repartition(col("__band"))
        .sortWithinPartitions(col("__band"), col("__bucket")),
      dropForeign = true)

  /** [[repairCdcIndex]] for the digest layout (orphaned per-wave Bloom
    * rows vanish with the compaction's single rebuilt filter). */
  def repairDigestIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String): Unit =
    compactDigestIndex(spark, path, dropForeign = true)

  private[operators] val CdcParamKeys =
    Seq("idCol", "window", "maskBits", "minSize", "maxSize", "shingle")
  private[operators] val MinhashParamKeys =
    Seq("idCol", "shingle", "numHashes", "bands", "seed")
  private[operators] val DigestParamKeys =
    Seq("idCol", "normalized", "bloom", "fpp")

  /** Shared compaction kernel for the wave-appendable membership
    * layouts (CDC chunks, minhash buckets): re-group the split arrays
    * once, republish both tables under ONE fresh token, meta commits
    * last. A tear between the rewrites leaves a token mismatch every
    * reader refuses; the snapshots still hold every row. */
  private def compactMembershipIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      caller: String, table: String, groupCols: Seq[String],
      paramKeys: Seq[String], layout: DataFrame => DataFrame,
      dropForeign: Boolean = false): Unit = {
    val params = indexMeta(spark, path, caller)
    val waveTokens = params.getOrElse("__waves", params("__token"))
      .split(";").toSet
    require(waveTokens.contains(params("__token")),
      s"$caller: write-token mismatch inside $path/meta (token not in " +
        "the waves list) — rewrite the layout")
    // repair = compact that FILTERS to the admitted tokens instead of
    // refusing foreign ones: the torn wave's orphans drop, everything
    // republishes under one fresh token with the meta committing last
    // — a crash mid-repair leaves mixed-token rows the OLD meta
    // refuses, never a silently shorter table
    def admittedRows(df: DataFrame): DataFrame =
      if (dropForeign) df.filter(col("__graft_token").isin(waveTokens.toSeq: _*))
      else df
    val members = spark.read.parquet(s"$path/$table")
    val shingles = spark.read.parquet(s"$path/shingles")
    for ((df, what) <- Seq((members, table), (shingles, "shingles"))) {
      require(df.columns.contains("__graft_token"),
        s"$caller: $path/$what has no __graft_token column — " +
          "the layout is torn or foreign; rewrite it")
      if (!dropForeign) {
        val seen = df.select(col("__graft_token")).distinct()
          .collect().map(_.getString(0)).toSet
        require(seen.subsetOf(waveTokens),
          s"$caller: $path/$what holds rows under token(s) " +
            s"${seen.diff(waveTokens)} the meta never admitted — " +
            "refusing to compact a torn layout")
      }
    }
    // admitted delete waves FOLD here: tombstoned ids leave the
    // membership arrays and the shingle table physically, after which
    // the ids are re-usable (the append clash check sees survivors)
    val tombs = tombstoneIds(spark, path, params, caller)
    val storedId = params("idCol")
    val snapM = s"$path/compact_snapshot_$table"
    val snapS = s"$path/compact_snapshot_shingles"
    val exploded = admittedRows(members)
      .select(groupCols.map(col) :+ explode(col("__cids")).as("__cid"): _*)
    val liveM = tombs match {
      case Some(t) => exploded.join(
        t.select(col(storedId).as("__cid")), Seq("__cid"), "left_anti")
      case None => exploded
    }
    liveM.groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(col("__cid"))).as("__cids"))
      .write.mode("overwrite").parquet(snapM)
    val liveS = tombs match {
      case Some(t) => admittedRows(shingles).join(t, Seq(storedId), "left_anti")
      case None    => admittedRows(shingles)
    }
    liveS.drop("__graft_token")
      .write.mode("overwrite").parquet(snapS)
    val token = java.util.UUID.randomUUID().toString
    layout(spark.read.parquet(snapM).withColumn("__graft_token", lit(token)))
      .write.mode("overwrite").parquet(s"$path/$table")
    spark.read.parquet(snapS)
      .withColumn("__graft_token", lit(token))
      .write.mode("overwrite").parquet(s"$path/shingles")
    val idOk = writeIdBloomRow(spark, path, "shingles", storedId,
      token, "overwrite")
    import spark.implicits._
    DedupOps.publishMeta(spark, path, Seq("params=" + paramKeys.map(k => s"$k:${params(k)}").mkString(","),
      "token=" + token,
      "waves=" + token)
      ++ idBloomMetaLine(idOk))
    // after the meta stopped listing delete waves the dir is inert
    // (readers ignore unadmitted tombstones) — dropping it last keeps
    // every crash point recoverable
    deleteDir(spark, s"$path/tombstones")
    val conf = spark.sparkContext.hadoopConfiguration
    for (s <- Seq(snapM, snapS)) {
      val p = new org.apache.hadoop.fs.Path(s)
      p.getFileSystem(conf).delete(p, true)
    }
  }

  implicit class DatasetDedupOps[T](private val ds: Dataset[T]) extends AnyVal {

    /** Exact dedup: keep, per distinct value of `textCol`, the row with
      * the smallest `idCol`. A `min_by` aggregation, not a window: the
      * partial-aggregate (map-side combine) collapses duplicates before
      * the shuffle, so at most one row per distinct text per mapper moves
      * — a window would shuffle every row. */
    def exactDedup(textCol: String, idCol: String): DataFrame = {
      val df = ds.toDF
      val all = struct(df.columns.map(col): _*)
      df.groupBy(xxhash64(col(textCol)), col(textCol))
        .agg(min_by(all, col(idCol)).as("__row"))
        .select(df.columns.map(c => col(s"__row.$c").as(c)): _*)
    }

    /** Persist this corpus's exact-dedup digest set AT REST: one
      * (id, xxhash64, md5) row per document plus an optional Bloom
      * filter over the 64-bit digests — write once, gate every ingest
      * wave without ever re-reading corpus text. The Bloom filter is
      * the 100-TB move: at the default 1% fpp, ~99% of genuinely novel
      * wave docs are cleared by a LOCAL probe (zero shuffle) and only
      * the maybes pay the digest equi-join. It is never a correctness
      * gate — matches are always confirmed against the stored 192-bit
      * (xxhash64 + md5) digest pair, the standard content-address
      * argument. `maxBloomBytes` bounds what the reader must broadcast:
      * past it (≈ 10^9 docs at 1% fpp per 1.2 GB) the filter is SKIPPED
      * and recorded as such in the meta — the gate stays correct, just
      * join-only. Tagged params + write token refuse mis-parameterized
      * or torn layouts, as in [[writeMinhashIndex]]. */
    def writeDigestIndex(path: String, idCol: String, textCol: String,
                         normalized: Boolean = false, fpp: Double = 0.01,
                         maxBloomBytes: Long = 128L << 20): Unit = {
      require(fpp > 0 && fpp < 1, s"fpp in (0,1): $fpp")
      require(!idCol.contains(",") && !idCol.contains(":"),
        s"writeDigestIndex: idCol '$idCol' would break the meta codec " +
          "(',' and ':' are its delimiters)")
      val spark = ds.sparkSession
      val token = java.util.UUID.randomUUID().toString
      val t = if (normalized) normalizeText(col(textCol)) else col(textCol)
      val digests = ds.toDF
        .select(col(idCol), xxhash64(t).as("__h64"), unhex(md5(t)).as("__md5"))
      digests.withColumn("__graft_token", lit(token))
        .repartitionByRange(col("__h64"))
        .sortWithinPartitions(col("__h64"))
        .write.mode("overwrite").parquet(s"$path/digests")
      // size the filter from the written table (narrow columns, one
      // bounded job) — n rows is a safe over-estimate of distinct
      // digests, it only lowers the realized fpp
      val n = spark.read.parquet(s"$path/digests").count()
      val bloomBits = math.ceil(
        -n.toDouble * math.log(fpp) / (math.log(2) * math.log(2))).toLong
      val withBloom = n > 0 && bloomBits / 8 <= maxBloomBytes
      if (withBloom) {
        val bf = spark.read.parquet(s"$path/digests")
          .stat.bloomFilter("__h64", n, fpp)
        DedupOps.writeBloomRow(spark, path, token, bf, "overwrite")
      }
      // a fresh full write starts a new generation: stale tombstones
      // from the previous one must not shadow it
      DedupOps.deleteDir(spark, s"$path/tombstones")
      val idOk = DedupOps.writeIdBloomRow(spark, path, "digests", idCol,
        token, "overwrite", maxBloomBytes = maxBloomBytes)
      import spark.implicits._
      DedupOps.publishMeta(spark, path, Seq(s"params=idCol:$idCol,normalized:$normalized," +
          s"bloom:${if (withBloom) "yes" else "no"},fpp:$fpp",
        "token=" + token,
        "waves=" + token)
        ++ DedupOps.idBloomMetaLine(idOk))
    }

    /** Admit THIS dataset into a [[writeDigestIndex]] layout as a new
      * ingest wave: digests append under a FRESH wave token, and —
      * when the layout carries Bloom filters — the wave writes its OWN
      * filter (sized for its rows at the meta's fpp) beside the
      * existing ones; readers OR the per-wave probes, so a definite-no
      * stays a definite-no and the realized fpp grows additively with
      * the wave count (k·fpp — visible, never silent: the meta lists
      * every wave). The meta's token list commits LAST; a torn append
      * refuses at read. O(wave) — stored digests are never re-read
      * beyond the id-clash semi-join.
      *
      * `maxBloomBytes` bounds the wave's OWN filter exactly as
      * [[writeDigestIndex]] bounds the initial one (ADVICE r11: an
      * unbounded appended wave could add a filter every subsequent
      * reader must collect and embed in its plan). A wave past the
      * bound downgrades the LAYOUT to `bloom:no` in the meta — loud,
      * never silent; the gate stays correct, join-only — because the
      * readers' filters-cover-exactly-the-admitted-waves invariant
      * cannot hold with one wave's filter missing. */
    def appendDigestIndex(path: String, idCol: String,
                          textCol: String,
                          maxBloomBytes: Long = 128L << 20): Unit = {
      val spark = ds.sparkSession
      val params = DedupOps.indexMeta(spark, path, "appendDigestIndex")
      require(params.contains("__waves"),
        s"appendDigestIndex: $path/meta has no 'waves' line — the " +
          "layout predates wave support; rewrite with writeDigestIndex")
      val storedId = params("idCol")
      DedupOps.idClashCheck(spark, path, "digests", "appendDigestIndex",
        ds.toDF.select(col(idCol).as(storedId)), storedId, params)
      val waveToken = java.util.UUID.randomUUID().toString
      val t = if (params("normalized").toBoolean) normalizeText(col(textCol))
              else col(textCol)
      ds.toDF
        .select(col(idCol).as(storedId), xxhash64(t).as("__h64"),
          unhex(md5(t)).as("__md5"))
        .withColumn("__graft_token", lit(waveToken))
        .repartitionByRange(col("__h64"))
        .sortWithinPartitions(col("__h64"))
        .write.mode("append").parquet(s"$path/digests")
      val bloomStatus = if (params("bloom") != "yes") params("bloom") else {
        // built from the rows actually WRITTEN (token-filtered read
        // back), never a second source scan: a non-deterministic wave
        // (sample, limit) would otherwise land digests its own filter
        // never saw — and a bloom false MUST stay a definite no
        val written = spark.read.parquet(s"$path/digests")
          .filter(col("__graft_token") === waveToken)
        val n = math.max(1L, written.count())
        val fpp = params("fpp").toDouble
        val bloomBits = math.ceil(
          -n.toDouble * math.log(fpp) / (math.log(2) * math.log(2))).toLong
        if (bloomBits / 8 <= maxBloomBytes) {
          val bf = written.stat.bloomFilter("__h64", n, fpp)
          DedupOps.writeBloomRow(spark, path, waveToken, bf, "append")
          "yes"
        } else "no" // wave filter past the broadcast bound: downgrade, loudly
      }
      // the wave's id filter keeps the clash gate's coverage complete;
      // a downgraded layout stays downgraded (no wasted filter job)
      val idOk = params.get("__idbloom").contains("yes") &&
        DedupOps.writeIdBloomRow(spark, path, "digests", storedId,
          waveToken, "append")
      DedupOps.publishMeta(spark, path, Seq("params=" + Seq("idCol", "normalized", "bloom", "fpp")
            .map(k => s"$k:${(params + ("bloom" -> bloomStatus))(k)}").mkString(","),
        "token=" + params("__token"),
        "waves=" + params("__waves") + ";" + waveToken)
        ++ DedupOps.tombsMetaLine(params)
        ++ DedupOps.idBloomMetaLine(idOk))
    }

    /** Exact-duplicate pairs of THIS wave against a [[writeDigestIndex]]
      * layout: (id_new, id_corpus) where the wave doc's text equals the
      * corpus doc's (normalized first iff the index was written
      * normalized — the meta decides, so a differently-normalized probe
      * is impossible). Matches confirm on the stored 192-bit digest
      * pair; the Bloom filter (when the layout carries one) only thins
      * the wave BEFORE the join. */
    def exactPairsAgainstIndex(path: String, idCol: String,
                               textCol: String): DataFrame = {
      val (stored, waveD, storedId, maybe) =
        digestGateSides(path, idCol, textCol)
      val thinned = maybe match {
        case Some(m) => waveD.filter(m)
        case None    => waveD
      }
      thinned
        .join(stored, Seq("__h64", "__md5"))
        .select(col("id_new"), col(storedId).as("id_corpus"))
    }

    /** The ADMIT set: wave rows (all columns preserved) whose text
      * matches nothing in the [[writeDigestIndex]] corpus. This is
      * where the Bloom filter earns its bytes: a `false` probe is a
      * definite no-match, so those rows are admitted LOCALLY — only
      * Bloom maybes (true dups + fpp of the novel) ride the anti-join
      * shuffle. */
    def admitAgainstDigestIndex(path: String, idCol: String,
                                textCol: String): DataFrame = {
      val (stored, waveD, _, maybe) = digestGateSides(path, idCol, textCol)
      val storedKeys = stored.select(col("__h64"), col("__md5"))
      val admitted = maybe match {
        case Some(m) =>
          waveD.filter(!m).unionByName(
            waveD.filter(m)
              .join(storedKeys, Seq("__h64", "__md5"), "left_anti"))
        case None =>
          waveD.join(storedKeys, Seq("__h64", "__md5"), "left_anti")
      }
      ds.toDF.join(admitted.select(col("id_new").as("__keep")),
        col(idCol) === col("__keep"), "left_semi")
    }

    /** Shared read path of the digest gate: meta-driven digest columns
      * for the wave (the meta decides normalization — a differently-
      * hashed probe is impossible), token-checked stored digests, and
      * the layout's Bloom bytes when the meta says one was written. */
    private def digestGateSides(path: String, idCol: String, textCol: String)
        : (DataFrame, DataFrame, String, Option[Column]) = {
      val spark = ds.sparkSession
      val params = DedupOps.indexMeta(spark, path, "digest gate")
      val waveTokens = params.getOrElse("__waves", params("__token"))
        .split(";").toSeq
      require(waveTokens.contains(params("__token")),
        s"digest gate: write-token mismatch inside $path/meta (token " +
          "not in the waves list) — rewrite the layout")
      val storedId = params("idCol")
      val stored = spark.read.parquet(s"$path/digests")
      require(stored.columns.contains("__graft_token"),
        s"digest gate: $path/digests has no __graft_token column — the " +
          "layout is torn or foreign; rewrite with writeDigestIndex")
      val storedOk0 = stored.filter(
        assert_true(col("__graft_token").isin(waveTokens: _*),
          lit(s"digest gate: write-token mismatch between $path/meta and " +
            s"$path/digests — rewrite the layout")).isNull)
        .drop("__graft_token")
      // admitted delete waves subtract: a tombstoned doc matches nothing
      val storedOk = DedupOps.tombstoneIds(spark, path, params,
          "digest gate") match {
        case Some(t) => storedOk0.join(t, Seq(storedId), "left_anti")
        case None    => storedOk0
      }
      val t = if (params("normalized").toBoolean) normalizeText(col(textCol))
              else col(textCol)
      val wave = ds.toDF.select(col(idCol).as("id_new"),
        xxhash64(t).as("__h64"), unhex(md5(t)).as("__md5"))
      // the maybe-probe ORs every admitted wave's filter: a row is a
      // definite no-match only when ALL waves say no
      val maybe =
        if (params("bloom") == "yes")
          Some(DedupOps.digestBlooms(spark, path, waveTokens)
            .map(b => bloomMightContain(col("__h64"), b))
            .reduce(_ || _))
        else None
      (storedOk, wave, storedId, maybe)
    }

    /** MinHash-LSH near-dup candidate pairs, exactly verified.
      *
      * tokens -> n-shingles -> `numHashes`-slot minhash signature ->
      * `bands` bands of rows hashed to bucket keys -> equi-join on
      * (band, bucket) -> distinct (id1 < id2) pairs -> exact shingle
      * Jaccard filter at `threshold`.
      *
      * Returns (id1, id2, jaccard). Approximate in recall (standard LSH
      * guarantee), exact in precision (false candidates are filtered by
      * the verify step).
      *
      * `maxBucket` caps candidate generation per (band, bucket): a
      * boilerplate bucket of B identical-signature docs would emit
      * B²/2 pairs from a single bucket — the classic self-join
      * detonation on templated corpora. Buckets over the cap are
      * EXCLUDED from candidate generation — a deliberate recall cut on
      * boilerplate clusters, which exactDedup and the other bands still
      * partially cover — so capping is OPT-IN (default 0 = disabled):
      * full recall unless the caller chooses the cut. When capping, the
      * cut is auditable, not silent: [[minHashOversizedBuckets]] lists
      * exactly the dropped buckets and their sizes. Caps up to
      * [[DedupOps.CappedArrayBucketMax]] take the single-evaluation
      * array route; larger caps keep the self-join shape (identical
      * pairs either way). */
    def minHashPairs(idCol: String, textCol: String, shingle: Int = 3,
                     numHashes: Int = 64, bands: Int = 16,
                     threshold: Double = 0.5, seed: Long = 42L,
                     maxBucket: Int = 0): DataFrame = {
      require(numHashes % bands == 0, "bands must divide numHashes")
      // NOTE (uncapped route): the banded frame is referenced by both
      // sides of the bucket self-join, re-running the signature kernels
      // per reference (the two sides' exchanges differ by alias, so
      // stage reuse cannot merge them). A persist here would leak a
      // CacheManager entry per call (the lazy result leaves no
      // unpersist point), so the production pattern is the CALLER
      // materializing bandedBuckets once — e.g. checkpointed beside the
      // corpus and reused across ingest waves. The CAPPED route below
      // does not have the problem: one evaluation, one shuffle.
      val banded = bandedBuckets(idCol, textCol, shingle, numHashes, bands, seed)
      val pairs =
        if (maxBucket > 0 && maxBucket <= DedupOps.CappedArrayBucketMax) {
          // capped route: the cap bounds every bucket, so the bucket
          // membership can be ONE collect_list aggregation (state <=
          // maxBucket ids per bucket — the same bound the cap already
          // imposes on pair fan-out) and within-bucket pairs come from
          // a codegen'd higher-order expression over the sorted id
          // array instead of a self-join. The signature pipeline runs
          // ONCE (the former count-agg + semi-join + two join sides
          // re-evaluated the 64-hash kernel four times), the cap check
          // is a free size() filter, and oversized buckets drop before
          // a single pair exists.
          val buckets = banded
            .groupBy(col("__band"), col("__bucket"))
            .agg(collect_list(col(idCol)).as("__ids"))
            .filter(size(col("__ids")).between(2, maxBucket))
          val sortedIds = array_sort(col("__ids"))
          buckets
            .select(explode(flatten(transform(sortedIds, (x, i) =>
              transform(slice(sortedIds, i + 2, lit(maxBucket)),
                y => struct(x.as("id1"), y.as("id2")))))).as("__p"))
            // duplicate idCol VALUES would pair with themselves from a
            // sorted array; the strict filter keeps parity with the
            // uncapped route's id1 < id2 join condition
            .filter(col("__p.id1") < col("__p.id2"))
            .select(col("__p.id1"), col("__p.id2"))
            .distinct()
        } else if (maxBucket > 0) {
          // caps past the array route's ceiling keep the SELF-JOIN
          // shape with a count pre-filter: the array route would
          // materialize ~maxBucket^2/2 pair structs as ONE row before
          // explode — a 10k cap is ~50M structs in a single task —
          // whereas the join spreads a big bucket's pair fan-out
          // across the shuffle like the uncapped route does
          val kept = banded.join(
            banded.groupBy(col("__band"), col("__bucket"))
              .agg(count(lit(1)).as("__n"))
              .filter(col("__n").between(2, maxBucket))
              .select(col("__band"), col("__bucket")),
            Seq("__band", "__bucket"), "left_semi")
          val l = kept.select(col(idCol).as("id1"), col("__band"), col("__bucket"))
          val r = kept.select(col(idCol).as("id2"), col("__band"), col("__bucket"))
          l.join(r, Seq("__band", "__bucket"))
            .filter(col("id1") < col("id2"))
            .select(col("id1"), col("id2"))
            .distinct()
        } else {
          val l = banded.select(col(idCol).as("id1"), col("__band"), col("__bucket"))
          val r = banded.select(col(idCol).as("id2"), col("__band"), col("__bucket"))
          l.join(r, Seq("__band", "__bucket"))
            .filter(col("id1") < col("id2"))
            .select(col("id1"), col("id2"))
            .distinct()
        }
      // exact verify over precomputed sorted shingle sets (the per-doc /
      // per-pair kernel split of shingleJaccard — identical scores, no
      // per-candidate re-tokenization), restricted to CANDIDATE docs: at
      // corpus scale the pair set is a sliver of the corpus, so the
      // per-side semi-joins keep the shingle kernel off every doc that
      // appears in no pair (the former full-corpus t1/t2 tokenized
      // everything twice). `pairs` ends in a distinct shuffle, so its
      // references here share one reused exchange stage, not three
      // signature evaluations.
      val t1 = ds.toDF
        .join(pairs.select(col("id1").as("__cand")),
          col(idCol) === col("__cand"), "left_semi")
        .select(col(idCol).as("id1"), shingleSet(col(textCol), shingle).as("__sh1"))
      val t2 = ds.toDF
        .join(pairs.select(col("id2").as("__cand")),
          col(idCol) === col("__cand"), "left_semi")
        .select(col(idCol).as("id2"), shingleSet(col(textCol), shingle).as("__sh2"))
      pairs.join(t1, Seq("id1")).join(t2, Seq("id2"))
        .withColumn("jaccard", sortedJaccard(col("__sh1"), col("__sh2")))
        .filter(col("jaccard") >= threshold)
        .select(col("id1"), col("id2"), col("jaccard"))
    }

    /** Incremental (asymmetric) MinHash-LSH near-dup gate: candidate
      * pairs between THIS dataset — the newly ingested shard — and the
      * EXISTING `corpus`, exactly verified. The ingest-time shape of
      * dedup: the corpus's banded buckets are computed once per ingest
      * wave (persist them across waves in production), the new shard's
      * buckets are shard-sized, and the equi-join on (band, bucket)
      * replaces the corpus self-join — candidate work scales with the
      * SHARD, not the corpus. Self pairs (same id on both sides, when
      * the shard overlaps the corpus id space) are dropped.
      *
      * Returns (id_new, id_corpus, jaccard) at `threshold`, with the
      * same precision guarantee as [[minHashPairs]] (exact shingle
      * Jaccard verify); `maxBucket` caps the CORPUS bucket population
      * (that is where templated boilerplate detonates). */
    def minHashPairsAgainst(corpus: Dataset[_], idCol: String, textCol: String,
                            shingle: Int = 3, numHashes: Int = 64,
                            bands: Int = 16, threshold: Double = 0.5,
                            seed: Long = 42L, maxBucket: Int = 0): DataFrame = {
      require(numHashes % bands == 0, "bands must divide numHashes")
      val newB = bandedBuckets(idCol, textCol, shingle, numHashes, bands, seed)
      val corpB = new DatasetDedupOps(corpus)
        .bandedBuckets(idCol, textCol, shingle, numHashes, bands, seed)
      val pairs = DedupOps.pairsAgainstBuckets(newB, corpB, idCol, maxBucket)
      // candidate-restricted verify (the minHashPairs discipline): the
      // CORPUS side especially must not pay whole-corpus tokenization
      // for a shard-sized pair set; `pairs` ends in a distinct shuffle,
      // so its references share one reused exchange stage
      val t1 = ds.toDF
        .join(pairs.select(col("id_new").as("__cand")),
          col(idCol) === col("__cand"), "left_semi")
        .select(col(idCol).as("id_new"),
          shingleSet(col(textCol), shingle).as("__sh1"))
      val t2 = corpus.toDF
        .join(pairs.select(col("id_corpus").as("__cand")),
          col(idCol) === col("__cand"), "left_semi")
        .select(col(idCol).as("id_corpus"),
          shingleSet(col(textCol), shingle).as("__sh2"))
      pairs.join(t1, Seq("id_new")).join(t2, Seq("id_corpus"))
        .withColumn("jaccard", sortedJaccard(col("__sh1"), col("__sh2")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_new"), col("id_corpus"), col("jaccard"))
    }

    /** Persist this corpus's MinHash-LSH index AT REST: the banded
      * bucket table (id, band, bucket) plus the per-doc sorted shingle
      * sets the exact verify needs — write once, ingest many. Each
      * arriving wave computes its OWN (shard-sized) buckets and joins
      * against the layout; the corpus text is never re-tokenized: even
      * the verify reads candidate shingles from the stored table. The
      * production form of [[minHashPairsAgainst]]'s "persist the
      * banded buckets across waves" note.
      *
      * Per-wave cost shape: wave-sized signature work + one COLUMNAR
      * scan of the (id, band, bucket) table — three narrow columns,
      * not text — with the wave side broadcast into the bucket join,
      * plus a candidate-semi-joined read of the shingle table for the
      * verify. The expensive passes (tokenize, shingle, 64-hash
      * signatures over the corpus) run exactly once, at write time.
      *
      * Layout: `$path/buckets` (band-clustered, bucket-sorted parquet),
      * `$path/shingles` (id-keyed sorted shingle arrays), `$path/meta`
      * (tagged params + write token). The reader derives its banding
      * from the META (a wave banded with different parameters would
      * silently find nothing), and the token pairing refuses torn
      * layouts — the SpatialDisk discipline. */
    def writeMinhashIndex(path: String, idCol: String, textCol: String,
                          shingle: Int = 3, numHashes: Int = 64,
                          bands: Int = 16, seed: Long = 42L): Unit = {
      require(numHashes % bands == 0, "bands must divide numHashes")
      require(!idCol.contains(",") && !idCol.contains(":"),
        s"writeMinhashIndex: idCol '$idCol' would break the meta codec " +
          "(',' and ':' are its delimiters)")
      val spark = ds.sparkSession
      val token = java.util.UUID.randomUUID().toString
      // stored as MEMBERSHIP ARRAYS per (band, bucket): the
      // collect_list aggregation runs ONCE here, so a wave's gate is a
      // broadcast-wave equi-join against the table IN PLACE — the
      // corpus side never shuffles again, capped or not (the flat
      // per-id layout forced the capped route to re-aggregate the
      // whole table per wave). sort_array keeps file bytes
      // deterministic.
      bandedBuckets(idCol, textCol, shingle, numHashes, bands, seed)
        .groupBy(col("__band"), col("__bucket"))
        .agg(sort_array(collect_list(col(idCol))).as("__cids"))
        .withColumn("__graft_token", lit(token))
        .repartition(col("__band"))
        .sortWithinPartitions(col("__band"), col("__bucket"))
        .write.mode("overwrite").parquet(s"$path/buckets")
      ds.toDF
        .select(col(idCol), shingleSet(col(textCol), shingle).as("__shingles"))
        .withColumn("__graft_token", lit(token))
        .write.mode("overwrite").parquet(s"$path/shingles")
      // a fresh full write starts a new generation: stale tombstones
      // from the previous one must not shadow it
      DedupOps.deleteDir(spark, s"$path/tombstones")
      val idOk = DedupOps.writeIdBloomRow(spark, path, "shingles", idCol,
        token, "overwrite")
      import spark.implicits._
      DedupOps.publishMeta(spark, path, Seq(s"params=idCol:$idCol,shingle:$shingle,numHashes:$numHashes," +
          s"bands:$bands,seed:$seed",
        "token=" + token,
        "waves=" + token)
        ++ DedupOps.idBloomMetaLine(idOk))
    }

    /** Admit THIS dataset into a [[writeMinhashIndex]] layout as a new
      * ingest wave — the [[appendCdcIndex]] discipline on the minhash
      * blocking key: the wave signs ITSELF with the meta's banding,
      * appends its own (band, bucket) membership arrays and shingles
      * under a FRESH wave token at O(wave) cost, and the meta's token
      * list commits LAST — a torn append is refused by every reader,
      * never half-read. Cross-wave id clashes refuse up front. */
    def appendMinhashIndex(path: String, idCol: String,
                           textCol: String): Unit = {
      val spark = ds.sparkSession
      val params = DedupOps.indexMeta(spark, path, "appendMinhashIndex")
      require(params.contains("__waves"),
        s"appendMinhashIndex: $path/meta has no 'waves' line — the " +
          "layout predates wave support; rewrite with writeMinhashIndex")
      val storedId = params("idCol")
      DedupOps.idClashCheck(spark, path, "shingles", "appendMinhashIndex",
        ds.toDF.select(col(idCol).as(storedId)), storedId, params)
      val waveToken = java.util.UUID.randomUUID().toString
      bandedBuckets(idCol, textCol, params("shingle").toInt,
        params("numHashes").toInt, params("bands").toInt,
        params("seed").toLong)
        .groupBy(col("__band"), col("__bucket"))
        .agg(sort_array(collect_list(col(idCol))).as("__cids"))
        .withColumn("__graft_token", lit(waveToken))
        .repartition(col("__band"))
        .sortWithinPartitions(col("__band"), col("__bucket"))
        .write.mode("append").parquet(s"$path/buckets")
      ds.toDF
        .select(col(idCol).as(storedId),
          shingleSet(col(textCol), params("shingle").toInt).as("__shingles"))
        .withColumn("__graft_token", lit(waveToken))
        .write.mode("append").parquet(s"$path/shingles")
      import spark.implicits._
      val idOk = params.get("__idbloom").contains("yes") &&
        DedupOps.writeIdBloomRow(spark, path, "shingles", storedId,
          waveToken, "append")
      DedupOps.publishMeta(spark, path, Seq("params=" + DedupOps.MinhashParamKeys
            .map(k => s"$k:${params(k)}").mkString(","),
        "token=" + params("__token"),
        "waves=" + params("__waves") + ";" + waveToken)
        ++ DedupOps.tombsMetaLine(params)
        ++ DedupOps.idBloomMetaLine(idOk))
    }

    /** Incremental near-dup gate against a [[writeMinhashIndex]] layout:
      * THIS dataset is the arriving wave; candidate pairs and the exact
      * Jaccard verify run against the AT-REST corpus index — identical
      * results to [[minHashPairsAgainst]] on the original corpus (the
      * pair kernel is shared; the verify reads the stored shingles), at
      * wave-plus-candidates cost. Returns (id_new, id_corpus, jaccard)
      * at `threshold`; `maxBucket` caps corpus bucket population as in
      * the direct form. */
    def minHashPairsAgainstIndex(path: String, idCol: String, textCol: String,
                                 threshold: Double = 0.5,
                                 maxBucket: Int = 0): DataFrame = {
      val spark = ds.sparkSession
      val params = DedupOps.indexMeta(spark, path, "minHashPairsAgainstIndex")
      // every admitted wave's token is valid; any OTHER token is a torn
      // append and the whole read refuses (appendMinhashIndex contract)
      val waveTokens = params.getOrElse("__waves", params("__token"))
        .split(";").toSeq
      require(waveTokens.contains(params("__token")),
        s"minHashPairsAgainstIndex: write-token mismatch inside " +
          s"$path/meta (token not in the waves list) — rewrite the layout")
      val storedId = params("idCol")
      def tokenChecked(df: DataFrame, what: String): DataFrame = {
        require(df.columns.contains("__graft_token"),
          s"minHashPairsAgainstIndex: $path/$what has no __graft_token " +
            "column — the layout is torn or foreign; rewrite with " +
            "writeMinhashIndex")
        df.filter(assert_true(col("__graft_token").isin(waveTokens: _*),
          lit(s"minHashPairsAgainstIndex: write-token mismatch between " +
            s"$path/meta and $path/$what — rewrite the layout")).isNull)
          .drop("__graft_token")
      }
      // the wave bands with the INDEX's parameters — the meta is the
      // single source of truth (different banding would silently find
      // nothing; deriving it here makes that impossible)
      val newB = bandedBuckets(idCol, textCol, params("shingle").toInt,
        params("numHashes").toInt, params("bands").toInt,
        params("seed").toLong)
      // candidate pairs straight off the stored membership arrays —
      // semantically identical to [[DedupOps.pairsAgainstBuckets]] on
      // the flat form (spec-checked for both cap settings), with ZERO
      // corpus-side shuffle: the wave side broadcasts, the bucket
      // table is scanned in place, oversized buckets drop on a size()
      val stored = tokenChecked(
        spark.read.parquet(s"$path/buckets"), "buckets")
      // one wave: arrays are whole, scan in place; several waves or a
      // delete wave: a bucket's members may be split across wave rows
      // or hold tombstoned ids — re-group (narrow columns) with the
      // tombstones anti-joined BEFORE the cap, so a capped read answers
      // exactly like a fresh write over the survivors;
      // [[DedupOps.compactMinhashIndex]] restores the fast path
      val tombs = DedupOps.tombstoneIds(spark, path, params,
        "minHashPairsAgainstIndex")
      val member =
        if (waveTokens.length == 1 && tombs.isEmpty) stored
        else {
          val exploded = stored
            .select(col("__band"), col("__bucket"),
              explode(col("__cids")).as("__cid"))
          val live = tombs match {
            case Some(t) => exploded.join(
              t.select(col(storedId).as("__cid")), Seq("__cid"), "left_anti")
            case None => exploded
          }
          live.groupBy(col("__band"), col("__bucket"))
            .agg(sort_array(collect_list(col("__cid"))).as("__cids"))
        }
      val kept =
        if (maxBucket > 0) member.filter(size(col("__cids")) <= maxBucket)
        else member
      val pairs = newB
        .select(col(idCol).as("id_new"), col("__band"), col("__bucket"))
        .join(kept, Seq("__band", "__bucket"))
        .select(col("id_new"), explode(col("__cids")).as("id_corpus"))
        .filter(col("id_new") =!= col("id_corpus"))
        .select(col("id_new"), col("id_corpus"))
        .distinct()
      val t1 = ds.toDF
        .join(pairs.select(col("id_new").as("__cand")),
          col(idCol) === col("__cand"), "left_semi")
        .select(col(idCol).as("id_new"),
          shingleSet(col(textCol), params("shingle").toInt).as("__sh1"))
      // corpus shingles come from the LAYOUT — candidate-restricted, so
      // raw corpus text is never touched after the write
      val t2 = tokenChecked(
        spark.read.parquet(s"$path/shingles"), "shingles")
        .join(pairs.select(col("id_corpus").as("__cand")),
          col(storedId) === col("__cand"), "left_semi")
        .select(col(storedId).as("id_corpus"), col("__shingles").as("__sh2"))
      pairs.join(t1, Seq("id_new")).join(t2, Seq("id_corpus"))
        .withColumn("jaccard", sortedJaccard(col("__sh1"), col("__sh2")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_new"), col("id_corpus"), col("jaccard"))
    }

    /** Audit surface for [[minHashPairs]]'s bucket cap: the (band,
      * bucket, size) rows EXCLUDED from candidate generation at
      * `maxBucket` — run it alongside a capped dedup to quantify the
      * recall cut instead of guessing. */
    def minHashOversizedBuckets(idCol: String, textCol: String,
                                shingle: Int = 3, numHashes: Int = 64,
                                bands: Int = 16, seed: Long = 42L,
                                maxBucket: Int = 1000): DataFrame = {
      require(maxBucket > 0,
        "the oversized-bucket audit only makes sense with a positive cap")
      bandedBuckets(idCol, textCol, shingle, numHashes, bands, seed)
        .groupBy(col("__band").as("band"), col("__bucket").as("bucket"))
        .agg(count(lit(1)).as("size"))
        .filter(col("size") > maxBucket)
    }

    /** CDC chunk-level near-dup pairs: documents sharing at least
      * `minShared` content-defined chunks ([[graft.functions.cdcChunks]]
      * boundaries — insertion-robust, so an edited doc still shares its
      * untouched chunks), exact-verified with shingle Jaccard. Chunk
      * hashing is the dedup family's third blocking key (beside
      * minhash bands and simhash blocks): it needs no signature tuning
      * and surfaces pairs that share long LITERAL spans even when
      * whole-doc Jaccard is low — the copied-paragraph case minhash's
      * global signature dilutes.
      *
      * 100-TB shape: texts are chunked and dropped in the first
      * projection — only (id, 64-bit chunk hash) rides the ONE groupBy
      * shuffle; `maxDocsPerChunk` bounds the membership arrays the way
      * the capped minhash route bounds buckets (a boilerplate chunk
      * shared by a million templated docs must not detonate the pair
      * expansion — such a chunk is dropped, auditable via
      * [[cdcCrossDocChunks]]), and only candidate docs are re-tokenized
      * for the verify (per-side semi-joins). Returns
      * (id1, id2, shared_chunks, jaccard). */
    def cdcChunkPairs(idCol: String, textCol: String, window: Int = 8,
                      maskBits: Int = 6, minSize: Int = 32,
                      maxSize: Int = 256, minShared: Int = 2,
                      shingle: Int = 3, maxDocsPerChunk: Int = 64): DataFrame = {
      require(minShared >= 1, s"minShared must be >= 1: $minShared")
      require(maxDocsPerChunk >= 2 &&
        maxDocsPerChunk <= DedupOps.CappedArrayBucketMax,
        s"maxDocsPerChunk in [2, ${DedupOps.CappedArrayBucketMax}]: $maxDocsPerChunk")
      val members = cdcChunkHashes(idCol, textCol, window, maskBits,
          minSize, maxSize)
        .groupBy(col("__h"))
        .agg(collect_list(col(idCol)).as("__ids"))
        .filter(size(col("__ids")).between(2, maxDocsPerChunk))
      val sortedIds = array_sort(col("__ids"))
      // a pair sharing k chunk hashes materializes k struct rows — the
      // groupBy count IS the shared-chunk count (chunkIds is distinct
      // per (id, hash), so each hash yields a pair at most once)
      val pairs = members
        .select(explode(flatten(transform(sortedIds, (x, i) =>
          transform(slice(sortedIds, i + 2, lit(maxDocsPerChunk)),
            y => struct(x.as("id1"), y.as("id2")))))).as("__p"))
        .filter(col("__p.id1") < col("__p.id2"))
        .groupBy(col("__p.id1").as("id1"), col("__p.id2").as("id2"))
        .agg(count(lit(1)).as("shared_chunks"))
        .filter(col("shared_chunks") >= minShared)
      // candidate-restricted verify, the minHashPairs discipline:
      // `pairs` ends in an aggregation shuffle, so its three references
      // here share one reused exchange stage
      val t1 = ds.toDF
        .join(pairs.select(col("id1").as("__cand")),
          col(idCol) === col("__cand"), "left_semi")
        .select(col(idCol).as("id1"), shingleSet(col(textCol), shingle).as("__sh1"))
      val t2 = ds.toDF
        .join(pairs.select(col("id2").as("__cand")),
          col(idCol) === col("__cand"), "left_semi")
        .select(col(idCol).as("id2"), shingleSet(col(textCol), shingle).as("__sh2"))
      pairs.join(t1, Seq("id1")).join(t2, Seq("id2"))
        .withColumn("jaccard", sortedJaccard(col("__sh1"), col("__sh2")))
        .select(col("id1"), col("id2"), col("shared_chunks"), col("jaccard"))
    }

    /** Chunk-level storage-dedup summary over content-defined chunks:
      * ONE row quantifying what a content-addressed chunk store would
      * save on this corpus (the rsync/backup economics applied to
      * corpus curation). `total_chunk_chars` equals the corpus's total
      * text length by the reassembly contract (chunks PARTITION each
      * doc — the grouping key includes the length, so the total is
      * exact even under a 64-bit hash collision); `distinct_chunk_chars`
      * is the store's residency, `dup_chunk_chars` the saving,
      * `cross_doc_chunks` the chunks appearing in >= 2 docs (the
      * near-dup signal [[cdcChunkPairs]] expands).
      *
      * 100-TB shape: chunk + hash in one projection (text dropped),
      * ONE groupBy shuffle on (hash, length) with map-side partial
      * aggregation, then a single global fold — no pair space, no
      * membership arrays, driver state is four longs. */
    def cdcDedupStats(idCol: String, textCol: String, window: Int = 8,
                      maskBits: Int = 6, minSize: Int = 32,
                      maxSize: Int = 256): DataFrame = {
      ds.toDF
        .select(col(idCol),
          explode(cdcChunks(col(textCol), window, maskBits, minSize,
            maxSize)).as("__c"))
        .select(col(idCol), xxhash64(col("__c")).as("__h"),
          length(col("__c")).cast("long").as("__len"))
        .groupBy(col("__h"), col("__len"))
        .agg(count(lit(1)).as("__n"), countDistinct(col(idCol)).as("__nd"))
        .agg(
          sum(col("__n") * col("__len")).as("total_chunk_chars"),
          sum(col("__len")).as("distinct_chunk_chars"),
          sum((col("__n") - 1) * col("__len")).as("dup_chunk_chars"),
          sum(when(col("__nd") >= 2, 1L).otherwise(0L)).as("cross_doc_chunks"))
    }

    /** Audit surface for [[cdcChunkPairs]]'s membership cap: the
      * (chunk hash, length, doc count) rows shared across more docs
      * than `maxDocsPerChunk` admits — boilerplate chunks excluded from
      * candidate generation, quantified instead of silently dropped. */
    def cdcCrossDocChunks(idCol: String, textCol: String, window: Int = 8,
                          maskBits: Int = 6, minSize: Int = 32,
                          maxSize: Int = 256,
                          maxDocsPerChunk: Int = 64): DataFrame = {
      require(maxDocsPerChunk >= 2,
        "the oversized-chunk audit only makes sense with a cap >= 2")
      ds.toDF
        .select(col(idCol),
          explode(cdcChunks(col(textCol), window, maskBits, minSize,
            maxSize)).as("__c"))
        .select(col(idCol), xxhash64(col("__c")).as("__h"),
          length(col("__c")).cast("long").as("__len"))
        .distinct()
        .groupBy(col("__h").as("chunk_hash"), col("__len").as("chunk_chars"))
        .agg(countDistinct(col(idCol)).as("n_docs"))
        .filter(col("n_docs") > maxDocsPerChunk)
    }

    /** This dataset's distinct (id, chunk-hash) rows under the given
      * CDC parameters — the blocking layout [[cdcChunkPairs]] and the
      * at-rest index share. Text drops in the first projection. */
    private def cdcChunkHashes(idCol: String, textCol: String, window: Int,
                               maskBits: Int, minSize: Int,
                               maxSize: Int): DataFrame =
      ds.toDF
        .select(col(idCol),
          explode(cdcChunks(col(textCol), window, maskBits, minSize,
            maxSize)).as("__c"))
        .select(col(idCol), xxhash64(col("__c")).as("__h"))
        .distinct()

    /** Persist this corpus's CDC chunk index AT REST: per-chunk-hash
      * sorted doc-membership arrays plus the per-doc shingle sets the
      * exact verify needs — write once, gate every ingest wave. The
      * [[writeMinhashIndex]] discipline applied to chunk blocking:
      * chunking + hashing over the corpus runs exactly once, each
      * arriving wave chunks only ITSELF and equi-joins the stored
      * membership table in place (three narrow columns, zero
      * corpus-side shuffle), and the verify reads candidate shingles
      * from the layout — corpus text is never re-read after the write.
      * Tagged params + write token make a mis-parameterized or torn
      * layout impossible to read silently. */
    def writeCdcIndex(path: String, idCol: String, textCol: String,
                      window: Int = 8, maskBits: Int = 6, minSize: Int = 32,
                      maxSize: Int = 256, shingle: Int = 3): Unit = {
      require(!idCol.contains(",") && !idCol.contains(":"),
        s"writeCdcIndex: idCol '$idCol' would break the meta codec " +
          "(',' and ':' are its delimiters)")
      val spark = ds.sparkSession
      val token = java.util.UUID.randomUUID().toString
      cdcChunkHashes(idCol, textCol, window, maskBits, minSize, maxSize)
        .groupBy(col("__h"))
        .agg(sort_array(collect_list(col(idCol))).as("__cids"))
        .withColumn("__graft_token", lit(token))
        .repartitionByRange(col("__h"))
        .sortWithinPartitions(col("__h"))
        .write.mode("overwrite").parquet(s"$path/chunks")
      ds.toDF
        .select(col(idCol), shingleSet(col(textCol), shingle).as("__shingles"))
        .withColumn("__graft_token", lit(token))
        .write.mode("overwrite").parquet(s"$path/shingles")
      // a fresh full write starts a new generation: stale tombstones
      // from the previous one must not shadow it
      DedupOps.deleteDir(spark, s"$path/tombstones")
      val idOk = DedupOps.writeIdBloomRow(spark, path, "shingles", idCol,
        token, "overwrite")
      import spark.implicits._
      DedupOps.publishMeta(spark, path, Seq(s"params=idCol:$idCol,window:$window,maskBits:$maskBits," +
          s"minSize:$minSize,maxSize:$maxSize,shingle:$shingle",
        "token=" + token,
        "waves=" + token)
        ++ DedupOps.idBloomMetaLine(idOk))
    }

    /** Admit THIS dataset into an existing [[writeCdcIndex]] layout as
      * a new ingest wave: the wave chunks and shingles ITSELF (meta
      * parameters, so a differently-chunked wave is impossible) and
      * appends its own membership arrays under a FRESH wave token —
      * corpus data is never touched, the append costs O(wave). The
      * meta's `waves=` token list is rewritten LAST as the commit
      * point: a failure after the row appends but before the meta
      * leaves rows under a token no meta lists, which every reader
      * REFUSES loudly (the torn layout is repaired by re-running the
      * append's meta write or rewriting the index) — never silently
      * read half-admitted. Cross-wave id clashes are refused up front:
      * one column-pruned semi-join against the stored shingle ids. */
    def appendCdcIndex(path: String, idCol: String, textCol: String): Unit = {
      val spark = ds.sparkSession
      val params = DedupOps.indexMeta(spark, path, "appendCdcIndex")
      require(params.contains("__waves"),
        s"appendCdcIndex: $path/meta has no 'waves' line — the layout " +
          "predates wave support; rewrite with writeCdcIndex")
      val storedId = params("idCol")
      DedupOps.idClashCheck(spark, path, "shingles", "appendCdcIndex",
        ds.toDF.select(col(idCol).as(storedId)), storedId, params)
      val waveToken = java.util.UUID.randomUUID().toString
      cdcChunkHashes(idCol, textCol, params("window").toInt,
        params("maskBits").toInt, params("minSize").toInt,
        params("maxSize").toInt)
        .groupBy(col("__h"))
        .agg(sort_array(collect_list(col(idCol))).as("__cids"))
        .withColumn("__graft_token", lit(waveToken))
        .repartitionByRange(col("__h"))
        .sortWithinPartitions(col("__h"))
        .write.mode("append").parquet(s"$path/chunks")
      ds.toDF
        .select(col(idCol).as(storedId),
          shingleSet(col(textCol), params("shingle").toInt).as("__shingles"))
        .withColumn("__graft_token", lit(waveToken))
        .write.mode("append").parquet(s"$path/shingles")
      import spark.implicits._
      val idOk = params.get("__idbloom").contains("yes") &&
        DedupOps.writeIdBloomRow(spark, path, "shingles", storedId,
          waveToken, "append")
      DedupOps.publishMeta(spark, path, Seq("params=" + DedupOps.CdcParamKeys
            .map(k => s"$k:${params(k)}").mkString(","),
        "token=" + params("__token"),
        "waves=" + params("__waves") + ";" + waveToken)
        ++ DedupOps.tombsMetaLine(params)
        ++ DedupOps.idBloomMetaLine(idOk))
    }

    /** Ingest-wave CDC dedup gate against a [[writeCdcIndex]] layout:
      * THIS dataset is the arriving wave; pairs sharing at least
      * `minShared` content-defined chunks with corpus docs come
      * straight off the stored membership arrays (the wave side joins
      * the table IN PLACE), the exact Jaccard verify reads corpus
      * shingles from the layout, and chunking parameters derive from
      * the META — a wave chunked differently is impossible, not just
      * unlikely. `maxDocsPerChunk` drops boilerplate chunks by stored
      * membership size, as in [[cdcChunkPairs]]. Returns
      * (id_new, id_corpus, shared_chunks, jaccard). */
    def cdcPairsAgainstIndex(path: String, idCol: String, textCol: String,
                             minShared: Int = 2,
                             maxDocsPerChunk: Int = 64): DataFrame = {
      require(minShared >= 1, s"minShared must be >= 1: $minShared")
      val spark = ds.sparkSession
      val params = DedupOps.indexMeta(spark, path, "cdcPairsAgainstIndex")
      // every admitted wave's token is valid; a row under any OTHER
      // token is a torn append (rows landed, meta commit didn't) and
      // the whole read refuses rather than miss half a wave
      val waveTokens = params.getOrElse("__waves", params("__token"))
        .split(";").toSeq
      require(waveTokens.contains(params("__token")),
        s"cdcPairsAgainstIndex: write-token mismatch inside $path/meta " +
          "(token not in the waves list) — rewrite the layout")
      val storedId = params("idCol")
      def tokenChecked(df: DataFrame, what: String): DataFrame = {
        require(df.columns.contains("__graft_token"),
          s"cdcPairsAgainstIndex: $path/$what has no __graft_token " +
            "column — the layout is torn or foreign; rewrite with " +
            "writeCdcIndex")
        df.filter(assert_true(col("__graft_token").isin(waveTokens: _*),
          lit(s"cdcPairsAgainstIndex: write-token mismatch between " +
            s"$path/meta and $path/$what — rewrite the layout")).isNull)
          .drop("__graft_token")
      }
      val waveChunks = cdcChunkHashes(idCol, textCol,
        params("window").toInt, params("maskBits").toInt,
        params("minSize").toInt, params("maxSize").toInt)
      val storedChunks = tokenChecked(
        spark.read.parquet(s"$path/chunks"), "chunks")
      // one wave: membership arrays are whole, scan them in place.
      // several waves or a delete wave: a chunk's members may be SPLIT
      // across wave rows or hold tombstoned ids, so re-group with the
      // tombstones anti-joined BEFORE the boilerplate cap (a capped
      // read answers exactly like a fresh write over the survivors) —
      // narrow columns only, and [[DedupOps.compactCdcIndex]] restores
      // the in-place fast path
      val tombs = DedupOps.tombstoneIds(spark, path, params,
        "cdcPairsAgainstIndex")
      val merged =
        if (waveTokens.length == 1 && tombs.isEmpty) storedChunks
        else {
          val exploded = storedChunks
            .select(col("__h"), explode(col("__cids")).as("__cid"))
          val live = tombs match {
            case Some(t) => exploded.join(
              t.select(col(storedId).as("__cid")), Seq("__cid"), "left_anti")
            case None => exploded
          }
          live.groupBy(col("__h"))
            .agg(sort_array(collect_list(col("__cid"))).as("__cids"))
        }
      val member = merged.filter(size(col("__cids")) <= maxDocsPerChunk)
      val pairs = waveChunks
        .select(col(idCol).as("id_new"), col("__h"))
        .join(member, Seq("__h"))
        .select(col("id_new"), explode(col("__cids")).as("id_corpus"))
        .filter(col("id_new") =!= col("id_corpus"))
        .groupBy(col("id_new"), col("id_corpus"))
        .agg(count(lit(1)).as("shared_chunks"))
        .filter(col("shared_chunks") >= minShared)
      val t1 = ds.toDF
        .join(pairs.select(col("id_new").as("__cand")),
          col(idCol) === col("__cand"), "left_semi")
        .select(col(idCol).as("id_new"),
          shingleSet(col(textCol), params("shingle").toInt).as("__sh1"))
      val t2 = tokenChecked(
        spark.read.parquet(s"$path/shingles"), "shingles")
        .join(pairs.select(col("id_corpus").as("__cand")),
          col(storedId) === col("__cand"), "left_semi")
        .select(col(storedId).as("id_corpus"), col("__shingles").as("__sh2"))
      pairs.join(t1, Seq("id_new")).join(t2, Seq("id_corpus"))
        .withColumn("jaccard", sortedJaccard(col("__sh1"), col("__sh2")))
        .select(col("id_new"), col("id_corpus"), col("shared_chunks"),
          col("jaccard"))
    }

    /** Direct (no-layout) form of [[cdcPairsAgainstIndex]]: wave-vs-
      * corpus shared-chunk pairs with both sides chunked fresh —
      * the reference semantics the index must reproduce bit-for-bit
      * (same membership-array shape, so equality is by construction;
      * the dd_cdc_index verdict row pins it engine-side). */
    def cdcChunkPairsAgainst(corpus: Dataset[_], idCol: String,
                             textCol: String, window: Int = 8,
                             maskBits: Int = 6, minSize: Int = 32,
                             maxSize: Int = 256, minShared: Int = 2,
                             shingle: Int = 3,
                             maxDocsPerChunk: Int = 64): DataFrame = {
      require(minShared >= 1, s"minShared must be >= 1: $minShared")
      val waveChunks = cdcChunkHashes(idCol, textCol, window, maskBits,
        minSize, maxSize)
      val member = new DatasetDedupOps(corpus)
        .cdcChunkHashes(idCol, textCol, window, maskBits, minSize, maxSize)
        .groupBy(col("__h"))
        .agg(sort_array(collect_list(col(idCol))).as("__cids"))
        .filter(size(col("__cids")) <= maxDocsPerChunk)
      val pairs = waveChunks
        .select(col(idCol).as("id_new"), col("__h"))
        .join(member, Seq("__h"))
        .select(col("id_new"), explode(col("__cids")).as("id_corpus"))
        .filter(col("id_new") =!= col("id_corpus"))
        .groupBy(col("id_new"), col("id_corpus"))
        .agg(count(lit(1)).as("shared_chunks"))
        .filter(col("shared_chunks") >= minShared)
      val t1 = ds.toDF
        .join(pairs.select(col("id_new").as("__cand")),
          col(idCol) === col("__cand"), "left_semi")
        .select(col(idCol).as("id_new"),
          shingleSet(col(textCol), shingle).as("__sh1"))
      val t2 = corpus.toDF
        .join(pairs.select(col("id_corpus").as("__cand")),
          col(idCol) === col("__cand"), "left_semi")
        .select(col(idCol).as("id_corpus"),
          shingleSet(col(textCol), shingle).as("__sh2"))
      pairs.join(t1, Seq("id_new")).join(t2, Seq("id_corpus"))
        .withColumn("jaccard", sortedJaccard(col("__sh1"), col("__sh2")))
        .select(col("id_new"), col("id_corpus"), col("shared_chunks"),
          col("jaccard"))
    }

    /** Shared candidate layout: one (id, band, bucket) row per doc per
      * band. Texts never ride this — at corpus scale they'd shuffle once
      * per band; they join back for the exact verify. Band b's bucket
      * key = hash of its signature slice (statically unrolled: band
      * count is a plan-time constant). */
    /** `carry` rides extra computed columns through the banding
      * projection (e.g. the row's own shingle set) — the streaming
      * gate needs them on the SAME row because a stream cannot join
      * back to itself for the verify. */
    private[graft] def bandedBuckets(idCol: String, textCol: String, shingle: Int,
                              numHashes: Int, bands: Int, seed: Long,
                              carry: Seq[(String, Column)] = Nil): DataFrame = {
      val rows = numHashes / bands
      val doc = carry.foldLeft(ds.toDF.select(col(idCol), col(textCol))) {
          case (df, (n, c)) => df.withColumn(n, c)
        }
        .withColumn("__sig", minhashSignature(col(textCol), shingle, numHashes, seed))
      val bandStructs = (0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(slice(col("__sig"), b * rows + 1, rows)).as("bucket"))
      }
      val keep = col(idCol) +: carry.map(c => col(c._1))
      doc.select(keep :+ explode(array(bandStructs: _*)).as("__b"): _*)
        .select(keep :+ col("__b.band").as("__band")
          :+ col("__b.bucket").as("__bucket"): _*)
    }

    /** SimHash near-dup pairs: 64-bit signature, banded into `blocks`
      * exact-match blocks (a pair within `maxHamming` bit flips must agree
      * on at least one block when maxHamming < blocks), verified by exact
      * Hamming distance. Returns (id1, id2, hamming). */
    def simHashPairs(idCol: String, textCol: String, blocks: Int = 4,
                     maxHamming: Int = 3): DataFrame = {
      require(64 % blocks == 0, "blocks must divide 64")
      require(maxHamming < blocks,
        "pigeonhole: need maxHamming < blocks for full candidate recall")
      val width = 64 / blocks
      val mask = if (width == 64) -1L else (1L << width) - 1
      val doc = ds.toDF.select(col(idCol), simhash64(col(textCol)).as("__sim"))
      val blockStructs = (0 until blocks).map { b =>
        struct(lit(b).as("blk"),
          shiftrightunsigned(col("__sim"), b * width).bitwiseAND(lit(mask)).as("key"))
      }
      val banded = doc
        .select(col(idCol), col("__sim"), explode(array(blockStructs: _*)).as("__b"))
        .select(col(idCol), col("__sim"),
          col("__b.blk").as("__blk"), col("__b.key").as("__key"))
      val l = banded.select(col(idCol).as("id1"), col("__sim").as("__s1"),
        col("__blk"), col("__key"))
      val r = banded.select(col(idCol).as("id2"), col("__sim").as("__s2"),
        col("__blk"), col("__key"))
      l.join(r, Seq("__blk", "__key"))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"), col("__s1"), col("__s2"))
        .distinct()
        .withColumn("hamming", bit_count(col("__s1").bitwiseXOR(col("__s2"))).cast("int"))
        .filter(col("hamming") <= maxHamming)
        .select(col("id1"), col("id2"), col("hamming"))
    }

    /** Blocked exact n-gram Jaccard pairs: candidate pairs share the
      * blocking columns (e.g. language + length bucket); each candidate is
      * scored with exact shingle Jaccard. Deterministic and exhaustive
      * within blocks — the non-probabilistic cousin of minHashPairs.
      *
      * Each document's distinct SORTED shingle-hash set is computed ONCE
      * before the join (one-pass `ShingleSet` kernel — the per-doc half
      * of `shingleJaccard`); a LOSSLESS size-ratio prune (J(A,B) <=
      * min/max of the set sizes, so J >= t forces an integer condition
      * min >= t*max, covering the 0/0 -> J=1 edge since 0 >= t*0) kills
      * the bulk of the within-block pair space; survivors score by the
      * merge-intersection `SortedJaccard` kernel, bit-identical to
      * `shingleJaccard` on the raw texts. Re-tokenizing both texts per
      * candidate pair instead measured 26s vs ~2s at sf0.1. */
    def ngramJaccardPairs(idCol: String, textCol: String, blockBy: Seq[Column],
                          n: Int = 3, threshold: Double = 0.5): DataFrame = {
      val withBlock = ds.toDF.withColumn("__block", xxhash64(blockBy: _*))
        .select(col(idCol), shingleSet(col(textCol), n).as("__sh"), col("__block"))
      val l = withBlock.select(col(idCol).as("id1"), col("__sh").as("__s1"), col("__block"))
      val r = withBlock.select(col(idCol).as("id2"), col("__sh").as("__s2"), col("__block"))
      val (sa, sb) = (size(col("__s1")), size(col("__s2")))
      val sizeOk = least(sa, sb).cast("double") >=
        lit(threshold) * greatest(sa, sb).cast("double")
      l.join(r, Seq("__block"))
        .filter(col("id1") < col("id2"))
        .filter(sizeOk)
        .withColumn("jaccard", sortedJaccard(col("__s1"), col("__s2")))
        .filter(col("jaccard") >= threshold)
        .select(col("id1"), col("id2"), col("jaccard"))
    }

    /** Connected components over a near-dup pair list: every document of
      * this dataset gets the minimum id OF THIS DATASET reachable through
      * `pairs` as its `component` (unpaired docs are their own singleton
      * component; ids that appear only in `pairs` — a pair list computed
      * on a superset corpus — relay connectivity but are never emitted
      * as labels or rows) —
      * the clustering step a dedup pipeline runs after pair generation,
      * so "keep one doc per component" is a single `min_by` away.
      *
      * Shape: iterative min-label propagation WITH pointer doubling —
      * per round every node takes the min of its own label, its
      * neighbors' labels (one equi-join), and its label's label (a
      * self-join shortcut that halves label-chain depth, giving
      * O(log n) rounds even on a pathological chain instead of
      * O(diameter)), then one map-side-combinable min agg; lineage is
      * cut by a local checkpoint each round (the standard
      * iterative-DataFrame discipline — lineage would otherwise double
      * per round). The loop stops as soon as a round changes nothing;
      * `maxIters` bounds the worst case and hitting it throws rather
      * than silently returning a half-converged clustering. */
    def nearDupComponents(idCol: String, pairs: DataFrame,
                          id1: String = "id1", id2: String = "id2",
                          maxIters: Int = 25): DataFrame = {
      // one distinct-id scan, checkpointed once, reused as both the
      // propagation seed and the final restriction (previously the
      // restriction recomputed the distinct scan per call)
      val ownIds = ds.toDF.select(col(idCol).as("__id")).distinct()
        .localCheckpoint()
      val labels = DedupOps.labelTableFrom(ownIds, pairs, id1, id2, maxIters)
      // restrict to THIS dataset's ids: a pair list computed on a
      // superset dataset may reference foreign ids — they participate in
      // propagation above (a foreign node can bridge two of our docs)
      // but must not appear as output rows
      labels.join(ownIds, Seq("__id"), "left_semi")
        .select(col("__id").as(idCol), col("__lbl").as("component"))
    }

    /** Near-duplicate RETENTION policy: keep, from each connected
      * component of near-dups, the single best row under `order`
      * (callers include a unique tie-break — quality DESC, id ASC is
      * the standard). Production dedup does not keep an arbitrary
      * member; it keeps the best copy (longest, highest-quality,
      * canonical source) and drops the rest — this verb is that last
      * step, composed over [[nearDupComponents]]'s output. Singleton
      * components pass through untouched, so the result is exactly
      * "the corpus with near-dup clusters collapsed to their best
      * member".
      *
      * Scale shape: one hash shuffle on the component id; the rank-1
      * filter plans as WindowGroupLimit, so map tasks pre-prune to one
      * row per component before the shuffle — the shuffle carries at
      * most one row per (component, task) however large a cluster is. */
    def dedupKeepBest(idCol: String, components: DataFrame,
                      order: Seq[Column]): DataFrame = {
      val w = Window.partitionBy(col("component")).orderBy(order: _*)
      ds.toDF.join(components, Seq(idCol))
        .withColumn("__graft_kb_rn", row_number().over(w))
        .filter(col("__graft_kb_rn") === 1)
        .drop("__graft_kb_rn")
    }

    /** The full converged label table, BEFORE the restriction to this
      * dataset's own ids — exposed package-private so specs can assert
      * the state bound: label rows only ever enter via `viaNeighbors`
      * (an edge whose source is already labeled), so the table grows
      * exactly BFS-from-ownIds and its size is bounded by
      * |ownIds| + |foreign ids reachable from ownIds through `pairs`|.
      * A foreign component of the pair list that never touches this
      * dataset occupies NO state, no matter how large — an adversarial
      * superset pair list cannot balloon the iteration. */
    private[graft] def nearDupLabelTable(idCol: String, pairs: DataFrame,
                                         id1: String = "id1", id2: String = "id2",
                                         maxIters: Int = 25): DataFrame =
      DedupOps.labelTableFrom(
        ds.toDF.select(col(idCol).as("__id")).distinct().localCheckpoint(),
        pairs, id1, id2, maxIters)
  }

  /** Label-propagation core of `nearDupComponents`, over an
    * already-checkpointed distinct-id seed table `ownIds` (column
    * `__id`). */
  /** Extend an EXISTING component labeling with an ingest wave's pairs
    * — the incremental form of [[DatasetDedupOps.nearDupComponents]]:
    * the old graph's entire connectivity is captured by label equality,
    * so it re-enters the kernel as depth-1 STAR edges (member → its
    * component representative) beside the wave's new pairs, and the
    * pointer-doubling rounds only pay for the NEW structure (stars are
    * already converged). Representatives stay stable: the old label is
    * the old component's min member, so the merged min is exactly what
    * a full recompute over old ∪ new edges would pick — equality with
    * the from-scratch labeling holds by construction and is pinned by
    * the `dd_components_extend` verdict row. Output covers every
    * previously-labeled id plus every id in `pairs`. */
  def extendComponents(labels: DataFrame, pairs: DataFrame, idCol: String,
                       id1: String = "id1", id2: String = "id2",
                       maxIters: Int = 25): DataFrame = {
    val stars = labels.select(col(idCol).as(id1), col("component").as(id2))
    val allEdges = stars.unionByName(
      pairs.select(col(id1).cast(stars.schema(id1).dataType).as(id1),
        col(id2).cast(stars.schema(id2).dataType).as(id2)))
    val ownIds = labels.select(col(idCol).as("__id"))
      .unionByName(pairs.select(col(id1).as("__id")))
      .unionByName(pairs.select(col(id2).as("__id")))
      .distinct().localCheckpoint()
    labelTableFrom(ownIds, allEdges, id1, id2, maxIters)
      .select(col("__id").as(idCol), col("__lbl").as("component"))
  }

  /** DELETE maintenance for near-dup components — the inverse of
    * [[extendComponents]], closing the tombstone story for the dedup
    * surface: removing documents can SPLIT a component (the duplicate
    * that bridged two clusters leaves), so labels cannot be patched in
    * place. Only the components that LOST a member recompute — over
    * only their surviving members' internal edges (a pair can never
    * cross two distinct components of the labeling it produced, so
    * semi-joining both endpoints to the affected survivors keeps
    * exactly the needed edges) — while untouched components keep their
    * labels verbatim (their min-id representative cannot change when
    * no member left). Bit-equal to a full recompute over the surviving
    * pairs, at affected-components cost. `pairs` is the SAME pair
    * table the labels were built from (typically the minhash join). */
  def shrinkComponents(labels: DataFrame, pairs: DataFrame, idCol: String,
                       deleted: DataFrame,
                       id1: String = "id1", id2: String = "id2",
                       maxIters: Int = 25): DataFrame = {
    require(deleted.columns.contains(idCol),
      s"shrinkComponents: the deleted frame must carry '$idCol' " +
        s"(has: ${deleted.columns.mkString(", ")})")
    val delIds = deleted.select(col(idCol)).distinct().localCheckpoint()
    val affected = labels.join(delIds, Seq(idCol), "left_semi")
      .select(col("component")).distinct().localCheckpoint()
    val untouched = labels.join(affected, Seq("component"), "left_anti")
    val survivors = labels.join(affected, Seq("component"), "left_semi")
      .join(delIds, Seq(idCol), "left_anti")
      .select(col(idCol)).localCheckpoint()
    val survPairs = pairs
      .join(survivors.select(col(idCol).as(id1)), Seq(id1), "left_semi")
      .join(survivors.select(col(idCol).as(id2)), Seq(id2), "left_semi")
      .select(col(id1), col(id2))
    labelTableFrom(survivors.select(col(idCol).as("__id")), survPairs,
        id1, id2, maxIters)
      .select(col("__id").as(idCol), col("__lbl").as("component"))
      .unionByName(untouched.select(col(idCol), col("component")))
  }

  private def labelTableFrom(ownIds: DataFrame, pairs: DataFrame,
                             id1: String, id2: String,
                             maxIters: Int): DataFrame = {
      // materialize the edge list once: `pairs` is typically an
      // expensive near-dup join, and without this every round's jobs
      // would recompute it from scratch (measured 45s -> 3s at sf0.1)
      // pre-partitioned by __src so every round's neighbor join
      // re-shuffles only the (node, label) side, never the edges (the
      // checkpoint preserves the hash partitioning across rounds)
      val edges = pairs.select(col(id1).as("__src"), col(id2).as("__dst"))
        .unionByName(pairs.select(col(id2).as("__src"), col(id1).as("__dst")))
        .repartition(col("__src")).localCheckpoint()
      var labels = ownIds.withColumn("__lbl", col("__id"))
      var iter = 0
      var converged = false
      while (!converged) {
        require(iter < maxIters,
          s"nearDupComponents did not converge in $maxIters rounds — " +
            "raise maxIters")
        val viaNeighbors = edges
          .join(labels.select(col("__id").as("__src"), col("__lbl")), Seq("__src"))
          .select(col("__dst").as("__id"), col("__lbl"))
        val viaPointer = labels.select(col("__id"), col("__lbl").as("__mid"))
          .join(labels.select(col("__id").as("__mid"), col("__lbl")), Seq("__mid"))
          .select(col("__id"), col("__lbl"))
        // the previous round's label rides the aggregate as `__old`
        // (null on the propagation arms; labels has unique __id, so
        // min(__old) is exactly the old label or null for a row that
        // first appears this round — e.g. a foreign bridge id from
        // `pairs`, which must count as changed or the bridge would
        // never propagate). The old shape re-joined next against
        // labels to find changes — one node-sized join per round gone
        // (guide §2.4).
        val next = labels.withColumn("__old", col("__lbl"))
          .unionByName(viaNeighbors.withColumn("__old", lit(null).cast(
            labels.schema("__lbl").dataType)))
          .unionByName(viaPointer.withColumn("__old", lit(null).cast(
            labels.schema("__lbl").dataType)))
          .groupBy(col("__id"))
          .agg(min(col("__lbl")).as("__lbl"), min(col("__old")).as("__old"))
          .localCheckpoint()
        val changed = next
          .filter(col("__old").isNull || col("__lbl") < col("__old")).count()
        labels = next.select(col("__id"), col("__lbl"))
        converged = changed == 0
        iter += 1
      }
      labels
  }

  /** Train/eval decontamination: every (corpus doc, eval doc) pair
    * sharing at least `minShared` distinct word `n`-grams — the
    * standard benchmark-contamination sweep of a training-data
    * pipeline. Each side explodes to per-doc DISTINCT grams (ids +
    * gram strings only — texts never ride the join), the candidate
    * space is the gram equi-join (never all pairs), and the count is a
    * partial-aggregated groupBy. The eval side is typically tiny;
    * `broadcast(eval)` upstream turns the join map-side. Joining on
    * the gram STRING keeps the operator engine-replayable end to end;
    * at petabyte scale substitute `fingerprint64(gram)` for the join
    * key to shuffle 8-byte hashes instead (same pairs up to hash
    * collisions).
    *
    * Contract: `corpusId` / `evalId` must identify exactly ONE row per
    * document — the in-row `array_distinct` gram dedup counts shared
    * grams per (corpus row, eval row), so a duplicated id would
    * inflate `n_shared` past the per-document count (ADVICE r16). */
  def contaminationPairs(corpus: DataFrame, eval: DataFrame,
                         corpusId: String, evalId: String, textCol: String,
                         n: Int = 8, minShared: Long = 1L): DataFrame = {
    // per-doc dedup inside the row — (id, gram) pairs are distinct by
    // construction after array_distinct, so no dedup shuffle is paid
    def grams(df: DataFrame, id: String, out: String) = df
      .select(col(id).as(out),
        explode(array_distinct(wordGrams(col(textCol), n))).as("__graft_gram"))
    // pass 1 (candidate gate): per-doc n-gram HASHES
    // ([[graft.functions.wordGramHashSet]] — no gram string ever rides
    // the exchange, only (id, 8-byte hash) rows) semi-joined against
    // the eval side's hash set. The kernel hashes the JOINED gram
    // string from wordGrams' own tokenizer, so a string-gram match
    // IMPLIES a hash match and the gate admits a strict SUPERSET of
    // the truly contaminated docs; collisions only ever ADD candidates.
    // (shingleSet would NOT do: its Java-\s tokenizer diverges from
    // wordGrams on \f/\x0B/leading-tab texts — false negatives.)
    val evalHashes = eval
      .select(explode(wordGramHashSet(col(textCol), n)).as("__graft_gh"))
      .distinct()
    val candidates = corpus
      .select(col(corpusId), explode(wordGramHashSet(col(textCol), n)).as("__graft_gh"))
      .join(evalHashes, Seq("__graft_gh"), "left_semi")
      .select(col(corpusId)).distinct()
    // pass 2 (exact): the string-keyed gram join over ONLY the
    // candidate docs — contamination is rare by design, so the
    // engine-replayable exact count tokenizes a sliver, not the corpus
    grams(corpus.join(candidates, Seq(corpusId), "left_semi"),
        corpusId, "__graft_cid")
      .join(grams(eval, evalId, "__graft_eid"), Seq("__graft_gram"))
      .groupBy(col("__graft_cid"), col("__graft_eid"))
      .agg(count(lit(1)).as("shared_grams"))
      .filter(col("shared_grams") >= minShared)
      .select(col("__graft_cid").as(corpusId), col("__graft_eid").as(evalId),
        col("shared_grams"))
  }

  /** Surgical span decontamination — the redaction counterpart of
    * [[contaminationPairs]]: instead of FLAGGING a contaminated
    * document (and typically dropping it whole), remove exactly the
    * token spans that match a benchmark `n`-gram and keep the rest.
    * A token survives iff NO matched gram's window `[start, start+n)`
    * covers it. Returns every corpus document as
    * `(corpusId, text_clean, n_tokens, n_removed)` — untouched
    * documents pass through with `n_removed = 0`.
    *
    * The match phase is the [[contaminationPairs]] shuffle discipline:
    * corpus grams explode with their START POSITION (id + gram + one
    * int — text never rides the join), the eval side collapses to its
    * DISTINCT gram set (typically broadcast), matches semi-join on the
    * gram string, and matched starts come back as one id-keyed
    * aggregated array. The redaction itself is a codegen-friendly
    * higher-order filter over the token array (per token an
    * `exists` over the doc's OWN matched starts — bounded by that
    * doc's match count, not the corpus). Pure integer/string
    * arithmetic end to end, so any SQL engine replays the cleaned
    * text bit-for-bit. */
  def decontaminateSpans(corpus: DataFrame, eval: DataFrame,
                         corpusId: String, textCol: String,
                         evalTextCol: String, n: Int = 8): DataFrame = {
    val evalGrams = eval
      .select(explode(wordGrams(col(evalTextCol), n)).as("__graft_gram"))
      .distinct()
    // candidate gate (the contaminationPairs discipline): per-doc gram
    // HASHES against the eval hash set — no gram string rides the
    // corpus-sized exchange; wordGramHashSet hashes the joined gram
    // string from wordGrams' OWN tokenizer, so a string match implies
    // a hash match, the gate admits a superset, and the exact
    // positional pass below decides. Clean docs never posexplode;
    // redactByStarts' left join passes them through untouched
    // (n_removed = 0).
    val evalHashes = eval
      .select(explode(wordGramHashSet(col(evalTextCol), n)).as("__graft_gh"))
      .distinct()
    val candidates = corpus
      .select(col(corpusId), explode(wordGramHashSet(col(textCol), n)).as("__graft_gh"))
      .join(evalHashes, Seq("__graft_gh"), "left_semi")
      .select(col(corpusId)).distinct()
    // 1-based gram start positions; a doc with < n tokens has no grams
    val starts = corpus
      .join(candidates, Seq(corpusId), "left_semi")
      .select(col(corpusId).as("__graft_did"),
        posexplode(wordGrams(col(textCol), n))
          .as(Seq("__graft_p0", "__graft_gram")))
      .join(evalGrams, Seq("__graft_gram"), "left_semi")
      .groupBy(col("__graft_did"))
      .agg(collect_set(col("__graft_p0") + 1).as("__graft_starts"))
    redactByStarts(corpus, starts, corpusId, textCol, n)
  }

  /** Shared redaction tail of [[decontaminateSpans]] and
    * [[dedupRepeatedSpans]]: cut every token covered by a matched
    * window start (`starts` = `(__graft_did, __graft_starts)` with
    * 1-based starts), reassemble, and report removal counts. One
    * id-keyed left join + a codegen-friendly higher-order filter. */
  private def redactByStarts(corpus: DataFrame, starts: DataFrame,
                             corpusId: String, textCol: String,
                             n: Int): DataFrame = {
    // redaction indexes the EXACT array wordGrams derived the starts
    // from — its raw `[ \t\n\r]+` split, empties included. tokens()'s
    // `\s+` (Java \s also eats \f and \x0B), or an empty-filtered
    // copy of this split (leading \t/\n survives trim as a "" token),
    // would shift the 1-based positions and cut the WRONG tokens.
    // Empty tokens are dropped only AFTER the positional cut, and the
    // reported counts are over real (non-empty) tokens. NULL text
    // passes through as the empty document.
    val toks = split(trim(coalesce(col(textCol), lit(""))), "[ \\t\\n\\r]+")
    // sequence(1, 0) counts DOWN (the bpePairStats guard), so the
    // empty-token case must short-circuit before zip_with
    val indexed = when(size(col("__graft_t")) === 0,
        array().cast("array<struct<t:string,i:int>>"))
      .otherwise(zip_with(col("__graft_t"),
        sequence(lit(1), size(col("__graft_t"))),
        (t, i) => struct(t.as("t"), i.as("i"))))
    val nonempty = (a: Column) => filter(a, t => t =!= "")
    corpus
      .join(starts.withColumnRenamed("__graft_did", corpusId),
        Seq(corpusId), "left")
      .select(col(corpusId),
        coalesce(col("__graft_starts"), array().cast("array<int>"))
          .as("__graft_s"),
        toks.as("__graft_t"))
      .select(col(corpusId), col("__graft_t"),
        transform(
          filter(indexed, x => !exists(col("__graft_s"),
            s => x("i") >= s && x("i") < s + n)),
          x => x("t")).as("__graft_kept"))
      .select(col(corpusId),
        array_join(nonempty(col("__graft_kept")), " ").as("text_clean"),
        size(nonempty(col("__graft_t"))).cast("long").as("n_tokens"),
        (size(nonempty(col("__graft_t"))) - size(nonempty(col("__graft_kept"))))
          .cast("long").as("n_removed"))
  }

  /** Exact repeated-span dedup (the Lee-et-al "ExactSubstr" policy at
    * word-`n`-gram resolution): every duplicated token run of ≥ `n`
    * words keeps its GLOBAL first occurrence — lowest `(doc, pos)` —
    * and every other copy is cut out of its document, corpus-wide and
    * within-document alike. Stride-1 grams make the cut exact: a
    * duplicated region of L ≥ n tokens is covered by exactly its own
    * L−n+1 duplicate windows, so precisely those L tokens fall (edge
    * windows mixing unique context don't match). [[passageDedup]] is
    * the coarse fixed-width form of the same policy; this one pays
    * n× gram amplification for exact span boundaries (suffix arrays
    * avoid that CPU on one machine but don't distribute or replay —
    * the gram-join form does both).
    *
    * Scale shape: gram occurrences collapse to `(md5, doc, pos)` —
    * text never rides the join; the global first occurrence is ONE
    * `min(struct)` aggregation (map-side combine: a million-fold
    * boilerplate gram sends one candidate per mapper); duplicate
    * starts come back as one id-keyed array; redaction is the shared
    * shuffle-free projection. */
  def dedupRepeatedSpans(corpus: DataFrame, corpusId: String,
                         textCol: String, n: Int = 8): DataFrame = {
    val occ = corpus
      .select(col(corpusId).as("__graft_did"),
        posexplode(wordGrams(col(textCol), n))
          .as(Seq("__graft_p0", "__graft_gram")))
      .select(col("__graft_did"), col("__graft_p0"),
        md5(col("__graft_gram")).as("__graft_g"))
    val firsts = occ.groupBy(col("__graft_g"))
      .agg(min(struct(col("__graft_did"), col("__graft_p0")))
        .as("__graft_f"))
    val dupStarts = occ.join(firsts, Seq("__graft_g"))
      .filter(col("__graft_did") =!= col("__graft_f.__graft_did") ||
        col("__graft_p0") =!= col("__graft_f.__graft_p0"))
      .groupBy(col("__graft_did"))
      .agg(collect_set(col("__graft_p0") + 1).as("__graft_starts"))
    redactByStarts(corpus, dupStarts, corpusId, textCol, n)
  }
}
