package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions._

/** Similarity search over embedding columns (`array<float>`) — the
  * n-dimensional analogue of the spatial kNN surface, sharing its
  * top-k / blocking-join shapes.
  *
  * Brute-force top-k plans as TakeOrderedAndProject (per-partition heap,
  * k-row driver merge); the LSH variants block with the random-hyperplane
  * sketch expression and verify candidates exactly, so precision is exact
  * and only recall is probabilistic.
  */
object VectorOps {

  /** PCA projection score for one direction: the compiled
    * [[graft.functions.ProjectFold]] kernel when the vector column is
    * array<float|double> (bit-identical fold, whole-stage codegen), the
    * original aggregate(zip_with(...)) HOF chain otherwise — the HOF
    * form is CodegenFallback, interpreted per row (r16 verdict #3). */
  private[operators] def foldScore(df: org.apache.spark.sql.DataFrame,
                                   vecCol: String,
                                   dir: Array[Double]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    df.schema(vecCol).dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        graft.functions.projectFold(col(vecCol), dir)
      case _ =>
        aggregate(
          zip_with(col(vecCol), array(dir.map(lit).toIndexedSeq: _*),
            (x, w) => x.cast("double") * w),
          lit(0.0), (acc, x) => acc + x)
    }
  }

  /** Centroid-sampling order: Knuth multiplicative hash of the id —
    * deterministic, well-scrambled, and (deliberately) plain integer
    * arithmetic so an external SQL engine can replicate the exact
    * centroid choice: `((id + seed) * 2654435761) % 2^32`. That makes the
    * whole IVF pipeline (centroids -> argmax cell -> probes -> top-k)
    * independently recomputable by the DuckDB oracle. */
  private[operators] def centroidOrder(idCol: String, seed: Long): org.apache.spark.sql.Column =
    // graft.functions.knuth32 on (id + seed): identical values to the
    // naive ((id+seed) * 2654435761) % 2^32 everywhere that form is
    // defined, but the split multiply never overflows — the naive form
    // errors under ANSI Spark past id ~3.5e9 (found by the 100x
    // ScaleTrend replicas; production id spaces sit exactly there).
    // The kmeans/IVF oracle SQL keeps the naive text: fixture ids are
    // small and the two forms agree bit-for-bit on them.
    graft.functions.knuth32(col(idCol).cast("long") + lit(seed))

  // ---- shared Lloyd's machinery (kmeansAssign + cosineTopKIvfTrained) ----
  // Every arithmetic step here is part of the engine-replay contract
  // documented at kmeansAssign — change nothing without updating the
  // emb_kmeans / dd_semantic_pairs / ann_ivf_trained_topk oracles.

  /** `(id[, vec], __qv)` — the integer quantization that makes centroid
    * sums exact and partition-independent. */
  private[operators] def quantizedBase(df: org.apache.spark.sql.DataFrame,
                                       vecCol: String, idCol: String,
                                       scale: Double, keepVec: Boolean): org.apache.spark.sql.DataFrame = {
    val qv = transform(col(vecCol), x => floor(x.cast("double") * scale).cast("long"))
    if (keepVec) df.select(col(idCol), col(vecCol), qv.as("__qv"))
    else df.select(col(idCol), qv.as("__qv"))
  }

  /** Adds `__c` = argmin cell (ties to the lowest id — array_position
    * of the min takes the first occurrence). The distance array gets
    * its own projection so min and position read ONE evaluation (the
    * IVF __graft_cos shape). */
  private[operators] def withCell(base: org.apache.spark.sql.DataFrame,
                                  cs: Array[Array[Double]]): org.apache.spark.sql.DataFrame =
    // nearest_cells at np=1 — same IEEE distances, same lowest-index
    // tie-break as the former literal-array argmin, but the centroids
    // ride as ONE reference object: k x dim literal columns made plan
    // optimization superlinear in k (r12 annjoin trend: the 100x write
    // spent most of 562 s planning around an 800 x 64 literal matrix)
    base.withColumn("__c",
      (element_at(graft.functions.nearestCells(col("__qv"), cs, 1), 1)
        - lit(1)).cast("int"))

  /** `iters` Lloyd rounds from Knuth-hash seeds over a quantized base;
    * None on empty input. Per round: k*dim exact-long sums to the
    * driver; empty clusters keep their centroid. */
  private[operators] def lloydTrain(base: org.apache.spark.sql.DataFrame,
                                    idCol: String, k: Int, iters: Int,
                                    seed: Long): Option[Array[Array[Double]]] = {
    val seedRows = base.select(col(idCol), col("__qv"))
      .orderBy(centroidOrder(idCol, seed), col(idCol))
      .limit(k).collect()
    if (seedRows.isEmpty) return None
    var centers: Array[Array[Double]] =
      seedRows.map(_.getSeq[Long](1).map(_.toDouble).toArray)
    for (_ <- 1 to iters) {
      val stats = withCell(base, centers)
        .select(col("__c"), posexplode(col("__qv")).as(Seq("__p", "__q")))
        .groupBy("__c", "__p")
        .agg(sum("__q").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = centers.map(_.clone)
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getLong(2).toDouble / r.getLong(3).toDouble
      }
      centers = next
    }
    Some(centers)
  }

  /** Per-subspace argmin code columns `__pqc0..__pqc{m-1}` against the
    * given codebooks (ties to the lowest code — first occurrence of the
    * min, the [[withCell]] shape). The distance arrays get their own
    * projection so min and position read one evaluation. */
  private[operators] def withPqCodes(base: org.apache.spark.sql.DataFrame,
                                     books: Array[Array[Array[Double]]],
                                     subDim: Int): org.apache.spark.sql.DataFrame = {
    // pq_encode carries the codebooks as ONE reference object — the
    // former per-codeword distance columns were dim x ksub literal
    // nodes, the NearestCells planning bomb on the PQ axis (same IEEE
    // chain, same lowest-code tie-break, bit-stable)
    val m = books.length
    val withA = base.withColumn("__graft_pqcs",
      graft.functions.pqEncode(col("__qv"), books, subDim))
    withA.select(withA.columns.filterNot(_ == "__graft_pqcs").map(col) ++
      (0 until m).map(s =>
        element_at(col("__graft_pqcs"), s + 1).as(s"__pqc$s")): _*)
  }

  /** Product-quantization training: `iters` Lloyd rounds over ALL `m`
    * subspaces at once. One seed job (the subspace codebooks are slices
    * of the SAME Knuth-hash seed rows — one collect, not m); per round
    * ONE scan + ONE map-side-combined aggregation keyed (position,
    * code) — dim * ksub keys total, never per-subspace jobs. Returns
    * `[m][ksub][subDim]` codebooks; None on empty input. Empty codes
    * keep their centroid, the [[lloydTrain]] rule. */
  private[operators] def pqTrain(base: org.apache.spark.sql.DataFrame,
                                 idCol: String, m: Int, ksub: Int, iters: Int,
                                 seed: Long): Option[Array[Array[Array[Double]]]] = {
    val seedRows = base.select(col(idCol), col("__qv"))
      .orderBy(centroidOrder(idCol, seed), col(idCol))
      .limit(ksub).collect()
    if (seedRows.isEmpty) return None
    val dim = seedRows.head.getSeq[Long](1).length
    require(dim % m == 0, s"pq: dim $dim not divisible by m=$m")
    val subDim = dim / m
    var books: Array[Array[Array[Double]]] = Array.tabulate(m)(s =>
      seedRows.map(_.getSeq[Long](1).slice(s * subDim, (s + 1) * subDim)
        .map(_.toDouble).toArray))
    for (_ <- 1 to iters) {
      val cells = withPqCodes(base, books, subDim)
        .withColumn("__cells", array((0 until m).map(s => col(s"__pqc$s")): _*))
      val stats = cells
        .select(col("__cells"), posexplode(col("__qv")).as(Seq("__p", "__q")))
        .withColumn("__cell",
          element_at(col("__cells"), (col("__p") / subDim).cast("int") + 1))
        .groupBy("__p", "__cell")
        .agg(sum("__q").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = books.map(_.map(_.clone))
      stats.foreach { r =>
        val p = r.getInt(0); val c = r.getInt(1)
        next(p / subDim)(c)(p % subDim) = r.getLong(2).toDouble / r.getLong(3).toDouble
      }
      books = next
    }
    Some(books)
  }

  /** Parsed plain-IVF layout metadata ([[DatasetVectorOps.writeIvf]]):
    * centroids, the write token (None = legacy untokened layout),
    * admitted delete-wave tokens + the id column they key, and where
    * the metadata lives (current text directory or legacy json). */
  private[operators] final case class IvfMeta(
      centroids: Array[Array[Float]], token: Option[String],
      tombs: Seq[String], tombIdCol: Option[String], metaPath: String)

  private[operators] def readIvfMeta(
      spark: org.apache.spark.sql.SparkSession, path: String,
      caller: String): IvfMeta = {
    // metadata rides Spark's text reader so the layout works on any
    // hadoop filesystem (hdfs://, s3a://), not just local paths — same
    // discipline as IndexManager.persistIndex/loadIndex. Indexes written
    // before the text-directory layout carry a single centroids.json
    // file with the same content — read it when the directory is absent.
    val hconf = spark.sparkContext.hadoopConfiguration
    val current = new org.apache.hadoop.fs.Path(s"$path/centroids")
    val legacy = new org.apache.hadoop.fs.Path(s"$path/centroids.json")
    val fs = current.getFileSystem(hconf)
    val metaPath =
      if (fs.exists(current)) current
      else if (fs.exists(legacy)) legacy
      else throw new IllegalArgumentException(
        s"$caller: no centroids at $current (nor legacy $legacy)")
    val metaLines = spark.read.textFile(metaPath.toString).collect()
    val raw = metaLines.find(l => l.startsWith("[[") && l.endsWith("]]"))
      .getOrElse(throw new IllegalArgumentException(
        s"$caller: malformed centroids metadata at $metaPath"))
    val centroids = raw.stripPrefix("[[").stripSuffix("]]").split("\\],\\[")
      .map(_.split(",").map(_.trim.toFloat))
    IvfMeta(centroids,
      metaLines.find(_.startsWith("token=")).map(_.substring(6)),
      metaLines.find(_.startsWith("tombs="))
        .map(_.substring(6).split(";").toSeq.filter(_.nonEmpty))
        .getOrElse(Seq.empty),
      metaLines.find(_.startsWith("tombIdCol=")).map(_.substring(10)),
      metaPath.toString)
  }

  /** The centroids-file lines of a plain IVF layout — shared by write /
    * delete / compact so no publish site can drop a line. */
  private[operators] def ivfMetaLines(
      centroids: Array[Array[Float]], token: String, tombs: Seq[String],
      tombIdCol: Option[String]): Seq[String] =
    Seq(centroids.map(_.mkString("[", ",", "]")).mkString("[", ",", "]"),
      "token=" + token) ++
      (if (tombs.isEmpty) Seq.empty
       else Seq("tombs=" + tombs.mkString(";"),
         "tombIdCol=" + tombIdCol.get))

  /** The admitted tombstoned ids of a plain IVF layout (one column
    * named `idCol`), or None. Not distinct'd — consumers anti-join and
    * admitted waves are disjoint by [[deleteFromIvf]]'s construction. */
  private[operators] def ivfTombstones(
      spark: org.apache.spark.sql.SparkSession, path: String,
      meta: IvfMeta, idCol: String)
      : Option[org.apache.spark.sql.DataFrame] =
    if (meta.tombs.isEmpty) None
    else Some(spark.read.parquet(s"$path/tombstones")
      .filter(col("__graft_token").isin(meta.tombs: _*))
      .select(col("__graft_tomb_id").as(idCol)))

  /** Query a disk IVF layout written by
    * [[DatasetVectorOps.writeIvf]]: probe the nprobe cells whose
    * centroids are nearest the query — `__graft_cell` is a partition
    * directory, so non-probed cells are never read (PartitionFilters) —
    * then exact cosine top-k inside the probed cells. Admitted
    * tombstone deletes subtract. */
  def readIvfTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                  vecCol: String, idCol: String, query: Array[Float],
                  k: Int, nprobe: Int = 4): DataFrame = {
    val meta = readIvfMeta(spark, path, "readIvfTopK")
    val metaPath = meta.metaPath
    val centroids = meta.centroids
    meta.tombIdCol.foreach(c => require(c == idCol,
      s"readIvfTopK: the layout's delete waves are keyed by '$c' but " +
        s"the read names '$idCol' — the tombstone anti-join would miss"))
    val qA = new org.apache.spark.sql.catalyst.util.GenericArrayData(query)
    val qCos = centroids.map(c => graft.functions.VectorKernels.cosineF(
      qA, new org.apache.spark.sql.catalyst.util.GenericArrayData(c)))
    val probes = qCos.zipWithIndex.sortBy(-_._1).take(nprobe).map(_._2 + 1)
    // pre-listing directory pruning (the SpatialDisk discipline): the
    // probed cells are known BEFORE the read, so hand the reader those
    // explicit cell directories instead of paying an O(nlist) listing
    // to read nprobe of them. The helper owns the cell IN filter.
    val data = graft.index.PrunedCellScan(spark, s"$path/data",
      "__graft_cell", probes.toIndexedSeq.map(Int.box))
    // pair validation (the writeIvfPq token discipline) — stale
    // centroids against fresh cell assignments would probe the wrong
    // cells and silently miss true neighbors. Only a layout where
    // NEITHER side is tokened is legacy; a token on exactly one side
    // IS the torn case the token exists for (e.g. a rewrite of a
    // legacy layout that crashed between the data and centroids jobs).
    val tokened = meta.token
      .map { tok =>
        require(data.columns.contains("__graft_token"),
          s"readIvfTopK: $metaPath carries a write token but $path/data " +
            "has no __graft_token column — the layout is torn; rewrite with writeIvf")
        data.filter(assert_true(col("__graft_token") === tok,
          lit(s"readIvfTopK: write-token mismatch between $metaPath and " +
            s"$path/data — data and centroids come from different writes; " +
            "rewrite the layout with writeIvf")).isNull)
          .drop("__graft_token")
      }.getOrElse {
        require(!data.columns.contains("__graft_token"),
          s"readIvfTopK: $path/data carries a write token but $metaPath " +
            "has no token line — data and centroids come from different " +
            "writes; rewrite the layout with writeIvf")
        data
      }
    // admitted delete waves subtract: a tombstoned vector never ranks
    val unTombed = ivfTombstones(spark, path, meta, idCol) match {
      case Some(t) => tokened.join(t, Seq(idCol), "left_anti")
      case None    => tokened
    }
    unTombed
      .withColumn("cos", cosineSimilarity(col(vecCol), lit(query)))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .drop("__graft_cell")
  }

  /** Tombstone-delete ids from a [[DatasetVectorOps.writeIvf]] layout —
    * the full delete discipline on the plain-IVF family (the last
    * at-rest layout without one): ids land at `$path/tombstones` under
    * a fresh delete token, the centroids file's `tombs=` list commits
    * LAST via the tmp+rename publish (a torn delete is a no-op),
    * readers anti-join, [[compactIvf]] folds physically. Requires a
    * TOKENED layout (legacy layouts predate the publish discipline —
    * rewrite with writeIvf first). Idempotent; absent ids are no-ops;
    * the id column is pinned by the first delete wave. */
  def deleteFromIvf(spark: org.apache.spark.sql.SparkSession, path: String,
                    ids: org.apache.spark.sql.DataFrame,
                    idCol: String): Unit = {
    val meta = readIvfMeta(spark, path, "deleteFromIvf")
    require(meta.token.nonEmpty,
      s"deleteFromIvf: $path is a legacy untokened layout — rewrite " +
        "with writeIvf before deleting")
    require(ids.columns.contains(idCol),
      s"deleteFromIvf: the ids frame must carry '$idCol' " +
        s"(has: ${ids.columns.mkString(", ")})")
    meta.tombIdCol.foreach(c => require(c == idCol,
      s"deleteFromIvf: the layout's delete waves are keyed by '$c' — " +
        "one id column per layout"))
    val token = java.util.UUID.randomUUID().toString
    val fresh = ids.select(col(idCol).as("__graft_tomb_id")).distinct()
    val newIds = (ivfTombstones(spark, path, meta, "__graft_tomb_id") match {
      case Some(t) => fresh.join(t, Seq("__graft_tomb_id"), "left_anti")
      case None    => fresh
    }).localCheckpoint() // the guard and the write both read it
    // everything already dead: admit nothing (an admitted wave with no
    // tombstone rows on disk would read as a MISSING wave to fsck)
    if (newIds.isEmpty) return
    newIds.withColumn("__graft_token", lit(token))
      .write.mode("append").parquet(s"$path/tombstones")
    graft.operators.DedupOps.publishMeta(spark, path,
      ivfMetaLines(meta.centroids, meta.token.get, meta.tombs :+ token,
        Some(idCol)),
      dir = "centroids")
  }

  /** Compact a [[DatasetVectorOps.writeIvf]] layout: fold admitted
    * tombstones physically and republish the SAME centroids and cell
    * assignments under a FRESH token (reads answer bit-identically to
    * the tombstoned layout, minus the anti-join). Refuses torn
    * layouts; crash between the data and centroids rewrites leaves a
    * token-mismatched pair every reader refuses, with the snapshot
    * intact for a re-run. */
  def compactIvf(spark: org.apache.spark.sql.SparkSession,
                 path: String): Unit = {
    val meta = readIvfMeta(spark, path, "compactIvf")
    require(meta.token.nonEmpty,
      s"compactIvf: $path is a legacy untokened layout — rewrite with writeIvf")
    val data = spark.read.parquet(s"$path/data")
    val tokens = data.select(col("__graft_token")).distinct()
      .collect().map(_.getString(0))
    require(tokens.length == 1 && tokens(0) == meta.token.get,
      s"compactIvf: write-token mismatch between ${meta.metaPath} and " +
        s"$path/data — refusing to compact a torn layout")
    val live = ivfTombstones(spark, path, meta,
        meta.tombIdCol.getOrElse(data.columns.head)) match {
      case Some(t) =>
        data.join(t, Seq(meta.tombIdCol.get), "left_anti")
      case None => data
    }
    val snap = s"$path/compact_snapshot"
    live.write.mode("overwrite").parquet(snap)
    val token = java.util.UUID.randomUUID().toString
    spark.read.parquet(snap)
      .withColumn("__graft_token", lit(token))
      .repartition(col("__graft_cell"))
      .write.mode("overwrite").partitionBy("__graft_cell")
      .parquet(s"$path/data")
    graft.operators.DedupOps.publishMeta(spark, path,
      ivfMetaLines(meta.centroids, token, Seq.empty, None),
      dir = "centroids")
    graft.operators.DedupOps.deleteDir(spark, s"$path/tombstones")
    val sp = new org.apache.hadoop.fs.Path(snap)
    sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)
  }

  /** Non-throwing audit of a plain IVF layout — the fsck verb for the
    * last layout without one: centroids parse, the data/centroids
    * token pair holds, tombstones are inventoried. Column-pruned
    * token scans only. */
  def fsckIvf(spark: org.apache.spark.sql.SparkSession,
              path: String): org.apache.spark.sql.DataFrame = {
    val out = scala.collection.mutable.ArrayBuffer[(String, Boolean, String)]()
    def check(name: String)(body: => (Boolean, String)): Unit =
      out += (try { val (ok, d) = body; (name, ok, d) }
        catch { case e: Throwable =>
          (name, false, Option(e.getMessage).getOrElse(e.toString).take(200)) })
    val metaTry =
      try Right(readIvfMeta(spark, path, "fsckIvf"))
      catch { case e: Throwable => Left(e) }
    metaTry match {
      case Left(e) =>
        out += (("meta", false,
          Option(e.getMessage).getOrElse(e.toString).take(200)))
      case Right(meta) =>
        out += (("meta", true,
          s"ivf nlist=${meta.centroids.length}" +
            (if (meta.token.isEmpty) " (legacy untokened)" else "")))
        check("data_tokens") {
          val d = spark.read.parquet(s"$path/data")
          meta.token match {
            case Some(tok) =>
              val seen = d.select(col("__graft_token")).distinct()
                .collect().map(_.getString(0)).toSet
              (seen == Set(tok),
                if (seen == Set(tok)) "one generation"
                else "torn: data and centroids come from different " +
                  "writes — rewrite with writeIvf")
            case None =>
              (!d.columns.contains("__graft_token"),
                if (!d.columns.contains("__graft_token"))
                  "legacy pair consistent"
                else "torn: tokened data under untokened centroids — " +
                  "rewrite with writeIvf")
          }
        }
        if (meta.tombs.nonEmpty) check("tombstones") {
          val toks = spark.read.parquet(s"$path/tombstones")
            .select(col("__graft_token")).distinct()
            .collect().map(_.getString(0)).toSet
          val missing = meta.tombs.toSet.diff(toks)
          (missing.isEmpty,
            s"${meta.tombs.length} admitted delete wave(s) keyed by " +
              s"'${meta.tombIdCol.get}'" +
              (if (missing.nonEmpty) s", ${missing.size} MISSING" else ""))
        }
    }
    import spark.implicits._
    spark.createDataset(out.toIndexedSeq).toDF("check", "ok", "detail")
  }

  /** Recall audit of a [[DatasetVectorOps.writeIvfPq]] layout — the
    * "when to retrain" signal the incremental index
    * ([[DatasetVectorOps.appendIvfPq]]) needs: codebooks trained on
    * earlier waves drift as the distribution moves, which degrades
    * recall at production probe settings while the exactness escape
    * (full probes + full refine) stays exact. The audit samples
    * `nQueries` stored vectors deterministically (the Knuth-hash order
    * every sampler uses), runs each as a query at BOTH settings, and
    * reports per-query recall of the production setting against the
    * exact answer.
    *
    * Returns one row per sampled query `(query_id, recall)` plus
    * ordering by id; driver cost is `2 * nQueries` bounded jobs over
    * the PRUNED layout (each probe-limited read touches `nprobe`
    * directories; the exact pass probes all — the audit is the
    * expensive full-probe path run `nQueries` times, so keep
    * `nQueries` small and scheduled, not per-ingest). */
  def auditIvfPqRecall(spark: org.apache.spark.sql.SparkSession, path: String,
                       vecCol: String, idCol: String, nQueries: Int, k: Int,
                       nprobe: Int = 4, refine: Int = 50): DataFrame = {
    require(nQueries >= 1 && k >= 1)
    val meta = readIvfPqMeta(spark, path)
    // the exact baseline refines ALL rows, and refine is an Int: past
    // 2^31 rows a silent toInt would flip negative and max(refine,
    // total) would keep the small refine — the "exact" answer would no
    // longer be exact and the audit would report WRONG recall. Fail
    // loudly instead; a layout that large needs a sampled baseline.
    val totalRows = spark.read.parquet(s"$path/data").count()
    require(totalRows <= Int.MaxValue,
      s"auditIvfPqRecall: layout holds $totalRows rows — the refine-all " +
        "exact baseline no longer fits an Int refine count; audit a " +
        "bounded sub-layout instead")
    val total = totalRows.toInt
    val queries = spark.read.parquet(s"$path/data")
      .select(col(idCol), col(vecCol))
      .orderBy(centroidOrder(idCol, 777L), col(idCol))
      .limit(nQueries).collect()
      .map(r => (r.get(0), r.getSeq[Float](1).toArray))
    val rows = queries.map { case (qid, qv) =>
      val approx = readIvfPqTopK(spark, path, vecCol, idCol, qv, k,
        nprobe = nprobe, refine = refine)
        .select(col(idCol)).collect().map(_.get(0)).toSet
      val exact = readIvfPqTopK(spark, path, vecCol, idCol, qv, k,
        nprobe = meta.coarse.length, refine = math.max(refine, total))
        .select(col(idCol)).collect().map(_.get(0)).toSet
      (qid, exact.intersect(approx).size.toDouble / exact.size)
    }
    import spark.implicits._
    spark.createDataset(rows.toIndexedSeq.map { case (id, r) =>
      (id.toString, r)
    }).toDF("query_id", "recall").orderBy(col("query_id"))
  }

  /** ANN JOIN against a [[DatasetVectorOps.writeIvfPq]] disk layout:
    * for every `left` row, the k most-cosine-similar stored vectors —
    * the retrieval-pipeline join ("embed the wave, search the at-rest
    * corpus") as ONE distributed plan instead of a per-query driver
    * loop. Mirrors [[readIvfPqTopK]]'s arithmetic exactly, so per-left
    * results are IDENTICAL to the single-query verb at the same
    * parameters:
    *
    *  1. per-left probe cells: quantized-L2 to every coarse centroid
    *     (the same sequential fold), top-`nprobe` by (dist, index);
    *  2. ADC scoring per (left, row) reading ONLY (id, codes, cell) —
    *     column pruning never touches stored vectors — with the row's
    *     codeword looked up in literal codebooks (residual layouts
    *     shift the left by the row's own cell centroid first);
    *  3. per-left top-`refine` by (ADC, id) via WindowGroupLimit, then
    *     the refine set joins BACK to the probed cells' (id, vector)
    *     for the exact cosine re-rank, top-k by (cos desc, id).
    *
    * The exactness escape carries over: nprobe = nlist with refine >=
    * rows re-ranks the full layout by exact cosine per left, whatever
    * the codes say. Output: (left id, layout id, cos) — the join is
    * keyed; carry other left columns by joining back on the id. */
  /** Semantic near-dup GATE against the at-rest IVF layout: for every
    * row of `left` (a batch wave OR a live stream — the plan is
    * identical), probe its `nprobe` nearest coarse cells (the same
    * quantized-L2 fold as every IVF verb), join ONLY those cells'
    * layout rows, and emit (left id, layout id, cos) for pairs at or
    * above `threshold` by EXACT cosine. Fully stateless — each layout
    * row lives in exactly one cell, so a pair meets at most once and
    * the gate runs in append mode on an unbounded stream with zero
    * state store. Recall is the standard IVF trade: only probed cells
    * are examined (nprobe = nlist restores exhaustiveness); precision
    * is exact (the verify is the raw-vector cosine, read only for
    * probed-cell rows). */
  def ivfSemanticGate(left: org.apache.spark.sql.DataFrame, lVecCol: String,
                      lIdCol: String, path: String, vecCol: String,
                      idCol: String, threshold: Double,
                      nprobe: Int = 4): DataFrame = {
    require(nprobe >= 1)
    require(lIdCol != idCol && lIdCol != vecCol && lVecCol != idCol &&
      lVecCol != vecCol,
      "need disjoint column names between the left side and the layout")
    val spark = left.sparkSession
    val meta = readIvfPqMeta(spark, path)
    val coarse = meta.coarse
    val nlist = coarse.length
    val np = math.min(nprobe, nlist)
    val base = quantizedBase(left, lVecCol, lIdCol, meta.scale, keepVec = true)
    // per-arrival probe cells via the reference-object kernel (same
    // distances and tie-break as the former literal matrix, which made
    // planning superlinear in nlist)
    val exploded = base
      .withColumn("__graft_sg_cell",
        explode(graft.functions.nearestCells(col("__qv"), coarse, np)))
      .drop("__qv")
    // BATCH waves collect their probed-cell union and read those cell
    // directories EXPLICITLY (the PrunedCellScan discipline — the
    // literal IN surfaces as PartitionFilters AND the listing itself
    // touches only probed directories); a STREAMING wave cannot
    // collect, so it keeps the lazy full-listing stream-static plan and
    // the cell equi-join bounds the matched rows either way
    val data: DataFrame =
      if (left.isStreaming) spark.read.parquet(s"$path/data")
      else {
        val probed = exploded
          .select(col("__graft_sg_cell").cast("int").as("__graft_sg_cell"))
          .distinct().collect().map(_.getInt(0))
        graft.index.PrunedCellScan(spark, s"$path/data", "__graft_cell",
          probed.toIndexedSeq.map(Int.box))
      }
    require(data.columns.contains("__graft_token"),
      s"ivfSemanticGate: $path/data has no __graft_token column — the " +
        "layout predates the tokened format or is torn; rewrite it")
    val rows0 = data
      .filter(assert_true(col("__graft_token") === meta.token,
        lit(s"ivfSemanticGate: write-token mismatch between $path/meta " +
          s"and $path/data — rewrite the layout")).isNull)
      .select(col(idCol), col(vecCol).as("__graft_sg_v"), col("__graft_cell"))
    // admitted delete waves subtract (a static read — stream-safe)
    val rows = ivfPqTombstones(spark, path, meta, idCol) match {
      case Some(t) => rows0.join(t, Seq(idCol), "left_anti")
      case None    => rows0
    }
    exploded
      .join(rows, col("__graft_sg_cell") === col("__graft_cell"))
      .withColumn("cos",
        graft.functions.cosineSimilarity(col(lVecCol), col("__graft_sg_v")))
      .filter(col("cos") >= threshold)
      .select(col(lIdCol), col(idCol), col("cos"))
  }

  def readIvfPqTopKJoin(left: org.apache.spark.sql.DataFrame, lVecCol: String,
                        lIdCol: String, path: String, vecCol: String,
                        idCol: String, k: Int,
                        nprobe: Int = 4, refine: Int = 50): DataFrame = {
    require(refine >= k && nprobe >= 1)
    require(lIdCol != idCol && lIdCol != vecCol && lVecCol != idCol &&
      lVecCol != vecCol,
      "need disjoint column names between the left side and the layout")
    val spark = left.sparkSession
    val meta = readIvfPqMeta(spark, path)
    val coarse = meta.coarse
    val books = meta.books
    val m = meta.m
    val subDim = books(0)(0).length
    val nlist = coarse.length
    val np = math.min(nprobe, nlist)
    val base = quantizedBase(left, lVecCol, lIdCol, meta.scale, keepVec = true)
    // per-left probe cells: top-np by (dist, index) through the
    // reference-object kernel (same distances and tie-break as the
    // former literal matrix, which made planning superlinear in nlist)
    val exploded = base
      .withColumn("__graft_vj_cell",
        explode(graft.functions.nearestCells(col("__qv"), coarse, np)))
    // Bounded driver hop (the hybridTopKAgainstIndex discipline): the
    // UNION of cells the whole wave probes is at most nlist ints, so
    // collect it once and push a LITERAL partition filter into both
    // layout scans. The r11 plan relied on dynamic partition pruning
    // here, which reads well in the initial plan but is runtime-inert
    // whenever the planner builds on the layout side (the scan's
    // PartitionFilters degrade to dynamicpruningexpression(true) —
    // there is no probe-side broadcast to reuse); a static IN prunes
    // at listing time regardless of join-side choice, at the cost of
    // one cell-projection pass over the wave (wave ≪ layout, always).
    val probedCells: Array[Int] = exploded
      .select(col("__graft_vj_cell").cast("int").as("__graft_vj_cell"))
      .distinct().collect().map(_.getInt(0))
    // explicit probed-cell directories (PrunedCellScan owns the IN
    // filter): the listing touches only probed cells, not all nlist —
    // the 100x trend's residual term was this listing, not the scan
    val data = graft.index.PrunedCellScan(spark, s"$path/data",
      "__graft_cell", probedCells.toIndexedSeq.map(Int.box))
    require(data.columns.contains("__graft_token"),
      s"readIvfPqTopKJoin: $path/data has no __graft_token column — the " +
        "layout predates the tokened format or is torn; rewrite with writeIvfPq")
    val tokenOk = assert_true(col("__graft_token") === meta.token,
      lit(s"readIvfPqTopKJoin: write-token mismatch between $path/meta " +
        s"and $path/data — rewrite the layout with writeIvfPq"))
    // ADC pass: codes + cell only, read from the probed cells only,
    // with admitted delete waves subtracted (a tombstoned vector never
    // becomes a candidate, so the re-rank never sees it either)
    val codes0 = data
      .filter(tokenOk.isNull)
      .select(col(idCol) +: (0 until m).map(s => col(s"__pqc$s"))
        :+ col("__graft_cell"): _*)
    val codes = ivfPqTombstones(spark, path, meta, idCol) match {
      case Some(t) => codes0.join(t, Seq(idCol), "left_anti")
      case None    => codes0
    }
    // reference-object kernels end to end: the residual shift's
    // nlist x dim and the ADC's dim x ksub literal matrices were the
    // NearestCells planning bomb on this path (same IEEE chains,
    // bit-stable)
    val shiftedQv =
      if (!meta.residual) col("__qv")
      else graft.functions.centroidShiftD(col("__qv"),
        (col("__graft_cell") - 1).cast("int"),
        coarse.map(_.map(v => math.floor(v))))
    val adc = graft.functions.pqAdc(shiftedQv,
      array((0 until m).map(s => col(s"__pqc$s")): _*), books, subDim)
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(lIdCol))
      .orderBy(col("__graft_vj_adc").asc, col(idCol).asc)
    val refined = exploded
      .join(codes, col("__graft_vj_cell") === col("__graft_cell"))
      .withColumn("__graft_vj_adc", adc)
      .withColumn("__graft_vj_rn", row_number().over(wAdc))
      .filter(col("__graft_vj_rn") <= refine)
      .select(col(lIdCol), col(lVecCol), col(idCol),
        col("__graft_cell").as("__graft_vj_rcell"))
    // Exact re-rank: the refine set pulls raw vectors joined on
    // (cell, id), not bare id — every candidate already knows the cell
    // it came from, and carrying it lets the vector read (the table's
    // single heaviest column) share the same literal probed-cell
    // partition filter instead of scanning the whole layout (r11
    // verdict #1: the bare-id join re-read the ENTIRE vector column).
    val vecs = data
      .filter(tokenOk.isNull)
      .select(col(idCol).as("__graft_vj_vid"), col(vecCol), col("__graft_cell"))
    val wCos = org.apache.spark.sql.expressions.Window
      .partitionBy(col(lIdCol))
      .orderBy(col("cos").desc, col(idCol).asc)
    refined.join(vecs, col(idCol) === col("__graft_vj_vid") &&
        col("__graft_vj_rcell") === col("__graft_cell"))
      .withColumn("cos", cosineSimilarity(col(vecCol), col(lVecCol)))
      .withColumn("__graft_vj_rk", row_number().over(wCos))
      .filter(col("__graft_vj_rk") <= k)
      .select(col(lIdCol), col(idCol), col("cos"))
  }

  /** Compact a [[DatasetVectorOps.writeIvfPq]] layout: appended ingest
    * waves leave one small file per wave inside each cell directory —
    * at 100 TB the per-file open/footer cost of thousands of wave
    * shards per probed cell is what erodes the pruned read, not the
    * bytes. One clustered rewrite (hash repartition on the cell — each
    * cell's rows land in exactly one task, so one file per directory)
    * re-publishes the SAME rows, cells, and codebooks under a FRESH
    * write token: no retraining, results identical by construction.
    * Crash safety is the token discipline ([[retrainIvfPq]]): snapshot
    * first, and a failure between the data and meta rewrites leaves a
    * token-mismatched pair every reader refuses. */
  def compactIvfPq(spark: org.apache.spark.sql.SparkSession,
                   path: String): Unit = {
    val meta = readIvfPqMeta(spark, path)
    val data = spark.read.parquet(s"$path/data")
    require(data.columns.contains("__graft_token"),
      s"compactIvfPq: $path/data has no __graft_token column — the " +
        "layout is torn or foreign; rewrite with writeIvfPq")
    val tokens = data.select(col("__graft_token")).distinct()
      .collect().map(_.getString(0))
    require(tokens.length == 1 && tokens(0) == meta.token,
      s"compactIvfPq: write-token mismatch between $path/meta and " +
        s"$path/data — refusing to compact a torn layout")
    // admitted delete waves FOLD here: tombstoned rows leave the table
    // physically, after which their ids are re-usable. The id column is
    // the write's first column by layout contract (writeIvfPq selects
    // id +: vec +: codes).
    val folded = ivfPqTombstones(spark, path, meta, data.columns.head) match {
      case Some(t) => data.join(t, Seq(data.columns.head), "left_anti")
      case None    => data
    }
    val snap = s"$path/compact_snapshot"
    folded.write.mode("overwrite").parquet(snap)
    val token = java.util.UUID.randomUUID().toString
    spark.read.parquet(snap)
      .withColumn("__graft_token", lit(token))
      .repartition(col("__graft_cell"))
      .write.mode("overwrite").partitionBy("__graft_cell")
      .parquet(s"$path/data")
    // ONE rebuilt id Bloom over the compacted generation replaces the
    // accreted wave filters (folded tombstoned ids leave coverage, so
    // their ids become re-usable)
    val idBloomOk = graft.operators.DedupOps.writeIdBloomRow(spark, path,
      "data", data.columns.head, token, "overwrite")
    // tmp+rename publish (ADVICE r11): a raw overwrite text job leaves
    // a whole-job no-meta crash window on an EXISTING layout
    graft.operators.DedupOps.publishMeta(spark, path,
      ivfPqMetaLines(meta.coarse, meta.books, meta.m, meta.ksub, meta.scale,
        meta.residual, token, Seq.empty, idBloomOk))
    // folded tombstones are inert once the meta stopped listing them
    graft.operators.DedupOps.deleteDir(spark, s"$path/tombstones")
    val sp = new org.apache.hadoop.fs.Path(snap)
    sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)
  }

  /** Roll back a TORN wave on an IVF-PQ layout: drop every data row
    * whose write token the meta never admitted (rows landed, their
    * commit didn't — external staging, tampering, a partial copy) and
    * republish the admitted rows unchanged under a FRESH token — same
    * codebooks, same admitted delete waves. The
    * [[graft.operators.DedupOps.repairCdcIndex]] exit for the vector
    * family: without it, reads refuse (by design) and compact/retrain
    * refuse too, so the only way out of a torn layout was a full
    * rebuild from source.
    *
    * A layout whose data holds NO admitted rows (a crashed overwrite —
    * the old generation is physically gone) is refused: there is
    * nothing to repair FROM; re-run the interrupted job or rewrite
    * from source. A layout already uniform on the meta's token is left
    * untouched. */
  def repairIvfPq(spark: org.apache.spark.sql.SparkSession,
                  path: String): Unit = {
    val meta = readIvfPqMeta(spark, path)
    val data = spark.read.parquet(s"$path/data")
    require(data.columns.contains("__graft_token"),
      s"repairIvfPq: $path/data has no __graft_token column — the " +
        "layout is torn or foreign; rewrite with writeIvfPq")
    val tokens = data.select(col("__graft_token")).distinct()
      .collect().map(_.getString(0)).toSet
    if (tokens == Set(meta.token)) return // healthy — nothing to drop
    require(tokens.contains(meta.token),
      s"repairIvfPq: $path/data holds no rows under the meta's token — " +
        "a crashed overwrite left nothing to repair from; re-run the " +
        "interrupted job or rewrite with writeIvfPq")
    val snap = s"$path/repair_snapshot"
    data.filter(col("__graft_token") === meta.token)
      .write.mode("overwrite").parquet(snap)
    val token = java.util.UUID.randomUUID().toString
    spark.read.parquet(snap)
      .withColumn("__graft_token", lit(token))
      .repartition(col("__graft_cell"))
      .write.mode("overwrite").partitionBy("__graft_cell")
      .parquet(s"$path/data")
    // the rolled-back generation gets ONE rebuilt id Bloom (dropped
    // foreign ids leave coverage)
    val idBloomOk = graft.operators.DedupOps.writeIdBloomRow(spark, path,
      "data", data.columns.head, token, "overwrite")
    // tombstones are id-keyed and survive the generation change — a
    // tombstoned id stays dead through a repair
    graft.operators.DedupOps.publishMeta(spark, path,
      ivfPqMetaLines(meta.coarse, meta.books, meta.m, meta.ksub, meta.scale,
        meta.residual, token, meta.tombs, idBloomOk))
    val sp = new org.apache.hadoop.fs.Path(snap)
    sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)
  }

  /** ACT on the drift trigger: retrain the coarse centroids and PQ
    * codebooks of a [[DatasetVectorOps.writeIvfPq]] layout from the
    * CURRENT data (original + every appended wave) and rewrite the
    * layout as a NEW generation. [[auditIvfPqRecall]] detects quantizer
    * drift; this is the repair.
    *
    * Training is bounded: Lloyd's passes run over a seeded Knuth-hash
    * sample of `trainCap` rows (codebooks need a representative sample,
    * not every row), while the re-ENCODE covers the full table — a
    * retrain is inherently O(table), it is the rewrite.
    *
    * Crash safety is the write-token discipline: the current rows are
    * snapshotted beside the layout first (Spark cannot overwrite a
    * directory it is still lazily reading), then data and meta are
    * rewritten with a FRESH token. A failure between the two leaves new
    * codes against old books — a pair every reader REFUSES (token
    * mismatch) instead of ranking against the wrong codebooks; the
    * snapshot still holds every row for a re-run. A torn INPUT layout
    * is refused up front for the same reason: retraining it would bake
    * the tear into the next generation. `nlist` 0 keeps the layout's
    * current cell count. */
  def retrainIvfPq(spark: org.apache.spark.sql.SparkSession, path: String,
                   vecCol: String, idCol: String, nlist: Int = 0,
                   iters: Int = 2, seed: Long = 42L,
                   trainCap: Int = 4096): Unit = {
    require(iters >= 0 && trainCap >= 1)
    val meta = readIvfPqMeta(spark, path)
    val data = spark.read.parquet(s"$path/data")
    require(data.columns.contains("__graft_token"),
      s"retrainIvfPq: $path/data has no __graft_token column — the " +
        "layout is torn or foreign; rewrite with writeIvfPq")
    // one column-pruned pass (dictionary-encoded token column) — noise
    // next to the rewrite this call is about to do
    val tokens = data.select(col("__graft_token")).distinct()
      .collect().map(_.getString(0))
    require(tokens.length == 1 && tokens(0) == meta.token,
      s"retrainIvfPq: write-token mismatch between $path/meta and " +
        s"$path/data — refusing to retrain a torn layout")
    val lists = if (nlist > 0) nlist else meta.coarse.length
    val snap = s"$path/retrain_snapshot"
    // a retrain is a new generation: admitted delete waves fold out of
    // the snapshot (and writeIvfPq below drops the stale tombstones)
    val live = ivfPqTombstones(spark, path, meta, idCol) match {
      case Some(t) => data.join(t, Seq(idCol), "left_anti")
      case None    => data
    }
    live.select(col(idCol), col(vecCol))
      .write.mode("overwrite").parquet(snap)
    val current = spark.read.parquet(snap)
    new DatasetVectorOps(current).writeIvfPq(path, vecCol, idCol,
      nlist = lists, m = meta.m, ksub = meta.ksub, iters = iters,
      seed = seed, scale = meta.scale, residual = meta.residual,
      trainCap = trainCap)
    val sp = new org.apache.hadoop.fs.Path(snap)
    sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)
  }

  /** Query the [[DatasetVectorOps.writeIvfPq]] disk layout: probe the
    * `nprobe` nearest cells (same quantized-L2 argmin as the in-memory
    * [[DatasetVectorOps.cosineTopKIvfPq]] — the two produce IDENTICAL
    * results for identical parameters), rank the probed rows by ADC
    * over their stored PQ codes, and re-rank the best `refine` by exact
    * cosine.
    *
    * The 100-TB shape this layout exists for: the ADC scoring pass
    * reads ONLY (id, codes, cell) — parquet column pruning never
    * touches the float vectors — and the refine pass re-reads the
    * probed cells with an `id IN (...)` filter pushed to the scan, so
    * raw vectors are read for at most `refine` rows. One bounded
    * driver collect (≤ `refine` ids) stitches the phases. */
  /** Parsed [[DatasetVectorOps.writeIvfPq]] metadata. `tombs` lists the
    * admitted DELETE-wave tokens (empty when none). */
  private[operators] final case class IvfPqMeta(
      coarse: Array[Array[Double]], books: Array[Array[Array[Double]]],
      m: Int, ksub: Int, scale: Double, residual: Boolean, token: String,
      tombs: Seq[String] = Seq.empty, idBloom: Boolean = false)

  /** The admitted tombstoned ids of an IVF-PQ layout (distinct, one
    * column aliased to `idCol`), or None when the meta lists no delete
    * waves. Unadmitted tombstone rows are FILTERED, not refused — the
    * text layouts' torn-delete-is-a-no-op argument
    * ([[graft.operators.DedupOps.tombstoneIds]]). */
  private[operators] def ivfPqTombstones(
      spark: org.apache.spark.sql.SparkSession, path: String,
      meta: IvfPqMeta, idCol: String)
      : Option[org.apache.spark.sql.DataFrame] =
    if (meta.tombs.isEmpty) None
    // not distinct'd: consumers anti-join and admitted waves are
    // disjoint by the delete verb's construction (see
    // [[graft.operators.DedupOps.tombstoneIds]])
    else Some(spark.read.parquet(s"$path/tombstones")
      .filter(col("__graft_token").isin(meta.tombs: _*))
      .select(col("__graft_tomb_id").as(idCol)))

  /** The meta lines of an IVF-PQ layout — shared by write / compact /
    * delete so no publish site can drop a line another one added. */
  private[operators] def ivfPqMetaLines(
      coarse: Array[Array[Double]], books: Array[Array[Array[Double]]],
      m: Int, ksub: Int, scale: Double, residual: Boolean, token: String,
      tombs: Seq[String], idBloom: Boolean = false): Seq[String] =
    Seq(
      "coarse=" + coarse.map(_.mkString(",")).mkString(";"),
      "books=" + books.map(_.map(_.mkString(",")).mkString(";")).mkString("|"),
      s"params=m:$m,ksub:$ksub,scale:$scale,residual:$residual",
      "token=" + token) ++
      (if (tombs.isEmpty) Seq.empty else Seq("tombs=" + tombs.mkString(";"))) ++
      graft.operators.DedupOps.idBloomMetaLine(idBloom)

  private[operators] def readIvfPqMeta(
      spark: org.apache.spark.sql.SparkSession, path: String): IvfPqMeta = {
    val lines = graft.operators.DedupOps.readMetaLines(spark, path,
      "IVF-PQ layout")
    def line(tag: String): String = lines.find(_.startsWith(tag + "="))
      .getOrElse(throw new IllegalArgumentException(
        s"IVF-PQ layout: no '$tag' line in $path/meta"))
      .substring(tag.length + 1)
    val tombs = lines.find(_.startsWith("tombs="))
      .map(_.substring(6).split(";").toSeq.filter(_.nonEmpty))
      .getOrElse(Seq.empty)
    val coarse: Array[Array[Double]] =
      line("coarse").split(";").map(_.split(",").map(_.toDouble))
    val books: Array[Array[Array[Double]]] =
      line("books").split("\\|").map(_.split(";").map(_.split(",").map(_.toDouble)))
    val params = line("params").split(",").map { kv =>
      val Array(a, b) = kv.split(":"); a -> b
    }.toMap
    val idBloom = lines.find(_.startsWith("idbloom="))
      .exists(_.substring(8) == "yes")
    val meta = IvfPqMeta(coarse, books, params("m").toInt,
      params("ksub").toInt, params("scale").toDouble,
      params("residual").toBoolean, line("token"), tombs, idBloom)
    require(meta.m == books.length && books.forall(_.length <= meta.ksub))
    meta
  }

  /** Non-throwing audit of an IVF-PQ layout — the
    * [[graft.operators.DedupOps.fsckTextIndex]] verb for the vector
    * family: meta parses and is shape-consistent, the data table holds
    * exactly the meta's generation token (an append extends it, so ANY
    * other token is a tear), tombstones are inventoried. Column-pruned
    * token scans only. */
  def fsckIvfPq(spark: org.apache.spark.sql.SparkSession,
                path: String): org.apache.spark.sql.DataFrame = {
    val out = scala.collection.mutable.ArrayBuffer[(String, Boolean, String)]()
    def check(name: String)(body: => (Boolean, String)): Unit =
      out += (try { val (ok, d) = body; (name, ok, d) }
        catch { case e: Throwable =>
          (name, false, Option(e.getMessage).getOrElse(e.toString).take(200)) })
    val metaTry =
      try Right(readIvfPqMeta(spark, path))
      catch { case e: Throwable => Left(e) }
    metaTry match {
      case Left(e) =>
        out += (("meta", false,
          Option(e.getMessage).getOrElse(e.toString).take(200)))
      case Right(meta) =>
        out += (("meta", true,
          s"ivfpq nlist=${meta.coarse.length} m=${meta.m} ksub=${meta.ksub}"))
        check("data_tokens") {
          val seen = spark.read.parquet(s"$path/data")
            .select(col("__graft_token")).distinct()
            .collect().map(_.getString(0)).toSet
          (seen == Set(meta.token),
            if (seen == Set(meta.token)) "one generation"
            else if (seen.contains(meta.token))
              s"torn: ${seen.size - 1} foreign token(s) beside the " +
                "admitted one — repairIvfPq drops them"
            else "torn: no admitted rows (crashed overwrite) — re-run " +
              "the interrupted job or rewrite with writeIvfPq")
        }
        if (meta.tombs.nonEmpty) check("tombstones") {
          val toks = spark.read.parquet(s"$path/tombstones")
            .select(col("__graft_token")).distinct()
            .collect().map(_.getString(0)).toSet
          val missing = meta.tombs.toSet.diff(toks)
          (missing.isEmpty,
            s"${meta.tombs.length} admitted delete wave(s)" +
              (if (missing.nonEmpty) s", ${missing.size} MISSING" else ""))
        }
        if (meta.idBloom) check("idbloom_present") {
          val n = spark.read.parquet(s"$path/idbloom").count()
          (n >= 1L, s"$n filter row(s) — a claimed-but-absent filter " +
            "set would turn bloom misses into admitted duplicate ids")
        }
    }
    import spark.implicits._
    spark.createDataset(out.toIndexedSeq).toDF("check", "ok", "detail")
  }

  /** Tombstone-delete ids from a [[DatasetVectorOps.writeIvfPq]]
    * layout — the text layouts' GDPR discipline on the vector family:
    * ids land at `$path/tombstones` under a fresh delete token, the
    * meta's `tombs=` list commits LAST, readers subtract admitted
    * tombstones from the ADC candidate set (a deleted vector can never
    * rank, occupy a refine slot, or pass the semantic gate), and
    * [[compactIvfPq]] / [[retrainIvfPq]] fold them physically. A
    * tombstoned id stays DEAD for the append clash check until a fold
    * — never a silent resurrection. Idempotent; absent ids are
    * harmless no-ops. */
  def deleteFromIvfPq(spark: org.apache.spark.sql.SparkSession,
                      path: String, ids: org.apache.spark.sql.DataFrame,
                      idCol: String): Unit = {
    val meta = readIvfPqMeta(spark, path)
    require(ids.columns.contains(idCol),
      s"deleteFromIvfPq: the ids frame must carry '$idCol' " +
        s"(has: ${ids.columns.mkString(", ")})")
    val token = java.util.UUID.randomUUID().toString
    val fresh = ids.select(col(idCol).as("__graft_tomb_id")).distinct()
    val newIds = (ivfPqTombstones(spark, path, meta, "__graft_tomb_id") match {
      case Some(t) => fresh.join(t, Seq("__graft_tomb_id"), "left_anti")
      case None    => fresh
    }).localCheckpoint() // the guard and the write both read it
    // everything already dead: admit nothing (an admitted wave with no
    // tombstone rows on disk would read as a MISSING wave to fsck)
    if (newIds.isEmpty) return
    newIds.withColumn("__graft_token", lit(token))
      .write.mode("append").parquet(s"$path/tombstones")
    // a delete adds no physical ids — id-Bloom coverage unchanged
    graft.operators.DedupOps.publishMeta(spark, path,
      ivfPqMetaLines(meta.coarse, meta.books, meta.m, meta.ksub, meta.scale,
        meta.residual, meta.token, meta.tombs :+ token, meta.idBloom))
  }

  def readIvfPqTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                    vecCol: String, idCol: String, query: Array[Float],
                    k: Int, nprobe: Int = 4, refine: Int = 50): DataFrame = {
    require(refine >= k && nprobe >= 1)
    graft.GraftConf.checkDriverPushdown(spark, "readIvfPqTopK", refine)
    val meta = readIvfPqMeta(spark, path)
    val coarse = meta.coarse
    val books = meta.books
    val m = meta.m
    val scale = meta.scale
    val residual = meta.residual
    val subDim = books(0)(0).length
    require(query.length == m * subDim,
      s"readIvfPqTopK: query dim ${query.length} != ${m * subDim}")
    val qq = query.map(x => math.floor(x.toDouble * scale))
    def l2sq(c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < qq.length) { val d = qq(i) - c(i); s += d * d; i += 1 }
      s
    }
    val probes0 = coarse.indices.sortBy(i => (l2sq(coarse(i)), i)).take(nprobe)
    val probesPart = probes0.map(_ + 1) // the 1-based partition values
    def adcTable(qr: Int => Double): Array[Array[Double]] = Array.tabulate(m) { s =>
      books(s).map { cen =>
        var acc = 0.0; var j = 0
        while (j < subDim) { val d = qr(s * subDim + j) - cen(j); acc += d * d; j += 1 }
        acc
      }
    }
    def adcOf(tabs: Array[Array[Double]]) = (0 until m).map { s =>
      element_at(array(tabs(s).map(lit).toIndexedSeq: _*), col(s"__pqc$s") + 1)
    }.reduce(_ + _)
    val adc =
      if (!residual) adcOf(adcTable(i => qq(i)))
      else {
        val cCol = (col("__graft_cell") - 1).cast("int")
        coalesce(probes0.map { c =>
          when(cCol === c,
            adcOf(adcTable(i => qq(i) - math.floor(coarse(c)(i)))))
        }: _*)
      }
    // explicit probed-cell directories (PrunedCellScan owns the IN
    // filter — the listing never touches unprobed cells)
    val data = graft.index.PrunedCellScan(spark, s"$path/data",
      "__graft_cell", probesPart.map(Int.box))
    // pair validation: the write stamps one token into both artifacts
    // (meta line + constant parquet column). Every row this query reads
    // must carry the meta's token — a torn or interleaved rewrite
    // (fresh data under stale codebooks, or vice versa) THROWS here
    // instead of ADC-ranking stored codes against the wrong books.
    // Per-row cost is one codegen'd string comparison on probed rows.
    val token = meta.token
    require(data.columns.contains("__graft_token"),
      s"readIvfPqTopK: $path/data has no __graft_token column — the " +
        "layout predates the tokened format or is torn; rewrite with writeIvfPq")
    val tokenOk = assert_true(col("__graft_token") === token,
      lit(s"readIvfPqTopK: write-token mismatch between $path/meta and " +
        s"$path/data — data and codebooks come from different writes; " +
        "rewrite the layout with writeIvfPq"))
    val probed0 = data
      .filter(tokenOk.isNull)
    // admitted delete waves subtract: a tombstoned vector never ranks
    // and never occupies a refine slot
    val probed = ivfPqTombstones(spark, path, meta, idCol) match {
      case Some(t) => probed0.join(t, Seq(idCol), "left_anti")
      case None    => probed0
    }
    val scored = probed
      .select(col(idCol) +: (0 until m).map(s => col(s"__pqc$s"))
        :+ col("__graft_cell"): _*)
      .withColumn("__adc", adc)
      .orderBy(col("__adc").asc, col(idCol).asc)
      .limit(refine)
    val refineIds = scored.select(col(idCol)).collect().map(_.get(0))
    probed
      .filter(col(idCol).isin(refineIds.toIndexedSeq: _*))
      .withColumn("cos", cosineSimilarity(col(vecCol), lit(query)))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("cos"))
  }

  implicit class DatasetVectorOps[T](private val ds: Dataset[T]) extends AnyVal {

    /** Exact top-k by cosine similarity against one query vector.
      * Scans everything once; no shuffle beyond the top-k merge. */
    def cosineTopK(vecCol: String, idCol: String, query: Array[Float],
                   k: Int): DataFrame =
      ds.toDF
        .withColumn("cos", cosineSimilarity(col(vecCol), lit(query)))
        .orderBy(col("cos").desc, col(idCol).asc)
        .limit(k)

    /** Symmetric max-abs int8 quantization of an embedding column — the
      * storage-path op of a training-data pipeline (4x smaller vectors
      * before a write). Emits (id, scale, q) where `scale` = max |v_i|
      * and `q_i = floor(v_i * 127 / scale + 0.5)` (explicit
      * floor-of-shifted instead of round(): the same exact IEEE
      * expression is writable in any SQL engine, so the op is
      * hash-oracle-able; round() half-even/half-up dialects differ).
      * All-zero vectors quantize to all-zero with scale 0. Pure
      * higher-order built-ins — no shuffle, no UDF. */
    def quantizeInt8(vecCol: String, idCol: String): DataFrame = {
      // internal __graft_ name for the intermediate so an input column
      // that happens to be called "scale" is never silently replaced
      val sc = "__graft_qscale"
      val asD = transform(col(vecCol), x => abs(x.cast("double")))
      ds.toDF
        .withColumn(sc, aggregate(asD, lit(0.0), (a, x) => greatest(a, x)))
        .select(
          col(idCol),
          col(sc).as("scale"),
          when(col(sc) === 0.0, transform(col(vecCol), _ => lit(0)))
            .otherwise(transform(col(vecCol), x =>
              floor(x.cast("double") * 127.0 / col(sc) + 0.5).cast("int")))
            .as("q"))
    }

    /** Approximate top-k: candidates must share >= 1 sketch band with the
      * query (`bandBits`-bit blocks of the hyperplane sketch), then exact
      * cosine ranks them. `planes`/`bandBits` trade recall for scan cost:
      * at scale the band match is an equi-filter a bucketed layout can
      * serve without a full scan. */
    def cosineTopKLsh(vecCol: String, idCol: String, query: Array[Float],
                      k: Int, planes: Int = 16, bandBits: Int = 4,
                      seed: Long = 42L): DataFrame = {
      require(planes % bandBits == 0)
      val bands = planes / bandBits
      val mask = (1L << bandBits) - 1
      val qSketch = graft.functions.VectorKernels.hyperplaneSketch(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(query), planes, seed)
      val sk = hyperplaneSketch(col(vecCol), planes, seed)
      val bandMatch = (0 until bands).map { b =>
        shiftright(sk, b * bandBits).bitwiseAND(lit(mask)) ===
          lit((qSketch >>> (b * bandBits)) & mask)
      }.reduce(_ || _)
      ds.toDF
        .filter(bandMatch)
        .withColumn("cos", cosineSimilarity(col(vecCol), lit(query)))
        .orderBy(col("cos").desc, col(idCol).asc)
        .limit(k)
    }

    /** Approximate top-k, IVF-style: a coarse quantizer of `nlist`
      * deterministically-sampled centroid vectors partitions the
      * collection into cells (argmax-cosine assignment, all codegen'd
      * column arithmetic); a query exactly re-ranks only the `nprobe`
      * cells whose centroids are nearest to it. At scale, writing the
      * data partitioned by `__cell` turns the probe into partition
      * pruning — the classic IVF index layout on Spark primitives. */
    def cosineTopKIvf(vecCol: String, idCol: String, query: Array[Float],
                      k: Int, nlist: Int = 16, nprobe: Int = 4,
                      seed: Long = 42L): DataFrame = {
      require(nlist >= 1 && nprobe >= 1)
      val df = ds.toDF
      // nlist rows to the driver — bounded like RangePartitioner's sketch
      val centroids = df
        .select(col(idCol), col(vecCol))
        .orderBy(VectorOps.centroidOrder(idCol, seed), col(idCol))
        .limit(nlist)
        .collect()
        .map(_.getSeq[Float](1).toArray)
      val cosToCentroids = array(centroids.map(c =>
        cosineSimilarity(col(vecCol), lit(c))): _*)
      val withCos = df.withColumn("__graft_cos", cosToCentroids)
        .withColumn("__cell",
          array_position(col("__graft_cos"), array_max(col("__graft_cos"))))
      val qCos = centroids.map(c => graft.functions.VectorKernels.cosineF(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(query),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(c)))
      val probes = qCos.zipWithIndex.sortBy(-_._1).take(nprobe)
        .map(_._2 + 1L) // array_position is 1-based
      withCos
        .filter(col("__cell").isin(probes: _*))
        .withColumn("cos", cosineSimilarity(col(vecCol), lit(query)))
        .orderBy(col("cos").desc, col(idCol).asc)
        .limit(k)
        .drop("__graft_cos", "__cell")
    }

    /** Persist this dataset as an IVF index layout: rows written as
      * parquet PARTITIONED BY their coarse-quantizer cell, centroids in
      * JSON metadata alongside. [[VectorOps.readIvfTopK]] then probes
      * only the nprobe nearest cell directories — partition pruning at
      * the filesystem level, the classic IVF index as a disk layout
      * (scan proof: PartitionFilters on __graft_cell, see spec). */
    def writeIvf(path: String, vecCol: String, idCol: String,
                 nlist: Int = 16, seed: Long = 42L): Unit = {
      val df = ds.toDF
      val centroids = df.select(col(idCol), col(vecCol))
        .orderBy(VectorOps.centroidOrder(idCol, seed), col(idCol))
        .limit(nlist).collect().map(_.getSeq[Float](1).toArray)
      require(centroids.nonEmpty,
        "writeIvf: dataset is empty — no centroids to quantize against")
      val cosArr = array(centroids.map(c => cosineSimilarity(col(vecCol), lit(c))): _*)
      // the writeIvfPq token discipline: data and centroids are two
      // independent jobs, and stale centroids against fresh cell
      // assignments would silently probe the wrong cells — the reader
      // refuses a mismatched pair instead
      val token = java.util.UUID.randomUUID().toString
      df.withColumn("__graft_cos", cosArr)
        .withColumn("__graft_token", lit(token))
        .withColumn("__graft_cell",
          array_position(col("__graft_cos"), array_max(col("__graft_cos"))).cast("int"))
        .drop("__graft_cos")
        // cluster by cell so each directory gets ONE file (the
        // compactIvfPq discipline at write time): without it every
        // input partition leaves a shard in every cell it touches, and
        // a pruned read pays files-per-cell x probed-cells parquet
        // footer opens (measured: 89 shards/cell at the 100x trend
        // slice — the opens, not the listing, were the residual term)
        .repartition(col("__graft_cell"))
        .write.mode("overwrite").partitionBy("__graft_cell").parquet(s"$path/data")
      // a fresh full write starts a new generation: stale tombstones
      // must not shadow it
      graft.operators.DedupOps.deleteDir(df.sparkSession, s"$path/tombstones")
      // metadata through the Spark writer too (any hadoop fs, not just
      // local), published tmp+rename — "rewrite with writeIvf" is the
      // prescribed exit from a torn layout, where a raw overwrite text
      // job would leave a whole-job no-centroids crash window
      graft.operators.DedupOps.publishMeta(df.sparkSession, path,
        VectorOps.ivfMetaLines(centroids, token, Seq.empty, None),
        dir = "centroids")
    }

    /** Persist the composed IVF-PQ index ([[cosineTopKIvfPq]]'s exact
      * arithmetic — trained coarse cells, PQ codes, optional residual
      * encoding) as a cell-partitioned parquet layout plus a metadata
      * directory: each row stores (id, vector, m codes) under its cell's
      * directory, so [[VectorOps.readIvfPqTopK]] prunes non-probed cells
      * via PartitionFilters, ADC-scores reading ONLY the code columns,
      * and touches float vectors for just the refine set. Train once,
      * write once, query many — the at-rest form of the billion-scale
      * index. Identical parameters produce results identical to the
      * in-memory verb (everything in the chain is the proven
      * engine-replay arithmetic). */
    def writeIvfPq(path: String, vecCol: String, idCol: String,
                   nlist: Int = 8, m: Int = 4, ksub: Int = 4,
                   iters: Int = 2, seed: Long = 42L,
                   scale: Double = 65536.0, residual: Boolean = false,
                   trainCap: Int = 0): Unit = {
      require(nlist >= 1 && m >= 1 && ksub >= 1 && iters >= 0)
      val df = ds.toDF
      val base = VectorOps.quantizedBase(df, vecCol, idCol, scale, keepVec = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // the id is the index key: the reader's refine phase re-selects
        // rows BY id, so a duplicated id would pull extra rows into the
        // exact re-rank and silently diverge from the in-memory verb.
        // One partial-aggregated pass of counts guards that at write
        // time (the write is already a multi-pass training job). Nulls
        // get their own message: count_distinct ignores them, so a
        // null-id dataset would otherwise fail as "must be unique" —
        // and a null id that slipped through would NPE in training.
        // Null or ragged VECTORS are guarded in the same pass: a null
        // vector assigns a null cell and lands under the Hive default
        // partition, where no probe set can ever reach it.
        val g = base.agg(count(lit(1)), count(col(idCol)),
          count_distinct(col(idCol)), count(col(vecCol)),
          min(size(col("__qv"))), max(size(col("__qv")))).head()
        val nRows = g.getLong(0)
        val nNonNull = g.getLong(1)
        val nIds = g.getLong(2)
        val nVec = g.getLong(3)
        require(nNonNull == nRows,
          s"writeIvfPq: idCol '$idCol' has ${nRows - nNonNull} null " +
            "ids — the disk index is keyed by id; filter or fill them first")
        require(nRows == nIds,
          s"writeIvfPq: idCol '$idCol' must be unique — $nRows rows but " +
            s"$nIds distinct ids (the disk index is keyed by id)")
        require(nVec == nRows,
          s"writeIvfPq: vecCol '$vecCol' has ${nRows - nVec} null " +
            "vectors — they would land in an unreachable null cell")
        require(nRows == 0 || g.getInt(4) == g.getInt(5),
          s"writeIvfPq: vecCol '$vecCol' has ragged dimensions " +
            s"(${g.getInt(4)}..${g.getInt(5)})")
        // trainCap > 0 bounds the TRAINING set to a seeded Knuth-hash
        // sample (the retrain path's knob: Lloyd's iters full passes run
        // over trainCap rows, not the whole table — codebook quality
        // needs a representative sample, not every row). The ENCODE
        // below still covers every row whatever the cap.
        val trainBase =
          if (trainCap > 0)
            base.orderBy(VectorOps.centroidOrder(idCol, seed), col(idCol))
              .limit(trainCap)
          else base
        val coarse = VectorOps.lloydTrain(trainBase, idCol, nlist, iters, seed)
          .getOrElse(throw new IllegalArgumentException(
            "writeIvfPq: dataset is empty — nothing to index"))
        def celledShifted(f: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame = {
          val celled = VectorOps.withCell(f, coarse)
          if (residual) {
            val centerQ = coarse.map(_.map(v => math.floor(v).toLong))
            celled.withColumn("__qv", graft.functions.centroidShiftL(
              col("__qv"), col("__c").cast("int"), centerQ))
          } else celled
        }
        val codesInput = celledShifted(base)
        val books = VectorOps.pqTrain(
          if (trainCap > 0) celledShifted(trainBase) else codesInput,
          idCol, m, ksub, iters, seed).get
        val subDim = books(0)(0).length
        // data and meta are TWO independent overwrite jobs; a failure or
        // concurrent rewrite between them would pair fresh codes with
        // stale codebooks, and ADC against the wrong books returns wrong
        // neighbors SILENTLY. A per-write token stored in BOTH artifacts
        // makes the layout self-validating: the reader refuses a
        // mismatched pair instead of ranking against the wrong books.
        val token = java.util.UUID.randomUUID().toString
        VectorOps.withPqCodes(codesInput, books, subDim)
          .select(col(idCol) +: col(vecCol) +:
            (0 until m).map(s => col(s"__pqc$s")) :+
            lit(token).as("__graft_token") :+
            (col("__c") + 1).as("__graft_cell"): _*)
          // one file per cell directory (the compactIvfPq clustering at
          // write time) — unclustered, every input partition sheds a
          // shard into every cell it touches and a pruned read pays
          // files-per-cell x probed-cells footer opens
          .repartition(col("__graft_cell"))
          .write.mode("overwrite").partitionBy("__graft_cell")
          .parquet(s"$path/data")
        // a fresh full write starts a new generation: stale tombstones
        // from the previous one must not shadow it
        graft.operators.DedupOps.deleteDir(df.sparkSession,
          s"$path/tombstones")
        // id Bloom for the O(wave) append clash gate (the text layouts'
        // discipline) — built from the WRITTEN rows (one token covers
        // the whole fresh generation); a filter that cannot land
        // (non-long id, size cap) flips idbloom=no and appends stay on
        // the semi-join confirm path. The previous generation's filters
        // are deleted either way, so a no-bloom generation never leaves
        // stale coverage behind.
        graft.operators.DedupOps.deleteDir(df.sparkSession, s"$path/idbloom")
        val idBloomOk = graft.operators.DedupOps.writeIdBloomRow(
          df.sparkSession, path, "data", idCol, token, "overwrite")
        // metadata as tagged text lines (bracket-free codec — no nested
        // parsing); Double.toString round-trips exactly, so the reader
        // reconstructs the IDENTICAL centroids and codebooks.
        // tmp+rename publish (ADVICE r11): retrainIvfPq routes through
        // here on an EXISTING layout, where a raw overwrite text job
        // would leave a whole-job no-meta crash window
        graft.operators.DedupOps.publishMeta(df.sparkSession, path,
          VectorOps.ivfPqMetaLines(coarse, books, m, ksub, scale, residual,
            token, Seq.empty, idBloomOk))
      } finally base.unpersist()
    }

    /** Append an ingest wave of vectors to an existing [[writeIvfPq]]
      * layout — the incremental-embedding-index shape: new rows assign
      * to the layout's EXISTING coarse cells and encode with its
      * EXISTING codebooks (read back from the meta, no retraining),
      * land as new parquet files inside their cell directories, and
      * carry the layout's write token (an append extends the same
      * generation, it does not create one). The id key stays unique
      * ACROSS waves (checked — the reader's refine phase re-selects
      * rows by id).
      *
      * Codebooks trained on earlier waves score later waves slightly
      * worse (ADC error drifts with the distribution), which affects
      * RECALL at small nprobe/refine — never exactness: probing every
      * cell with `refine >= rows` re-ranks the full layout by exact
      * cosine whatever the codes say. When [[VectorOps.auditIvfPqRecall]]
      * says recall slipped, [[VectorOps.retrainIvfPq]] rewrites the
      * layout with fresh codebooks. */
    def appendIvfPq(path: String, vecCol: String, idCol: String): Unit = {
      val df = ds.toDF
      val spark = df.sparkSession
      val meta = VectorOps.readIvfPqMeta(spark, path)
      val base = VectorOps.quantizedBase(df, vecCol, idCol, meta.scale,
        keepVec = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // same one-pass guards as the write, PLUS the dimension check
        // against the LAYOUT: a wave of wrong-dim vectors would zip
        // against the coarse centroids to null cells and land under the
        // Hive default partition — silently invisible to every probe
        // set, violating the exactness escape
        val g = base.agg(count(lit(1)), count(col(idCol)),
          count_distinct(col(idCol)), count(col(vecCol)),
          min(size(col("__qv"))), max(size(col("__qv")))).head()
        val nRows = g.getLong(0)
        val nNonNull = g.getLong(1)
        val nIds = g.getLong(2)
        val nVec = g.getLong(3)
        require(nNonNull == nRows,
          s"appendIvfPq: idCol '$idCol' has ${nRows - nNonNull} null ids")
        require(nRows == nIds,
          s"appendIvfPq: idCol '$idCol' must be unique within the wave")
        require(nVec == nRows,
          s"appendIvfPq: vecCol '$vecCol' has ${nRows - nVec} null " +
            "vectors — they would land in an unreachable null cell")
        val layoutDim = meta.coarse(0).length
        require(nRows == 0 || (g.getInt(4) == layoutDim && g.getInt(5) == layoutDim),
          s"appendIvfPq: wave vector dimensions ${g.getInt(4)}..${g.getInt(5)} " +
            s"!= layout dimension $layoutDim")
        // cross-wave uniqueness at O(wave): when the layout carries id
        // Blooms the wave's ids probe them LOCALLY and only maybes ride
        // the confirm semi-join (the text layouts' r12 discipline —
        // without it every append to a 100-TB layout paid an O(table)
        // id pass). A tombstoned id's rows are physically present, so
        // it stays DEAD here until a compact folds it.
        graft.operators.DedupOps.idClashCheck(spark, path, "data",
          "appendIvfPq", base.select(col(idCol)), idCol,
          Map("__idbloom" -> (if (meta.idBloom) "yes" else "no")))
        // the wave's own Bloom row lands BEFORE its data: appended
        // waves share the generation token (no per-wave token to filter
        // written rows by), so the filter builds from the PERSISTED
        // input — the same frame the data write below runs from — and a
        // crash between the two only OVER-covers (a bloom containing
        // ids that never landed costs a confirm join; the reverse order
        // would leave landed ids uncovered, a silently admitted
        // duplicate later). A filter that cannot land downgrades the
        // layout's meta to idbloom=no (republished — the ONE meta touch
        // an append can make) so the gate never trusts partial coverage.
        if (meta.idBloom) {
          val waveOk = graft.operators.DedupOps.writeIdBloomRowFrom(spark,
            path, base.select(col(idCol)), idCol,
            java.util.UUID.randomUUID().toString, "append")
          if (!waveOk)
            graft.operators.DedupOps.publishMeta(spark, path,
              VectorOps.ivfPqMetaLines(meta.coarse, meta.books, meta.m,
                meta.ksub, meta.scale, meta.residual, meta.token,
                meta.tombs, idBloom = false))
        }
        val celled = VectorOps.withCell(base, meta.coarse)
        val codesInput =
          if (meta.residual) {
            val centerQ = meta.coarse.map(_.map(v => math.floor(v).toLong))
            celled.withColumn("__qv", graft.functions.centroidShiftL(
              col("__qv"), col("__c").cast("int"), centerQ))
          } else celled
        val subDim = meta.books(0)(0).length
        VectorOps.withPqCodes(codesInput, meta.books, subDim)
          .select(col(idCol) +: col(vecCol) +:
            (0 until meta.m).map(s => col(s"__pqc$s")) :+
            lit(meta.token).as("__graft_token") :+
            (col("__c") + 1).as("__graft_cell"): _*)
          // one file per touched cell PER WAVE (not per input
          // partition) — appended waves still accrete shards, which is
          // what compactIvfPq folds, but 32x fewer of them
          .repartition(col("__graft_cell"))
          .write.mode("append").partitionBy("__graft_cell")
          .parquet(s"$path/data")
      } finally base.unpersist()
    }

    /** Exact vector kNN join by L2 distance: for every left row, its k
      * nearest right vectors — the pivot (Voronoi) algorithm over
      * embedding space (same shape as SpatialOps.knnJoinPivot; L2 obeys
      * the triangle inequality, which the pruning bound needs — for
      * angular similarity, L2 over unit-normalized vectors is monotone
      * with cosine). Sub-quadratic: candidates are only (left cell,
      * admitted rights) pairs, never the cross product, and the exact
      * rescue keeps the result correct whatever theta the sample
      * produced. */
    def knnJoinVec(right: Dataset[_], lVec: String, rVec: String,
                   lId: String, k: Int, tieBreak: Seq[String],
                   numPivots: Int = 16, sampleCap: Int = 500,
                   quantile: Double = 0.95, safety: Double = 2.0): DataFrame = {
      import SpatialOps.l2
      val l = ds.toDF
      val rt = right.toDF
      SpatialOps.requireDisjoint("knnJoinVec", l, rt)

      // The gate/theta estimation is a STATISTICAL read — a bounded
      // 500x500 sub-sample estimates admit fraction, radii, and pivots
      // just as well, and the full sampleDists matrix is quadratic in
      // sampleCap (driver memory AND time: a 50k sample would build a
      // 20 GB matrix before any plan exists). Callers raise sampleCap
      // for the approximate route's IVF TRAINING (linear per Lloyd
      // round over rS below), never for the gate. `spread` strides the
      // sample instead of taking a prefix, so a raised cap still spreads
      // the gate's 500 over all of it (identical at the default cap).
      def spread(a: Array[Array[Float]]): Array[Array[Float]] =
        if (a.length <= 500) a
        else {
          val step = a.length.toDouble / 500
          Array.tabulate(500)(i => a(math.min((i * step).toInt, a.length - 1)))
        }
      // One uniform, partition-blind stats pass per side. The right pass
      // carries the gate's left sample as probes, so each of those lefts
      // gets its EXACT k-th distance to the whole right side — the reach
      // of the starved rescue (a sample-vs-sample radius is no bound
      // once k exceeds the right sample).
      val lS = SpatialOps.vecStats(l, lVec, sampleCap).sample
      val gateL = spread(lS)
      val rStats = SpatialOps.vecStats(rt, rVec, sampleCap, probes = gateL, k = k)
      val rS = rStats.sample
      require(rS.nonEmpty, "vector kNN join: right side is empty")

      def naivePlan(left: DataFrame): DataFrame = {
        val w0 = org.apache.spark.sql.expressions.Window.partitionBy(col(lId))
          .orderBy((col("__graft_d") +: tieBreak.map(col)).map(_.asc): _*)
        // null vectors -> null distance, which asc ranks FIRST: exclude.
        // Filter the INPUTS, not the computed distance — l2Distance is
        // null-intolerant, so the predicates are equivalent, but a
        // distance-null filter pushes into the BNL join condition and
        // every pair pays the d-dim kernel TWICE (once in the join
        // predicate, once in the projection — observed as the b6v
        // entry's 1.2-1.3x vs baseline)
        val lf = SpatialOps.spreadForCross(left.filter(col(lVec).isNotNull))
        // NARROW-PAIR window (guide §2.3 "project before the exchange",
        // the pivot path's narrow top-k applied to the cross fallback):
        // the |l|·|r| pairs previously crossed the window exchange at
        // full width — BOTH d-dim embeddings riding every pair row
        // (~530 B/pair at d=64 — a 2 GB exchange+sort for the 2000²
        // b6v entry) — when the window only needs (lId, rowid, dist,
        // tieBreak) ≈ 40 B to pick winners. Pairs now narrow INSIDE the
        // cross stage and the k·|left| winners hydrate their payloads
        // afterwards: left rows by the (unique) lId, right rows by a
        // row id pinned on a LAZY local checkpoint (materialized only
        // if this plan executes — as the pivot joins' starved fallback
        // the plan is often built for an empty starved set, and an
        // eager checkpoint would pay a full right materialization every
        // build). Hydrate joins are pinned shuffle-hash exactly like
        // the pivot path's (misestimated broadcasts of table-sized
        // sides OOM'd the d=4 100x slice there).
        val rf = SpatialOps.spreadForCross(rt.filter(col(rVec).isNotNull))
          .withColumn("__graft_rrow", monotonically_increasing_id())
          .localCheckpoint(eager = false)
        val lNarrowCols = (Seq(lId, lVec) ++
          tieBreak.filter(l.columns.contains)).distinct
        val rNarrowCols = ("__graft_rrow" +: rVec +:
          tieBreak.filter(rt.columns.contains)).distinct
        val narrow = lf.select(lNarrowCols.map(col): _*)
          .crossJoin(rf.select(rNarrowCols.map(col): _*))
          .withColumn("__graft_d", l2Distance(col(lVec), col(rVec)))
          .select(col(lId) +: col("__graft_rrow") +: col("__graft_d") +:
            tieBreak.map(col): _*)
          .withColumn("__graft_rn", row_number().over(w0))
          .filter(col("__graft_rn") <= k)
          .select(col(lId), col("__graft_rrow"), col("__graft_d"))
        narrow
          .join(lf.hint("shuffle_hash"), Seq(lId))
          .join(rf.hint("shuffle_hash"), Seq("__graft_rrow"))
          .select((l.columns ++ rt.columns).map(col) :+ col("__graft_d").as("l2"): _*)
      }
      // empty left: the naive plan IS the correct empty result
      if (lS.isEmpty) return naivePlan(l)

      // theta and the admit-fraction gate from the 500x500 sample matrix
      val gateR = spread(rS)
      val sampleDists = gateL.map(a => gateR.map(b => l2(a, b)))
      val radii = sampleDists.map { ds0 =>
        val s = ds0.sorted
        math.max(s(math.min(k, s.length) - 1) * safety, 1e-9)
      }
      val kth = radii.sorted
      val theta = kth(math.min(kth.length - 1, (quantile * kth.length).toInt))

      // Approximate escape hatch behind the cost gate (conf-gated,
      // default off — the exactness contract holds unless the session
      // opts in): train an IVF coarse quantizer on the right SAMPLE
      // (driver Lloyd, farthest-point seeded — deterministic given the
      // sample), assign every right row to its nearest cell, probe the
      // `nprobe` nearest cells per LEFT row, and take the per-left
      // top-k among probed candidates. This is the at-scale answer for
      // isotropic embeddings where the admit-fraction gate would
      // otherwise hand a 100-TB join the quadratic cross plan: the
      // cell equi-join bounds candidates at ~nprobe/nlist of the right
      // side per left row, recall is governed by nprobe (spec-gated
      // >= 0.9 on clustered fixtures at the defaults).
      def approxIvfPlan(): DataFrame = {
        val s = l.sparkSession
        val nlist = math.min(graft.GraftConf.knnVecApproxNlist(s), rS.length)
        val nprobe = math.min(graft.GraftConf.knnVecApproxNprobe(s), nlist)
        val iters = graft.GraftConf.knnVecApproxIters(s)
        val dim = rS.head.length
        // driver Lloyd over a sample, farthest-point seeded —
        // deterministic given the sample; shared by both levels
        def lloyd(sample: Array[Array[Float]], k0: Int): Array[Array[Float]] = {
          if (sample.isEmpty) return Array(new Array[Float](dim))
          var centers: Array[Array[Float]] = SpatialOps
            .farthestPointPivots[Array[Float]](sample.toIndexedSeq, l2,
              math.min(k0, sample.length)).toArray
          for (_ <- 1 to iters) {
            val sums = Array.fill(centers.length)(new Array[Double](dim))
            val cnt = new Array[Long](centers.length)
            sample.foreach { v =>
              var best = 0; var bd = Double.MaxValue; var i = 0
              while (i < centers.length) {
                val d = l2(v, centers(i)); if (d < bd) { bd = d; best = i }; i += 1
              }
              cnt(best) += 1
              var j = 0; while (j < dim) { sums(best)(j) += v(j); j += 1 }
            }
            centers = centers.zipWithIndex.map { case (c, i) =>
              if (cnt(i) == 0L) c
              else Array.tabulate(dim)(j => (sums(i)(j) / cnt(i)).toFloat)
            }
          }
          centers
        }
        val w0 = org.apache.spark.sql.expressions.Window.partitionBy(col(lId))
          .orderBy((col("__graft_d") +: tieBreak.map(col)).map(_.asc): _*)
        // `lWithProbes` carries the probe set as an ARRAY column so
        // starved lefts are detectable BEFORE the inner cell join: a
        // left row whose probed cells are all empty of right rows would
        // otherwise silently vanish, while the exact verb returns k
        // neighbors for every non-null left row — flipping the conf
        // must change scores, never which KEYS appear. Starved lefts
        // (rare: a trained cell the full right side never populated)
        // take the exact cross plan — the grid kNN join's starved-
        // fallback discipline.
        //
        // The non-empty cell set comes to the DRIVER (≤nlist ints, one
        // bounded build-time job — the theta-sampling precedent) and
        // routes as a literal-array overlap filter. A broadcast
        // non-equi join here instead inlines the O(√nlist) probe
        // computation into the BNL join CONDITION — evaluated per
        // (row × cell) pair, it regressed the 10x slice 11 s -> 61 s.
        def joinCells(lWithProbes: DataFrame, rCelled: DataFrame): DataFrame = {
          val nonEmpty: Array[Int] = rCelled.select(col("__cell")).distinct()
            .collect().map(_.getInt(0))
          val neLit = lit(nonEmpty)
          val covered =
            lWithProbes.filter(arrays_overlap(col("__probes"), neLit))
          val starved =
            lWithProbes.filter(!arrays_overlap(col("__probes"), neLit))
              .drop("__probes")
          covered
            .withColumn("__cell", explode(col("__probes"))).drop("__probes")
            .join(rCelled, Seq("__cell"))
            .withColumn("__graft_d", l2Distance(col(lVec), col(rVec)))
            .withColumn("__graft_rn", row_number().over(w0))
            .filter(col("__graft_rn") <= k)
            .select((l.columns ++ rt.columns).map(col) :+ col("__graft_d").as("l2"): _*)
            .unionByName(naivePlan(starved))
        }

        if (nlist < 64) {
          // flat quantizer: one argmin over nlist literal centroids
          val centers = lloyd(rS, nlist)
          // null vectors can't rank (the naive plan drops them too)
          val rCelled = rt.filter(col(rVec).isNotNull)
            .withColumn("__rd",
              array(centers.indices.map(i => l2Distance(col(rVec), lit(centers(i)))): _*))
            .withColumn("__cell",
              (array_position(col("__rd"), array_min(col("__rd"))) - 1).cast("int"))
            .drop("__rd")
          val lDists = array(centers.indices.map(i =>
            struct(l2Distance(col(lVec), lit(centers(i))).as("d"),
              lit(i).as("i"))): _*)
          val lWithProbes = l.filter(col(lVec).isNotNull)
            .withColumn("__probes",
              transform(slice(array_sort(lDists), 1, nprobe),
                x => x.getField("i")))
          joinCells(lWithProbes, rCelled)
        } else {
          // TWO-LEVEL quantizer (the inverted-multi-index shape): a flat
          // argmin is O(nlist) PER ROW, and holding per-cell occupancy
          // constant at scale means nlist ∝ n — which turns assignment
          // itself quadratic (measured: exponent 1.44/decade at
          // nlist ∝ n). Routing through ~√nlist supercells and then that
          // supercell's ~√nlist children costs O(√nlist) per row: the
          // supercell branch is a lazily-evaluated CASE, so only the
          // matching child table is ever computed. Probing evaluates the
          // two nearest supercells' child tables and takes the nprobe
          // nearest children across them.
          val l1k = math.max(2, math.ceil(math.sqrt(nlist.toDouble)).toInt)
          val childK = math.max(1, math.ceil(nlist.toDouble / l1k).toInt)
          val sup = lloyd(rS, l1k)
          val members = Array.fill(sup.length)(
            scala.collection.mutable.ArrayBuffer[Array[Float]]())
          rS.foreach { v =>
            var best = 0; var bd = Double.MaxValue; var i = 0
            while (i < sup.length) {
              val d = l2(v, sup(i)); if (d < bd) { bd = d; best = i }; i += 1
            }
            members(best) += v
          }
          val kids: Array[Array[Array[Float]]] = sup.indices.map { i =>
            if (members(i).isEmpty) Array(sup(i))
            else lloyd(members(i).toArray, childK)
          }.toArray
          // super/child codebooks ride as REFERENCE OBJECTS inside two
          // compiled kernels (assignment and probe-set). The previous
          // shape carried them as an O(nlist·dim) data literal plus
          // per-supercell expression columns — one copy was plannable,
          // but PushProjectionThroughUnion replicates the projection
          // into EVERY leg of a many-leg union input (the 100x trend's
          // 100-replica table, or any real multi-source union), and the
          // duplicated literals produced multi-GB explain strings that
          // OOM'd the driver before a single task ran (r12 planning-
          // bomb rule: literal matrices in plans stay O(100) elements).
          // Kernels also COMPILE the child scan, which the HOF fold
          // evaluated interpreted (ArrayTransform is CodegenFallback).
          // Arithmetic and tie-breaks replicate the literal form
          // bit-for-bit (see VectorKernels.twoLevel*F); fewer than two
          // supercells yields a null probe set -> the starved/naive
          // path, the literal form's element_at(...,2) null cascade.
          val rCelled = rt.filter(col(rVec).isNotNull)
            .withColumn("__cell",
              graft.functions.twoLevelAssignF(col(rVec), sup, kids, childK))
          val lWithProbes = l.filter(col(lVec).isNotNull)
            .withColumn("__probes",
              graft.functions.twoLevelProbesF(col(lVec), sup, kids, childK,
                nprobe))
          joinCells(lWithProbes, rCelled)
        }
      }

      // cost gate against the curse of dimensionality: when distances
      // concentrate (isotropic high-d data), theta admits most of the
      // right side and pivot pruning cannot beat the plain cross-window
      // plan — detect that from the sample and take the cheaper plan
      // (exact cross by default; the conf-gated IVF probe when the
      // session accepts approximate results)
      val admitFrac =
        if (sampleDists.isEmpty) 1.0
        else sampleDists.iterator.map(ds0 => ds0.count(_ <= theta)).sum.toDouble /
          (sampleDists.length.toLong * gateR.length)
      if (admitFrac > 0.25) {
        return if (graft.GraftConf.knnVecApprox(l.sparkSession)) approxIvfPlan()
        else naivePlan(l)
      }

      // farthest-point pivots from the already-collected right sample:
      // spread over the embedding space, so a dense near-dup cluster
      // doesn't monopolize every pivot (same rationale as the spatial
      // pivot join under density skew)
      val pivots0 = SpatialOps.farthestPointPivots[Array[Float]](
        gateR.toIndexedSeq, l2, numPivots)
      // cost-aware refinement (see SpatialOps.refinePivots): a near-dup
      // embedding cluster otherwise collects 1-2 pivots and its cell's
      // equi-join degenerates toward the cluster's cross product; codegen
      // is O(1) in pivot count, so the extra pivots cost nothing to plan
      val pivots = SpatialOps.refinePivots[Array[Float]](
        gateL.toIndexedSeq, radii, gateR.toIndexedSeq, l2, pivots0,
        maxPivots = 2 * numPivots, quantile = quantile, theta = theta).toArray
      // per-pivot-cell theta from the same sample — the skew discipline
      // of the spatial joins: a dense cluster of embeddings (near-dup
      // corpus) must filter at its own radius, not the global quantile's
      val nearestPivot = (v: Array[Float]) =>
        pivots.indices.minBy(i => l2(v, pivots(i))) + 1
      // minSamples = 8: pivot cells are extent-sized — see perCellQuantile
      val cellThetas = SpatialOps.perCellQuantile(
        gateL.map(nearestPivot), radii, quantile, theta, minSamples = 8)
      // same machinery as the spatial Voronoi join — only the vector
      // columns differ (keeps the two variants in lockstep); pivots ride
      // in flattened as one reference object inside the compiled argmin/
      // admission kernels (float->double is exact, so the kernel's
      // arithmetic equals l2F's bit-for-bit)
      val dim = pivots.head.length
      val outCols = (l.columns ++ rt.columns).map(col) :+ col("__graft_d").as("l2")
      SpatialOps.pivotCellKnn(l, rt, col(lVec), col(rVec),
        pivotsFlat = pivots.flatMap(_.map(_.toDouble)), dim = dim, vecIsFloat = true,
        numPivots = pivots.length, theta = theta,
        exactDist = l2Distance(col(lVec), col(rVec)),
        lId = lId, k = k, tieBreak = tieBreak, outCols = outCols,
        rescue = SpatialOps.rescueStarved(_, rt, col(lVec), col(rVec), dim,
          vecIsFloat = true, gateL.map(_.map(_.toDouble)), rStats.kth,
          l2Distance(col(lVec), col(rVec)), lId, k, tieBreak, outCols),
        cellThetas = cellThetas)
    }

    /** Exact all-pairs similarity join (cosine >= threshold) against
      * `right`. Cross product + codegen'd kernel filter; correct at any
      * threshold, quadratic by nature — the oracle/baseline path. Spark
      * broadcasts the smaller side (BroadcastNestedLoopJoin).
      *
      * The norms are hoisted to one pass per ROW (each side's projection
      * sits below the join), so the n^2 loop pays only the dot product —
      * 1/3 of cosineF's per-pair arithmetic. `dot / (normL * normR)` is
      * the SAME computation graph as cosineF (identical accumulation
      * order, identical zero-denominator guard), so results stay
      * bit-identical to the per-pair kernel and the DuckDB oracle. */
    def similarityJoinExact(right: Dataset[_], lVec: String, rVec: String,
                            lId: String, rId: String,
                            threshold: Double): DataFrame = {
      val l = SpatialOps.spreadForCross(ds.toDF.select(col(lId), col(lVec)))
        .withColumn("__lnorm", vectorNorm(col(lVec)))
      val r = SpatialOps.spreadForCross(
          right.toDF.select(col(rId).as("__rid"), col(rVec).as("__rvec")))
        .withColumn("__rnorm", vectorNorm(col("__rvec")))
      val denom = col("__lnorm") * col("__rnorm")
      l.crossJoin(r)
        .withColumn("cos", when(denom === 0.0, lit(0.0))
          .otherwise(dotProduct(col(lVec), col("__rvec")) / denom))
        .filter(col("cos") >= threshold)
        .select(col(lId), col("__rid").as(rId), col("cos"))
    }

    /** Deterministic distributed Lloyd's k-means over the embedding
      * column, returning one `(id, cluster)` row per input row.
      *
      * Engineered so the WHOLE iteration — seeds, assignments, centroid
      * updates — replays bit-exactly in any engine with 64-bit integer
      * and IEEE double arithmetic, independent of partitioning:
      *
      *  - vectors are quantized once to exact integers
      *    (`floor(x * scale)` as BIGINT), so the per-cluster centroid
      *    SUM is integer arithmetic — associative and commutative, hence
      *    order- and partition-independent, unlike a double sum whose
      *    last bits depend on accumulation order;
      *  - centroids are `intSum / count` in double — one exact IEEE
      *    division of exact inputs;
      *  - seeds are the `k` rows minimizing the Knuth multiplicative
      *    hash of the id (same replayable choice as the IVF coarse
      *    quantizer above); cluster ids are 0-based in that seed order;
      *  - assignment is argmin of squared L2 to a LITERAL centroid
      *    array, ties to the lowest cluster id (`array_position` of the
      *    array min takes the first occurrence) — a pure codegen'd
      *    expression, no join, no shuffle;
      *  - distances fold dimensions left-to-right from 0.0, the proven
      *    `list_sum(list_transform(...))` parity shape of the cosine /
      *    L2 oracles in queries.Pipeline.
      *
      * 100-TB shape: each iteration is one scan + one aggregation whose
      * map-side partial combine collapses the shuffle to
      * `k * dim * tasks` rows; driver state is `k * dim` longs; the
      * assignment expression broadcasts with the plan. `cache` persists
      * the quantized projection across the `iters + 1` passes
      * (MEMORY_AND_DISK — at corpus scale leave it off and let the
      * scans stream from parquet, or persist a sampled training slice).
      * The argmin rides a LITERAL centroid array (`k * dim` constants
      * in the plan): right up to a few hundred centroids — past
      * Janino's method limits whole-stage codegen falls back to
      * interpreted evaluation, correct but slower (spec-pinned at
      * k=96). A SemDeDup run wanting 10^4+ clusters should assign
      * hierarchically: train a coarse level (<= ~256 cells) with this
      * operator, then per-cell sub-centers on each cell's partition —
      * the two-level IVF discipline.
      * Overflow headroom: |q_i| <= scale * max|x_i|, so a dimension's
      * sum stays inside a signed 64-bit long for ~10^12 rows at
      * `scale`=2^16 and |x| <= 100.
      *
      * Reference analogue: the IVF quantizer's cell structure
      * (`/root/reference` has no clustering op; this is pipeline
      * surface, SemDeDup-style curation needs it). */
    def meanPoolEmbeddings(groupCol: String, vecCol: String): DataFrame = {
      // chunk -> document embedding pooling: the per-group elementwise
      // mean of an embedding column — the aggregation every
      // chunked-embedding pipeline runs before doc-level search.
      // Values quantize to floor(x * 2^16) longs first (the
      // kmeansAssign discipline): the sums are EXACT integers, so the
      // result is bit-identical under any partitioning AND in any
      // replaying engine — a float sum is order-dependent and a
      // float->decimal cast rounds with engine-specific tie modes
      // (measured: 1-ulp oracle misses at the 6th digit). Cost of the
      // discipline: <= 2^-16 per-chunk quantization error, the same
      // trade kmeansAssign documents. ONE (group, position)
      // partial-combined shuffle, then per-group reassembly sorted by
      // position; state = groups x dim keys. Ragged chunks pool
      // per-position over the chunks that HAVE that position
      // (n_chunks reports the max). Output:
      // (group, n_chunks, pooled array<double>).
      val scale = 65536.0
      ds.toDF
        .select(col(groupCol), posexplode(col(vecCol)).as(Seq("__p", "__x")))
        .groupBy(col(groupCol), col("__p"))
        .agg(sum(floor(col("__x").cast("double") * scale).cast("long")).as("__s"),
          count(lit(1)).as("__n"))
        .groupBy(col(groupCol))
        .agg(
          max(col("__n")).as("n_chunks"),
          transform(
            array_sort(collect_list(struct(col("__p"), col("__s"), col("__n")))),
            e => e.getField("__s").cast("double") /
              (e.getField("__n").cast("double") * scale))
            .as("pooled"))
        .select(col(groupCol), col("n_chunks"), col("pooled"))
    }

    def kmeansAssign(vecCol: String, idCol: String, k: Int, iters: Int = 2,
                     seed: Long = 42L, scale: Double = 65536.0,
                     cache: Boolean = true): DataFrame = {
      require(k >= 1 && iters >= 0)
      val df = ds.toDF
      val base0 = VectorOps.quantizedBase(df, vecCol, idCol, scale, keepVec = false)
      val base =
        if (cache && iters > 0)
          base0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else base0
      VectorOps.lloydTrain(base, idCol, k, iters, seed) match {
        // empty input returns the empty assignment frame
        case None => df.select(col(idCol), lit(0).as("cluster")).limit(0)
        case Some(centers) =>
          VectorOps.withCell(base, centers)
            .select(col(idCol), col("__c").as("cluster"))
      }
    }

    /** Train-once centroids for external reuse — the other half of the
      * periodic-retrain / online-assign production split (see
      * [[assignClusters]]). Same arithmetic as [[kmeansAssign]]; empty
      * input trains to an empty centroid set. */
    def kmeansCenters(vecCol: String, idCol: String, k: Int, iters: Int = 2,
                      seed: Long = 42L, scale: Double = 65536.0): Array[Array[Double]] =
      VectorOps.lloydTrain(
        VectorOps.quantizedBase(ds.toDF, vecCol, idCol, scale, keepVec = false),
        idCol, k, iters, seed).getOrElse(Array.empty)

    /** Stateless argmin assignment of this dataset's vectors to FIXED
      * centroids — one codegen'd projection, no shuffle, no state, so
      * it composes over Structured Streaming unchanged: train
      * [[kmeansCenters]] on a batch snapshot, assign arriving vectors
      * online to the same cells the batch pipeline would (the
      * SemDeDup-at-ingest shape). */
    def assignClusters(vecCol: String, idCol: String,
                       centers: Array[Array[Double]],
                       scale: Double = 65536.0): DataFrame = {
      require(centers.nonEmpty, "assignClusters: empty centroid set")
      VectorOps.withCell(
        VectorOps.quantizedBase(ds.toDF, vecCol, idCol, scale, keepVec = false),
        centers).select(col(idCol), col("__c").as("cluster"))
    }

    /** ANN with a TRAINED coarse quantizer: the Lloyd's centroids of
      * [[kmeansAssign]] replace [[cosineTopKIvf]]'s hash-sampled ones —
      * cells follow the data's actual cluster structure, so a probe
      * covers the query's true neighborhood with fewer cells (classic
      * IVF training). Cell assignment and probe choice are both argmin
      * squared-L2 over the quantized vectors (consistent with
      * training); the final ranking inside probed cells is exact
      * cosine. Because the training replays exactly (the kmeansAssign
      * contract), the WHOLE index — centroids, cells, probes, result —
      * is engine-replayable, unlike the sketch-based ANN variants. */
    def cosineTopKIvfTrained(vecCol: String, idCol: String, query: Array[Float],
                             k: Int, nlist: Int = 8, nprobe: Int = 2,
                             iters: Int = 2, seed: Long = 42L,
                             scale: Double = 65536.0): DataFrame = {
      require(nlist >= 1 && nprobe >= 1)
      val df = ds.toDF
      val base = VectorOps.quantizedBase(df, vecCol, idCol, scale, keepVec = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      VectorOps.lloydTrain(base, idCol, nlist, iters, seed) match {
        case None =>
          df.withColumn("cos", lit(0.0)).select(col(idCol), col("cos")).limit(0)
        case Some(centers) =>
          // the query quantizes through the SAME floor(x*scale) map and
          // probes by the same fixed-order L2 fold the oracle replays
          val qq = query.map(x => math.floor(x.toDouble * scale))
          def l2sq(c: Array[Double]): Double = {
            var s = 0.0; var i = 0
            while (i < qq.length) { val d = qq(i) - c(i); s += d * d; i += 1 }
            s
          }
          val probes = centers.indices.sortBy(i => (l2sq(centers(i)), i)).take(nprobe)
          VectorOps.withCell(base, centers)
            .filter(col("__c").isin(probes: _*))
            .withColumn("cos", cosineSimilarity(col(vecCol), lit(query)))
            .orderBy(col("cos").desc, col(idCol).asc)
            .limit(k)
            .select(col(idCol), col("cos"))
      }
    }

    /** ANN by product quantization (the IVF-PQ compression half):
      * vectors split into `m` subspaces, each with its own
      * `ksub`-center Lloyd codebook ([[VectorOps.pqTrain]] — the
      * [[kmeansAssign]] arithmetic restricted to the slice), so a
      * vector stores as `m` small codes instead of `dim` floats — the
      * classic memory-compressed index (a 64-dim float vector becomes
      * 4 bytes at m=4). Query-time scoring is asymmetric distance
      * computation: the query builds one `m x ksub` lookup table of
      * exact subspace distances on the driver, and every candidate's
      * approximate distance is `m` literal-array lookups summed — a
      * shuffle-free codegen'd projection feeding TakeOrderedAndProject,
      * no join, no vector reads. The best `refine` candidates are
      * re-ranked by exact cosine (vectors touched only for those).
      *
      * At 100 TB: train on a sample, encode once (write codes beside
      * ids), score the code table; compose with the IVF cell filter
      * ([[cosineTopKIvfTrained]]) to prune before scoring. Recall is
      * governed by m/ksub/refine; precision of the returned ranking is
      * exact (re-rank). Deterministic end to end — quantized training
      * replays exactly, ADC tables are exact driver doubles, ties
      * break to the lowest id — so the WHOLE index is engine-replayable
      * and hash-oracle-able, like the trained IVF. */
    def cosineTopKPq(vecCol: String, idCol: String, query: Array[Float],
                     k: Int, m: Int = 4, ksub: Int = 4, refine: Int = 50,
                     iters: Int = 2, seed: Long = 42L,
                     scale: Double = 65536.0): DataFrame = {
      require(m >= 1 && ksub >= 1 && refine >= k && iters >= 0)
      require(query.length % m == 0, s"pq: dim ${query.length} not divisible by m=$m")
      val subDim = query.length / m
      val df = ds.toDF
      val base = VectorOps.quantizedBase(df, vecCol, idCol, scale, keepVec = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      VectorOps.pqTrain(base, idCol, m, ksub, iters, seed) match {
        case None =>
          df.withColumn("cos", lit(0.0)).select(col(idCol), col("cos")).limit(0)
        case Some(books) =>
          // ADC tables: exact driver doubles over the SAME quantized map
          // the codes trained on, sequential fold (the oracle's list_sum)
          val qq = query.map(x => math.floor(x.toDouble * scale))
          val tables: Array[Array[Double]] = Array.tabulate(m) { s =>
            books(s).map { c =>
              var acc = 0.0; var j = 0
              while (j < subDim) {
                val d = qq(s * subDim + j) - c(j); acc += d * d; j += 1
              }
              acc
            }
          }
          val adc = (0 until m).map { s =>
            element_at(array(tables(s).map(lit).toIndexedSeq: _*), col(s"__pqc$s") + 1)
          }.reduce(_ + _)
          VectorOps.withPqCodes(base, books, subDim)
            .withColumn("__adc", adc)
            .orderBy(col("__adc").asc, col(idCol).asc)
            .limit(refine)
            .withColumn("cos", cosineSimilarity(col(vecCol), lit(query)))
            .orderBy(col("cos").desc, col(idCol).asc)
            .limit(k)
            .select(col(idCol), col("cos"))
      }
    }

    /** Composed IVF-PQ ANN — the canonical billion-scale index shape
      * (inverted cell lists prune WHICH vectors are scored, product
      * quantization compresses HOW they are scored): the trained
      * coarse quantizer of [[cosineTopKIvfTrained]] keeps only the
      * `nprobe` cells nearest the query, then [[cosineTopKPq]]'s ADC
      * lookup tables rank the survivors without touching a float
      * vector, and the best `refine` pay the exact cosine. The PQ
      * codebooks quantize RAW vectors by default; `residual = true`
      * switches to the FAISS IVF-PQ form — codebooks train on each
      * vector's difference from its (integer-quantized) coarse
      * centroid, and the query builds one ADC table PER PROBED CELL
      * from its per-cell residual. Residuals are a much tighter
      * distribution than raw vectors (the coarse quantizer has already
      * absorbed cluster position), so ADC error shrinks at equal codes
      * and `refine` can too — and at 100 TB the refine set's raw-vector
      * reads ARE the memory bill, so equal recall at smaller refine is
      * the point (spec-gated on clustered fixtures). Cost:
      * nprobe*m*ksub driver-double table literals instead of m*ksub
      * (still tiny), plus one codegen'd zip_with subtraction against a
      * literal centroid matrix — exact long arithmetic, so training
      * stays engine-replayable in either mode.
      *
      * At 100 TB: cells bound the scan (directory-pruned like
      * [[writeIvf]]), codes bound the bytes per scored row, refine
      * bounds the exact work — each knob caps one resource. Both
      * trainings and both scoring phases are the proven engine-replay
      * arithmetic, so the whole composed index hash-oracles. */
    def cosineTopKIvfPq(vecCol: String, idCol: String, query: Array[Float],
                        k: Int, nlist: Int = 8, nprobe: Int = 2,
                        m: Int = 4, ksub: Int = 4, refine: Int = 50,
                        iters: Int = 2, seed: Long = 42L,
                        scale: Double = 65536.0,
                        residual: Boolean = false): DataFrame = {
      require(nlist >= 1 && nprobe >= 1 && m >= 1 && ksub >= 1 &&
        refine >= k && iters >= 0)
      require(query.length % m == 0, s"pq: dim ${query.length} not divisible by m=$m")
      val subDim = query.length / m
      val df = ds.toDF
      def emptyOut: DataFrame =
        df.withColumn("cos", lit(0.0)).select(col(idCol), col("cos")).limit(0)
      val base = VectorOps.quantizedBase(df, vecCol, idCol, scale, keepVec = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      VectorOps.lloydTrain(base, idCol, nlist, iters, seed) match {
        case None => emptyOut
        case Some(coarse) =>
          val qq = query.map(x => math.floor(x.toDouble * scale))
          def l2sq(c: Array[Double]): Double = {
            var s = 0.0; var i = 0
            while (i < qq.length) { val d = qq(i) - c(i); s += d * d; i += 1 }
            s
          }
          val probes = coarse.indices.sortBy(i => (l2sq(coarse(i)), i)).take(nprobe)
          val celled = VectorOps.withCell(base, coarse)
          // residual mode: centroids floor to the integer grid so the
          // residual stays an exact long vector and pqTrain's long-sum
          // engine-replay contract holds unchanged on it
          val centerQ: Array[Array[Long]] =
            if (residual) coarse.map(_.map(v => math.floor(v).toLong)) else null
          val codesInput =
            if (residual)
              celled.withColumn("__qv", graft.functions.centroidShiftL(
                col("__qv"), col("__c").cast("int"), centerQ))
            else celled
          VectorOps.pqTrain(codesInput, idCol, m, ksub, iters, seed) match {
            case None => emptyOut
            case Some(books) =>
              val adc =
                if (!residual) {
                  val tables: Array[Array[Double]] = Array.tabulate(m) { s =>
                    books(s).map { c =>
                      var acc = 0.0; var j = 0
                      while (j < subDim) {
                        val d = qq(s * subDim + j) - c(j); acc += d * d; j += 1
                      }
                      acc
                    }
                  }
                  (0 until m).map { s =>
                    element_at(array(tables(s).map(lit).toIndexedSeq: _*),
                      col(s"__pqc$s") + 1)
                  }.reduce(_ + _)
                } else {
                  // one ADC table per probed cell, from the query's
                  // residual against THAT cell's quantized centroid
                  coalesce(probes.map { c =>
                    val tabs: Array[Array[Double]] = Array.tabulate(m) { s =>
                      books(s).map { cen =>
                        var acc = 0.0; var j = 0
                        while (j < subDim) {
                          val d = (qq(s * subDim + j) -
                            centerQ(c)(s * subDim + j)) - cen(j)
                          acc += d * d; j += 1
                        }
                        acc
                      }
                    }
                    when(col("__c") === c, (0 until m).map { s =>
                      element_at(array(tabs(s).map(lit).toIndexedSeq: _*),
                        col(s"__pqc$s") + 1)
                    }.reduce(_ + _))
                  }: _*)
                }
              val probed = codesInput.filter(col("__c").isin(probes: _*))
              VectorOps.withPqCodes(probed, books, subDim)
                .withColumn("__adc", adc)
                .orderBy(col("__adc").asc, col(idCol).asc)
                .limit(refine)
                .withColumn("cos", cosineSimilarity(col(vecCol), lit(query)))
                .orderBy(col("cos").desc, col(idCol).asc)
                .limit(k)
                .select(col(idCol), col("cos"))
          }
      }
    }

    /** SemDeDup-style semantic near-duplicate pairs: k-means clusters
      * block the candidate space (the [[kmeansAssign]] partition), then
      * only within-cluster pairs pay the exact cosine verify at
      * `threshold`. The classic curation recipe for pruning semantically
      * redundant training documents — near-dups land in one cluster with
      * high probability, so the quadratic term is per-cluster, bounded
      * by the largest cluster, never the corpus. Deterministic end to
      * end (clustering replays exactly; cosine is the bit-parity
      * kernel), so the result is hash-oracle-able. Vectors join back
      * onto the candidate pairs by id — they never ride the cluster
      * self-join. */
    def semanticDedupPairs(vecCol: String, idCol: String, k: Int,
                           threshold: Double, iters: Int = 2,
                           seed: Long = 42L): DataFrame = {
      val assign = kmeansAssign(vecCol, idCol, k, iters, seed)
      val a = assign.select(col(idCol).as("id1"), col("cluster"))
      val b = assign.select(col(idCol).as("id2"), col("cluster"))
      val pairs = a.join(b, Seq("cluster")).filter(col("id1") < col("id2"))
      val v1 = ds.toDF.select(col(idCol).as("id1"), col(vecCol).as("__v1"))
      val v2 = ds.toDF.select(col(idCol).as("id2"), col(vecCol).as("__v2"))
      pairs.join(v1, Seq("id1")).join(v2, Seq("id2"))
        .withColumn("cos", cosineSimilarity(col("__v1"), col("__v2")))
        .filter(col("cos") >= threshold)
        .select(col("cluster"), col("id1"), col("id2"), col("cos"))
    }

    /** Embedding-level benchmark decontamination: corpus documents
      * (this dataset) whose embeddings are near-duplicates of an eval
      * set's — the semantic sibling of the n-gram
      * [[DedupOps.contaminationPairs]] sweep, catching paraphrased or
      * reformatted contamination that shares no exact n-grams.
      *
      * Shape: both sides sketch once (random-hyperplane, codegen'd);
      * candidates are a band/key equi-join of (id, band, key) triples
      * with the EVAL side broadcast (eval sets are benchmark-sized, the
      * corpus never shuffles); vectors join back onto the deduped
      * candidate pairs by id for the exact cosine verify — precision is
      * exact, recall is the LSH bands'. Emits
      * (`idCol`, `evalId`, cos >= threshold). */
    def semanticContaminationAgainst(eval_ : Dataset[_], vecCol: String,
                                     idCol: String, evalVec: String,
                                     evalId: String, threshold: Double = 0.9,
                                     planes: Int = 16, bandBits: Int = 4,
                                     seed: Long = 42L): DataFrame = {
      require(planes % bandBits == 0)
      val bands = planes / bandBits
      val mask = (1L << bandBits) - 1
      def banded(df: DataFrame, vc: String, ic: String, out: String): DataFrame = {
        val sk = hyperplaneSketch(col(vc), planes, seed)
        val bandStructs = (0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(sk, b * bandBits).bitwiseAND(lit(mask)).as("key"))
        }
        df.select(col(ic).as(out), explode(array(bandStructs: _*)).as("__b"))
          .select(col(out), col("__b.band").as("__band"), col("__b.key").as("__key"))
      }
      val corpusB = banded(ds.toDF, vecCol, idCol, "__cid")
      val evalB = banded(eval_.toDF, evalVec, evalId, "__eid")
      val pairs = corpusB.join(broadcast(evalB), Seq("__band", "__key"))
        .select(col("__cid"), col("__eid")).distinct()
      val cv = ds.toDF.select(col(idCol).as("__cid"), col(vecCol).as("__v1"))
      val ev = eval_.toDF.select(col(evalId).as("__eid"), col(evalVec).as("__v2"))
      pairs.join(cv, Seq("__cid")).join(broadcast(ev), Seq("__eid"))
        .withColumn("cos", cosineSimilarity(col("__v1"), col("__v2")))
        .filter(col("cos") >= threshold)
        .select(col("__cid").as(idCol), col("__eid").as(evalId), col("cos"))
    }

    /** LSH-blocked near-duplicate pairs within this dataset:
      * sketch-band equi-join -> exact cosine verify at `threshold`.
      * Linear-ish in data size for high thresholds (near-dup regime). */
    def embeddingNearDupPairs(vecCol: String, idCol: String,
                              threshold: Double = 0.9, planes: Int = 16,
                              bandBits: Int = 4, seed: Long = 42L): DataFrame = {
      require(planes % bandBits == 0)
      val bands = planes / bandBits
      val mask = (1L << bandBits) - 1
      val doc = ds.toDF.select(col(idCol), col(vecCol))
        .withColumn("__sk", hyperplaneSketch(col(vecCol), planes, seed))
      val bandStructs = (0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("__sk"), b * bandBits).bitwiseAND(lit(mask)).as("key"))
      }
      // candidates touch only (id, band, key); vectors join back onto the
      // deduped pairs for the exact verify (never ride the banded join)
      val banded = doc
        .select(col(idCol), explode(array(bandStructs: _*)).as("__b"))
        .select(col(idCol),
          col("__b.band").as("__band"), col("__b.key").as("__key"))
      val l = banded.select(col(idCol).as("id1"), col("__band"), col("__key"))
      val r = banded.select(col(idCol).as("id2"), col("__band"), col("__key"))
      val pairs = l.join(r, Seq("__band", "__key"))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"))
        .distinct()
      val v1 = ds.toDF.select(col(idCol).as("id1"), col(vecCol).as("__v1"))
      val v2 = ds.toDF.select(col(idCol).as("id2"), col(vecCol).as("__v2"))
      pairs.join(v1, Seq("id1")).join(v2, Seq("id2"))
        .withColumn("cos", cosineSimilarity(col("__v1"), col("__v2")))
        .filter(col("cos") >= threshold)
        .select(col("id1"), col("id2"), col("cos"))
    }

    /** Dominant principal direction of the (uncentered) second-moment
      * matrix — the leading PCA axis embedding pipelines use for
      * whitening, anisotropy diagnostics ("is the embedding space
      * collapsing?"), and 1-D coarse ordering. Deterministic and
      * engine-replayable end to end, the [[kmeansCenters]] discipline:
      *
      *  1. vectors quantize to longs (`floor(x·scale)` — exactly the
      *     shared Lloyd's quantization), so the Gram matrix is a sum
      *     of exact integers: order- and partition-independent.
      *  2. ONE scan computes the upper-triangle Gram — each row emits
      *     its d(d+1)/2 index pairs, the groupBy partial-aggregates
      *     map-side, so the shuffle carries ~d²/2·tasks rows no matter
      *     the corpus (the per-row O(d²) products are inherent to a
      *     Gram matrix; nothing here is quadratic in ROWS).
      *  3. `iters` fixed power-iteration rounds on the driver
      *     (O(d²·iters) on a d×d matrix), every fold in pinned index
      *     order from 0.0, starting from the all-ones vector —
      *     an unrolled-CTE SQL replay computes bit-identical doubles.
      *
      * Fixed iteration count, not convergence-tested: determinism and
      * replay come first; 8 rounds separate any dominant eigenvalue
      * with a visible spectral gap, and callers can raise `iters`.
      * Returns the (unit) direction; all-zero input yields the zero
      * vector. */
    def principalDirection(vecCol: String, scale: Double = 65536.0,
                           iters: Int = 8): Array[Double] =
      principalDirections(vecCol, 1, scale, iters).headOption
        .getOrElse(Array.empty)

    /** Top-`k` principal directions by power iteration WITH deflation:
      * after each direction `v` converges, the matrix sheds its
      * component (`G ← G − λ·v·vᵀ`, `λ = vᵀ(Gv)` via the same pinned
      * folds), so the next round finds the next axis. Every arithmetic
      * step — matvec in b-order, norm in a-order, `λ·v(a)·v(b)`
      * left-associated — is part of the replay contract; the oracle's
      * deflation CTEs compute bit-identical doubles. Degenerate
      * (all-zero) remainders yield zero vectors. */
    def principalDirections(vecCol: String, k: Int,
                            scale: Double = 65536.0,
                            iters: Int = 8): Array[Array[Double]] = {
      require(k >= 1, s"k must be >= 1, got $k")
      require(iters >= 1, s"iters must be >= 1, got $iters")
      val q = ds.toDF.select(
        transform(col(vecCol),
          x => floor(x.cast("double") * scale).cast("long")).as("__qv"))
      val gRows = q
        .select(posexplode(col("__qv")).as(Seq("__a", "__qa")),
          col("__qv").as("__v2"))
        .select(col("__a"), col("__qa"),
          posexplode(col("__v2")).as(Seq("__b", "__qb")))
        .filter(col("__b") >= col("__a"))
        .groupBy(col("__a"), col("__b"))
        .agg(sum(col("__qa").cast(org.apache.spark.sql.types.DecimalType(38, 0))
          * col("__qb")).as("__g"))
        .collect()
      if (gRows.isEmpty) return Array.empty
      val d = gRows.iterator.map(_.getInt(1)).max + 1
      val g = Array.ofDim[Double](d, d)
      gRows.foreach { r =>
        val a = r.getInt(0); val b = r.getInt(1)
        val v = r.getDecimal(2).doubleValue() // exact int, correctly rounded
        g(a)(b) = v; g(b)(a) = v
      }
      def matvec(v: Array[Double]): Array[Double] = Array.tabulate(d) { a =>
        var acc = 0.0; var b = 0
        while (b < d) { acc += g(a)(b) * v(b); b += 1 }
        acc
      }
      val dirs = Array.newBuilder[Array[Double]]
      var c = 0
      while (c < k) {
        var v = Array.fill(d)(1.0)
        var degenerate = false
        var it = 0
        while (it < iters && !degenerate) {
          val m = matvec(v)
          var n2 = 0.0; var a = 0
          while (a < d) { n2 += m(a) * m(a); a += 1 }
          val nrm = math.sqrt(n2)
          if (nrm == 0.0) { degenerate = true; v = Array.fill(d)(0.0) }
          else v = m.map(_ / nrm)
          it += 1
        }
        dirs += v
        if (!degenerate) {
          val m = matvec(v)
          var lam = 0.0; var a = 0
          while (a < d) { lam += v(a) * m(a); a += 1 }
          var i = 0
          while (i < d) {
            var j = 0
            while (j < d) { g(i)(j) = g(i)(j) - lam * v(i) * v(j); j += 1 }
            i += 1
          }
        }
        c += 1
      }
      dirs.result()
    }

    /** Stateless projection of each vector onto a FIXED direction —
      * one shuffle-free fold per row (the [[sqDistToCenter]] parity
      * shape: 0.0 seed, index order), so it composes over Structured
      * Streaming unchanged: train [[principalDirection]] offline,
      * score online. Returns `(id, pc1)`. */
    def projectOnto(vecCol: String, idCol: String,
                    direction: Array[Double]): DataFrame = {
      require(direction.nonEmpty, "direction must be non-empty")
      ds.toDF.select(col(idCol),
        VectorOps.foldScore(ds.toDF, vecCol, direction).as("pc1"))
    }

    /** [[principalDirection]] + [[projectOnto]] in one call:
      * `(id, pc1)` along the corpus's leading axis. */
    def principalComponent(vecCol: String, idCol: String,
                           scale: Double = 65536.0,
                           iters: Int = 8): DataFrame =
      projectOnto(vecCol, idCol, principalDirection(vecCol, scale, iters))

    /** Top-`k` PCA scores in one shuffle-free projection:
      * `(id, pc1, …, pck)` — [[principalDirections]] trained once,
      * then one pinned fold per component per row. */
    def principalComponents(vecCol: String, idCol: String, k: Int = 2,
                            scale: Double = 65536.0,
                            iters: Int = 8): DataFrame = {
      val dirs = principalDirections(vecCol, k, scale, iters)
      require(dirs.nonEmpty, "principalComponents on an empty dataset")
      val scoreCols = dirs.zipWithIndex.map { case (dir, i) =>
        VectorOps.foldScore(ds.toDF, vecCol, dir).as(s"pc${i + 1}")
      }
      ds.toDF.select((col(idCol) +: scoreCols.toIndexedSeq): _*)
    }
  }
}
