package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{inBox, inCircle, quantize, zorder, zorderCells}
import graft.operators.SpatialOps
import graft.spatial.ZValue

/** The AT-REST spatial layout — the disk sibling of the in-memory
  * z-order index (and the spatial twin of the IVF-disk ANN layout):
  * rows land in the parquet directory of their COARSE Morton cell and
  * are z-sorted WITHIN each directory, so a box/circle query
  *
  *  1. prunes non-intersecting cell directories at the filesystem level
  *     (`PartitionFilters` on `__graft_cell` — never opened, never read),
  *  2. prunes row groups inside surviving directories via min/max stats
  *     on the fine z key (the covering-interval pre-filter), and
  *  3. re-applies the exact predicate to the survivors.
  *
  * Write once, query many, no session registry and no cache fill: the
  * 100-TB shape where the table cannot live in memory and a query must
  * touch only the data it needs. Unlike
  * [[IndexManager.persistIndex]]/`loadIndex` (which rehydrate the
  * whole table into a cached in-memory index), queries here read
  * DIRECTLY from the layout.
  *
  * Layout: `$path/data` (cell-partitioned parquet, fine z column
  * `__graft_z`, write token `__graft_token`) + `$path/meta` (tagged
  * text lines: key columns, quantization bounds, bit widths, token).
  * Data and meta are two independent writes, so both carry one per-write
  * token and readers refuse a mismatched pair (the writeIvfPq
  * discipline) — stale bounds against fresh cells would route queries
  * to the wrong directories and silently drop matches.
  */
object SpatialDisk {

  private val CellCol = "__graft_cell"
  private val ZCol = "__graft_z"
  private val TokenCol = "__graft_token"
  private val TombIdCol = "__graft_tomb_id"
  private val TombCellCol = "__graft_tomb_cell"

  /** Driver-side FileSystem metadata calls issued by [[prunedScan]]'s
    * pruning layer since JVM start — observability for the "one
    * listing, never one probe per candidate cell" contract. Shared with
    * the vector layouts via [[PrunedCellScan]]. */
  private[graft] def pruneFsCalls = PrunedCellScan.fsCalls

  /** Explicit directory paths the last [[prunedScan]] handed the
    * reader (-1 when it fell back to the full listing) — observability
    * for specs now that consumers may materialize the scan at build
    * time, where plan introspection can no longer see it. */
  private[graft] def pruneLastPathCount = PrunedCellScan.lastPathCount

  /** Write the layout. `cellBits` sets directory granularity: d
    * dimensions make up to `2^(d*cellBits)` directories (default 5 ->
    * 1024 cells in 2-d — coarse enough that a 100-TB table still
    * writes human-scale directory counts, fine enough that a selective
    * box reads a sliver). `bits` is the fine in-file z key. */
  def write(df: DataFrame, path: String, keyCols: Seq[String],
            cellBits: Int = 5, bits: Int = 18): Unit = {
    require(keyCols.nonEmpty, "need at least one key column")
    // d*cellBits <= 16 bounds BOTH the directory count and the per-cell
    // stats collect below at 2^16 (the quad-prefix discipline) — cells
    // are the layout's COARSE routing level, fine pruning is the z key
    require(cellBits >= 1 && keyCols.length * cellBits <= 16,
      s"cellBits out of range for ${keyCols.length} dims: $cellBits")
    // bits <= 30 is zorder's own per-dimension quantization ceiling —
    // checked here, where the parameter enters, so 1-2-dim callers
    // don't hit a "quantize bits" error from deep inside the kernel
    require(bits >= cellBits && bits <= 30 && keyCols.length * bits <= 62,
      s"bits out of range (need cellBits <= bits <= 30, dims*bits <= 62): $bits")
    // exact bounds + per-dim null counts in ONE bounded aggregation —
    // a null key quantizes to a null cell and lands under the Hive
    // default partition where no query enumeration can reach it, so
    // null keys are refused loudly BEFORE any data is written (the
    // same guard protects the stats read-back from a null-cell group)
    val aggs = count(lit(1)).as("__n") +: keyCols.flatMap(c =>
      Seq(min(col(c)).cast("double").as(s"lo_$c"),
        max(col(c)).cast("double").as(s"hi_$c"),
        count(col(c)).as(s"n_$c")))
    val b = df.agg(aggs.head, aggs.tail: _*).head()
    val total = b.getLong(0)
    require(total > 0, "SpatialDisk.write: table is empty")
    keyCols.zipWithIndex.foreach { case (c, i) =>
      require(b.getLong(3 + 3 * i) == total,
        s"SpatialDisk.write: key column '$c' has " +
          s"${total - b.getLong(3 + 3 * i)} nulls — rows with null keys " +
          "would be unreachable; filter or fill them first")
    }
    val lows = keyCols.indices.map(i => b.getDouble(1 + 3 * i)).toArray
    val highs = keyCols.indices.map(i => b.getDouble(2 + 3 * i)).toArray
    val token = java.util.UUID.randomUUID().toString
    val cell = zorder(keyCols.map(col), lows.toSeq, highs.toSeq, cellBits)
    val z = zorder(keyCols.map(col), lows.toSeq, highs.toSeq, bits)
    val celled = df.withColumn(CellCol, cell)
      .withColumn(ZCol, z)
      .withColumn(TokenCol, lit(token))
    val cells = writeCells(celled, keyCols, s"$path/data", "overwrite")
    // a fresh full write starts a new generation: stale tombstones from
    // the previous one must not shadow it (readers would refuse anyway
    // on the token, but the dir must not leak into the new meta)
    graft.operators.DedupOps.deleteDir(df.sparkSession, s"$path/tombstones")
    writeMetaLines(df.sparkSession, path, keyCols, lows, highs, cellBits,
      bits, token, cells, Some(celled.drop(CellCol).schema))
  }

  /** Write `celled` (rows carrying the cell, fine z and token columns)
    * into the cell directories under `dataPath` and return the per-cell
    * stats (count + tight MBR) of exactly the rows written. One range
    * shuffle clusters cells together; the within-partition sort puts
    * each directory's files in fine-z order so parquet row-group min/max
    * stats on __graft_z are tight. The stats come from the write job
    * itself (the Shark idea: statistics from the stage that runs
    * anyway): an observed bounded aggregate sits on the result stage,
    * where each task's accumulator update merges once — no read-back of
    * the written files and no second evaluation of the input. They
    * serve kNN's guaranteed-radius walk, the IndexManager
    * PartitionStat design at the directory level. */
  private def writeCells(celled: DataFrame, keyCols: Seq[String],
                         dataPath: String, mode: String): Seq[CellStat] = {
    val obs = org.apache.spark.sql.Observation()
    val stats = udaf(new CellStatsAggregator(keyCols.length),
      org.apache.spark.sql.Encoders.product[CellPoint])
    celled
      .repartitionByRange(col(CellCol), col(ZCol))
      .sortWithinPartitions(col(CellCol), col(ZCol))
      .observe(obs, stats(col(CellCol).cast("long"),
        array(keyCols.map(col(_).cast("double")): _*)).as("cells"))
      .write.mode(mode).partitionBy(CellCol).parquet(dataPath)
    // the observation completes from the listener bus, just after the
    // write returns; a write that reports none publishes no meta
    val row = try scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(60, "s"))
      catch { case _: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"SpatialDisk: the write to $dataPath reported no per-cell stats") }
    val out = row.getStruct(0)
    val (ids, counts) = (out.getSeq[Long](0), out.getSeq[Long](1))
    val (los, his) = (out.getSeq[Double](2), out.getSeq[Double](3))
    val d = keyCols.length
    ids.indices.map { i =>
      CellStat(ids(i), counts(i), graft.spatial.MBR(
        graft.spatial.Point(los.slice(i * d, (i + 1) * d).toArray),
        graft.spatial.Point(his.slice(i * d, (i + 1) * d).toArray)))
    }
  }

  /** Per-cell stats (count + tight MBR) of a frame that carries the
    * routing cell column — ONE bounded aggregation (<= 2^(d*cellBits)
    * <= 2^16 rows to the driver). */
  private def collectCellStats(df: DataFrame,
                               keyCols: Seq[String]): Seq[CellStat] = {
    val statAggs = count(lit(1)).as("__n") +: keyCols.flatMap(c =>
      Seq(min(col(c)).cast("double").as(s"__lo_$c"),
        max(col(c)).cast("double").as(s"__hi_$c")))
    df.groupBy(col(CellCol)).agg(statAggs.head, statAggs.tail: _*)
      .collect().toIndexedSeq.map { r =>
        val los = Array.tabulate(keyCols.length)(i => r.getDouble(2 + 2 * i))
        val his = Array.tabulate(keyCols.length)(i => r.getDouble(3 + 2 * i))
        CellStat(r.getAs[Number](0).longValue(), r.getLong(1),
          graft.spatial.MBR(graft.spatial.Point(los), graft.spatial.Point(his)))
      }
  }

  /** `schema` is the written data schema (every column but the cell,
    * which the directory names carry): readers take it instead of
    * inferring one from a footer, which costs a job per read. */
  private def writeMetaLines(spark: SparkSession, path: String,
                             keyCols: Seq[String], lows: Array[Double],
                             highs: Array[Double], cellBits: Int, bits: Int,
                             token: String, cells: Seq[CellStat],
                             schema: Option[org.apache.spark.sql.types.StructType],
                             tombs: Seq[String] = Seq.empty,
                             tombIdCol: Option[String] = None,
                             tombCells: Boolean = false): Unit = {
    val cellStats = cells.map { s =>
      val bounds = keyCols.indices.flatMap(i =>
        Seq(s.mbr.low.coord(i), s.mbr.high.coord(i)))
      s"${s.id}:${s.count}:" + bounds.mkString(",")
    }.sorted.mkString(";")
    import spark.implicits._
    val lines = Seq(
      "keyCols=" + keyCols.mkString(","),
      "lows=" + lows.mkString(","),
      "highs=" + highs.mkString(","),
      s"params=cellBits:$cellBits,bits:$bits",
      "cells=" + cellStats,
      "token=" + token) ++
      schema.map("schema=" + _.json) ++
      (if (tombs.isEmpty) Seq.empty
       else Seq("tombs=" + tombs.mkString(";"),
         "tombIdCol=" + tombIdCol.get) ++
         // located waves carry a cell column beside the ids-only
         // waves' bare ids — readers only pay the schema-merging
         // tombstone read when one actually exists
         (if (tombCells) Seq("tombCells=yes") else Seq.empty))
    // tmp+rename publish (ADVICE r11): append/compact republish the
    // meta of an EXISTING layout, where a raw overwrite text job would
    // leave a whole-job no-meta crash window
    graft.operators.DedupOps.publishMeta(spark, path, lines)
  }

  /** Append an ingest wave to an existing layout. New rows route with
    * the ORIGINAL quantization bounds from the meta (points outside
    * them clamp into edge cells, where the query-side enumeration —
    * which clamps the same way — still finds them), land as new files
    * inside their cell directories, and the WAVE's own per-cell stats
    * are merged into the existing meta (counts add, MBRs union) — the
    * stats refresh costs O(wave), never a full-layout re-aggregation
    * (an ingest wave against a 100-TB layout must not pay an O(table)
    * scan per append).
    *
    * Crash safety is append-shaped: data files land first, the meta
    * rewrite is last. A failure between the two leaves STALE stats
    * over a superset of the data — still correct: box/circle never
    * consult stats, and kNN's walk treats counts as LOWER bounds (the
    * walked cells' claimed rows are all still present inside their
    * recorded MBRs, so the guaranteed radius still covers >= k; extra
    * appended rows only add candidates to the final exact scan). The
    * write token is preserved — an append extends the SAME layout
    * generation, it does not create a new one. */
  def append(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val m = readMeta(spark, path)
    // the write-side null-key guard, for the same unreachable-row trap
    val aggs = count(lit(1)).as("__n") +:
      m.keyCols.map(c => count(col(c)).as(s"n_$c"))
    val cnts = df.agg(aggs.head, aggs.tail: _*).head()
    m.keyCols.zipWithIndex.foreach { case (c, i) =>
      require(cnts.getLong(1 + i) == cnts.getLong(0),
        s"SpatialDisk.append: key column '$c' has " +
          s"${cnts.getLong(0) - cnts.getLong(1 + i)} nulls — rows with " +
          "null keys would be unreachable; filter or fill them first")
    }
    // a tombstoned id stays DEAD until a compact folds it out: appended
    // rows under a tombstoned id would be anti-joined at read (invisible)
    // yet counted in the meta, silently breaking the kNN walk's count
    // guarantee — refuse loudly (re-adding is compact-then-append,
    // never a silent resurrection; the text layouts' clash discipline)
    if (m.tombs.nonEmpty) {
      val idc = m.tombIdCol.get
      require(df.columns.contains(idc),
        s"SpatialDisk.append: the layout has delete waves keyed by " +
          s"'$idc' but the wave does not carry that column")
      val t = tombstoneFrame(spark, path, m).get
      val hasCell = t.columns.contains(TombCellCol)
      val byId = if (hasCell) t.filter(col(TombCellCol).isNull)
        .select(col(idc)) else t.select(col(idc))
      val clash = byId.join(df.select(col(idc)), Seq(idc), "left_semi")
        .limit(1).count()
      require(clash == 0L,
        s"SpatialDisk.append: wave re-adds tombstoned '$idc' ids — " +
          "compact the layout first, then append")
      if (hasCell) {
        // a located ([[deleteAt]]) tombstone kills (id, cell): an
        // appended row routing to that SAME cell would be invisible
        // yet counted; any other cell of that id appends freely —
        // the located verb's finer granularity
        val cellOf = zorder(m.keyCols.map(col), m.lows.toSeq,
          m.highs.toSeq, m.cellBits)
        val clashLoc = t.filter(col(TombCellCol).isNotNull)
          .select(col(idc), col(TombCellCol).cast("long").as(TombCellCol))
          .join(df.select(col(idc), cellOf.cast("long").as(TombCellCol)),
            Seq(idc, TombCellCol), "left_semi")
          .limit(1).count()
        require(clashLoc == 0L,
          s"SpatialDisk.append: wave re-adds a located-tombstoned " +
            s"('$idc', cell) pair — compact the layout first, then " +
            "append (other cells of those ids append freely)")
      }
    }
    val cell = zorder(m.keyCols.map(col), m.lows.toSeq, m.highs.toSeq, m.cellBits)
    val z = zorder(m.keyCols.map(col), m.lows.toSeq, m.highs.toSeq, m.bits)
    val celled = df.withColumn(CellCol, cell)
      .withColumn(ZCol, z)
      .withColumn(TokenCol, lit(m.token))
    val wave = writeCells(celled, m.keyCols, s"$path/data", "append")
    // a wave of another shape leaves files the recorded schema does not
    // describe: the meta then drops it, and reads infer as before it
    def shape(t: org.apache.spark.sql.types.StructType) =
      t.fields.toSeq.map(f => (f.name, f.dataType.catalogString))
    val schema = m.schema.filter(t => shape(t) == shape(celled.drop(CellCol).schema))
    // merge the wave's stats into the published meta: counts ADD, MBRs
    // UNION — both operations only ever widen, so a merged meta makes
    // the same guarantees the read-back one did (counts are exact over
    // data written through this API; MBRs cover every claimed row)
    val merged = scala.collection.mutable.LinkedHashMap.empty[Long, CellStat]
    m.cells.foreach(s => merged(s.id) = s)
    wave.foreach { w =>
      merged(w.id) = merged.get(w.id) match {
        case Some(e) => CellStat(w.id, e.count + w.count, e.mbr.union(w.mbr))
        case None    => w
      }
    }
    writeMetaLines(spark, path, m.keyCols, m.lows, m.highs, m.cellBits,
      m.bits, m.token, merged.values.toIndexedSeq, schema, m.tombs, m.tombIdCol,
      m.tombCells)
  }

  /** Tombstone-delete rows by id — the text/vector layouts' GDPR
    * discipline on the spatial family: ids land at `$path/tombstones`
    * under a FRESH delete token, the meta's `tombs=` list commits LAST
    * (a torn delete is a no-op), every reader anti-joins admitted
    * tombstones (box / circle / kNN / distance join / kNN join /
    * joinTable answer as if the rows were never written), and
    * [[compact]] folds them physically.
    *
    * The spatial twist: the kNN walk's GUARANTEED radii stand on the
    * meta's per-cell counts as lower bounds of LIVE rows, so the delete
    * decrements each touched cell's count by the rows it actually
    * tombstoned — one column-pruned (id, cell) pass over the layout,
    * grouped to at most 2^16 driver rows. MBRs stay as written (a
    * superset still covers every survivor; compact re-tightens).
    * Ids-only API; absent or already-tombstoned ids are harmless
    * no-ops. The id column is fixed by the FIRST delete wave (readers
    * anti-join on one key). */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
             idCol: String): Unit = {
    val m = readMeta(spark, path)
    require(ids.columns.contains(idCol),
      s"SpatialDisk.delete: the ids frame must carry '$idCol' " +
        s"(has: ${ids.columns.mkString(", ")})")
    m.tombIdCol.foreach(c => require(c == idCol,
      s"SpatialDisk.delete: the layout's delete waves are keyed by " +
        s"'$c' — one id column per layout"))
    val data = spark.read.parquet(s"$path/data")
    require(data.columns.contains(idCol),
      s"SpatialDisk.delete: the layout has no '$idCol' column")
    require(!Seq(CellCol, ZCol, TokenCol).contains(idCol),
      s"SpatialDisk.delete: '$idCol' is a layout-internal column")
    val fresh = ids.select(col(idCol)).distinct()
    // already-dead ids are no-ops — but only IDS-ONLY waves make an id
    // fully dead; an id located-deleted ([[deleteAt]]) in one cell may
    // still have live rows elsewhere, so located waves never filter
    // here. Checkpointed: the guard, the hits join, and the tombstone
    // write all read it
    val newIds = (tombstoneFrame(spark, path, m) match {
      case Some(t) =>
        val byId = if (t.columns.contains(TombCellCol))
          t.filter(col(TombCellCol).isNull).select(col(idCol)) else t
        fresh.join(byId, Seq(idCol), "left_anti")
      case None => fresh
    }).localCheckpoint()
    // per-cell counts of the rows this wave actually kills (rows
    // PRESENT and not already tombstoned — counted over LIVE rows, so
    // rows a located wave already killed never double-decrement) — the
    // decrement that keeps the kNN walk's counts true over live rows.
    // Clamped at 0: a crashed append can leave meta counts lower than
    // disk (stale stats over a superset — documented as still-safe
    // lower bounds), and the subtraction must preserve that invariant,
    // never flip a count negative.
    // everything already dead: admit nothing (an admitted wave with no
    // tombstone rows on disk would read as a MISSING wave to fsck)
    if (newIds.isEmpty) return
    val hits = subtractTombstones(data.select(col(idCol), col(CellCol)),
        spark, path, m)
      .join(newIds, Seq(idCol))
      .groupBy(col(CellCol)).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getAs[Number](0).longValue() -> r.getLong(1))
      .toMap
    val token = java.util.UUID.randomUUID().toString
    newIds.select(col(idCol).as(TombIdCol))
      .withColumn(TokenCol, lit(token))
      .write.mode("append").parquet(s"$path/tombstones")
    val decremented = m.cells.map(s => hits.get(s.id) match {
      case Some(n) => s.copy(count = math.max(0L, s.count - n))
      case None    => s
    })
    writeMetaLines(spark, path, m.keyCols, m.lows, m.highs, m.cellBits,
      m.bits, m.token, decremented, m.schema, m.tombs :+ token, Some(idCol),
      m.tombCells)
  }

  /** LOCATED tombstone delete — the O(wave) sibling of [[delete]]. The
    * wave carries the id AND the layout's key columns (the coordinates
    * the rows were written with), so the claimed routing cells compute
    * from the meta's quantization (clamping exactly as [[append]]
    * routes), presence is verified against the LIVE rows of only those
    * cell directories (the [[PrunedCellScan]] discipline), and
    * tombstones land as (id, cell) pairs readers anti-join only in
    * that cell. Per-cell count decrements are exact — counted over
    * live matched rows — so the kNN walk's guaranteed radii stand.
    *
    * This is the purge-wave shape a 100-TB layout needs: [[delete]]
    * pays a column-pruned (id, cell) pass over the WHOLE layout per
    * wave (measured ~30 s REGARDLESS of wave size on a 16k-directory
    * fixture — file-open bound), where this verb touches only the
    * wave's claimed cells: a GDPR purge whose records are known rides
    * the wave, never the table.
    *
    * Contract: deletes rows whose id matches AT the claimed
    * coordinates' cell. A wave row claiming coordinates the row was
    * not written with (or an absent / already-dead id) matches nothing
    * and is a FULL no-op — nothing is tombstoned, the id stays
    * appendable, and a wave that matches nothing admits no delete
    * token at all. Use [[delete]] when only ids are known. Null keys
    * quantize to a null cell and match nothing (no-ops). Idempotent;
    * the id column is pinned by the layout's first delete wave. */
  def deleteAt(spark: SparkSession, path: String, rows: DataFrame,
               idCol: String): Unit = {
    val m = readMeta(spark, path)
    require(rows.columns.contains(idCol),
      s"SpatialDisk.deleteAt: the wave must carry '$idCol' " +
        s"(has: ${rows.columns.mkString(", ")})")
    m.keyCols.foreach(c => require(rows.columns.contains(c),
      s"SpatialDisk.deleteAt: the wave must carry key column '$c' — " +
        "the located verb routes by the written coordinates; use " +
        "delete(ids) when only ids are known"))
    require(!Seq(CellCol, ZCol, TokenCol).contains(idCol),
      s"SpatialDisk.deleteAt: '$idCol' is a layout-internal column")
    m.tombIdCol.foreach(c => require(c == idCol,
      s"SpatialDisk.deleteAt: the layout's delete waves are keyed by " +
        s"'$c' — one id column per layout"))
    // the LAYOUT must carry the id column too — checked up front (the
    // [[delete]] discipline) so a misspelled id column fails loudly
    // even when every wave key quantizes to a null cell or every pair
    // is already dead (the early no-op returns below would otherwise
    // mask it as a silent no-op)
    require(spark.read.parquet(s"$path/data").columns.contains(idCol),
      s"SpatialDisk.deleteAt: the layout has no '$idCol' column")
    val cellExpr = zorder(m.keyCols.map(col), m.lows.toSeq, m.highs.toSeq,
      m.cellBits)
    val claimed = rows
      .select(col(idCol), cellExpr.cast("long").as(TombCellCol))
      .filter(col(TombCellCol).isNotNull)
      .distinct()
    // pairs already dead are no-ops: ids killed everywhere by an
    // ids-only wave, or (id, cell) pairs a prior located wave claimed.
    // Checkpointed: the claimed-cell collect and the presence join
    // both read it
    val fresh = (tombstoneFrame(spark, path, m) match {
      case None => claimed
      case Some(t) =>
        val byId = if (t.columns.contains(TombCellCol))
          t.filter(col(TombCellCol).isNull).select(col(idCol)) else t
        val f1 = claimed.join(byId, Seq(idCol), "left_anti")
        if (t.columns.contains(TombCellCol))
          f1.join(t.filter(col(TombCellCol).isNotNull)
              .select(col(idCol), col(TombCellCol).cast("long").as(TombCellCol)),
            Seq(idCol, TombCellCol), "left_anti")
        else f1
    }).localCheckpoint()
    // the claimed-cell set bounds at the layout's own directory count
    // (<= 2^16 by write's d*cellBits cap) — a bounded driver list, the
    // same shape every pruned query collects
    val cells = fresh.select(col(TombCellCol)).distinct()
      .collect().map(_.getLong(0))
    if (cells.isEmpty) return
    // live matched rows, read from ONLY the claimed cell directories:
    // the scan token-checks and subtracts prior waves, so decrements
    // count genuinely-live rows and re-deletes are exact no-ops. The
    // explicit-path cap is the layout's own 2^16 directory ceiling —
    // a purge verb is rare and wave-sized, so it never silently falls
    // back to the full listing the way a hot query's default would
    val scan = tokenChecked(
      PrunedCellScan(spark, s"$path/data", CellCol,
        cells.toIndexedSeq.map(Long.box), maxExplicit = 1 << 16),
      path, m)
    require(scan.columns.contains(idCol),
      s"SpatialDisk.deleteAt: the layout has no '$idCol' column")
    // checkpointed: both the decrement collect and the tombstone write
    // read it — without this the claimed-cell scan runs twice
    val hitRows = scan
      .select(col(idCol), col(CellCol).cast("long").as(TombCellCol))
      .join(fresh, Seq(idCol, TombCellCol))
      .localCheckpoint()
    admitLocatedWave(spark, path, m, idCol, hitRows)
  }

  /** Admit a LOCATED delete wave: `hitRows` are LIVE (id, cell-as-long)
    * rows already verified present — per-cell decrements count them
    * exactly, the distinct (id, cell) pairs land as tombstones under a
    * fresh token, the decremented meta publishes LAST with the
    * located-wave flag. A wave with no rows admits nothing. `hitRows`
    * must be materialized (checkpointed) by the caller: the decrement
    * collect and the tombstone write both read it. */
  private def admitLocatedWave(spark: SparkSession, path: String, m: Meta,
                               idCol: String, hitRows: DataFrame): Unit = {
    val perCell = hitRows.groupBy(col(TombCellCol))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (perCell.isEmpty) return // nothing matched: a full no-op wave
    val token = java.util.UUID.randomUUID().toString
    hitRows.select(col(idCol).as(TombIdCol), col(TombCellCol)).distinct()
      .withColumn(TokenCol, lit(token))
      .write.mode("append").parquet(s"$path/tombstones")
    val decremented = m.cells.map(s => perCell.get(s.id) match {
      case Some(n) => s.copy(count = math.max(0L, s.count - n))
      case None    => s
    })
    writeMetaLines(spark, path, m.keyCols, m.lows, m.highs, m.cellBits,
      m.bits, m.token, decremented, m.schema, m.tombs :+ token, Some(idCol),
      tombCells = true)
  }

  /** REGION purge: tombstone-delete every live row inside the box
    * `[lo, hi]` — the delete-by-jurisdiction GDPR shape ("purge all
    * points in region X") riding the exact query path: the box's
    * candidate cells enumerate and prune exactly as [[boxRange]]'s do,
    * the exact predicate picks the in-box live rows, and their
    * (id, cell) pairs admit as one located wave ([[deleteAt]]
    * semantics: readers anti-join per cell, decrements exact, compact
    * folds). O(region), never O(table).
    *
    * Granularity: tombstones are (id, cell)-keyed, so the purge kills
    * EVERY live row of an (id, cell) pair that has at least one row
    * inside the region — with unique ids (one row per id, the common
    * point-record case) that is exactly the region's rows; an id with
    * several rows in ONE cell loses all of them if any is in-region
    * (spec-pinned), while its rows in other cells survive. An empty
    * region admits nothing. Idempotent. */
  def deleteBox(spark: SparkSession, path: String, lo: Array[Double],
                hi: Array[Double], idCol: String): Unit = {
    val m = readMeta(spark, path)
    deleteRegion(spark, path, m, idCol,
      scanBox(spark, path, m, lo, hi)
        .filter(inBox(m.keyCols.map(col), lo.toSeq, hi.toSeq)))
  }

  /** [[deleteBox]]'s circle twin: purge every live row within `radius`
    * of `center` — bbox-driven pruning, exact distance predicate, one
    * located wave. */
  def deleteCircle(spark: SparkSession, path: String,
                   center: Array[Double], radius: Double,
                   idCol: String): Unit = {
    require(radius >= 0, s"radius must be >= 0, got $radius")
    val m = readMeta(spark, path)
    val lo = center.map(_ - radius)
    val hi = center.map(_ + radius)
    deleteRegion(spark, path, m, idCol,
      scanBox(spark, path, m, lo, hi)
        .filter(inCircle(m.keyCols.map(col), center.toSeq, radius)))
  }

  /** Shared region-purge tail: `inRegion` is a LIVE pruned scan already
    * filtered to the region. Its distinct (id, cell) pairs widen to
    * ALL live rows sharing the pair (a located tombstone kills the
    * whole pair — decrementing only the in-region rows would leave the
    * meta count claiming rows the tombstone hides, silently shrinking
    * kNN's guaranteed radii), then admit as one located wave. */
  private def deleteRegion(spark: SparkSession, path: String, m: Meta,
                           idCol: String, inRegion: DataFrame): Unit = {
    require(!Seq(CellCol, ZCol, TokenCol).contains(idCol),
      s"SpatialDisk.deleteRegion: '$idCol' is a layout-internal column")
    m.tombIdCol.foreach(c => require(c == idCol,
      s"SpatialDisk.deleteRegion: the layout's delete waves are keyed " +
        s"by '$c' — one id column per layout"))
    require(inRegion.columns.contains(idCol),
      s"SpatialDisk.deleteRegion: the layout has no '$idCol' column")
    val pairs = inRegion
      .select(col(idCol), col(CellCol).cast("long").as(TombCellCol))
      .distinct()
      .localCheckpoint()
    val cells = pairs.select(col(TombCellCol)).distinct()
      .collect().map(_.getLong(0))
    if (cells.isEmpty) return
    val scan = tokenChecked(
      PrunedCellScan(spark, s"$path/data", CellCol,
        cells.toIndexedSeq.map(Long.box), maxExplicit = 1 << 16),
      path, m)
    val hitRows = scan
      .select(col(idCol), col(CellCol).cast("long").as(TombCellCol))
      .join(pairs, Seq(idCol, TombCellCol))
      .localCheckpoint()
    admitLocatedWave(spark, path, m, idCol, hitRows)
  }

  /** Compact the layout: appended ingest waves leave many small files
    * inside each cell directory (one per wave per cell — at 100 TB the
    * open/footer cost of ten thousand shard-files per directory is
    * what kills a pruned read, not the bytes). One clustered rewrite
    * re-sorts every cell's rows into few fine-z-ordered files and
    * publishes a NEW generation: fresh bounds from the current data,
    * fresh per-cell stats, fresh write token. Crash safety is the
    * write-token discipline — the current rows are snapshotted beside
    * the layout first (Spark cannot overwrite a directory it is still
    * lazily reading), and a failure between the data and meta rewrites
    * leaves a token-mismatched pair every reader REFUSES; the snapshot
    * still holds every row for a re-run. A torn input layout is
    * refused up front. */
  def compact(path: String, spark: SparkSession,
              dropForeign: Boolean = false): Unit = {
    val m = readMeta(spark, path)
    val data0 = spark.read.parquet(s"$path/data")
    require(data0.columns.contains(TokenCol),
      s"SpatialDisk.compact: $path/data has no $TokenCol column — the " +
        "layout is torn or foreign; rewrite with SpatialDisk.write")
    val tokens = data0.select(col(TokenCol)).distinct()
      .collect().map(_.getString(0))
    // dropForeign (the repair path): unadmitted rows are ROLLED BACK
    // instead of refused — provided admitted rows exist to repair from
    // (tombstone subtraction below forces the schema merge: a rewrite
    // under a flag-damaged meta must never fold over-deletion in)
    require(tokens.contains(m.token),
      s"SpatialDisk.compact: $path/data holds no rows under the meta's " +
        "token — nothing to compact from; rewrite with SpatialDisk.write")
    require(dropForeign || tokens.length == 1,
      s"SpatialDisk.compact: write-token mismatch between $path/meta " +
        s"and $path/data — refusing to compact a torn layout (repair " +
        "rolls the torn rows back)")
    val data =
      if (tokens.length == 1) data0
      else data0.filter(col(TokenCol) === m.token)
    val snap = s"$path/compact_snapshot"
    // admitted delete waves fold HERE: the snapshot holds survivors
    // only, and the fresh write below clears the tombstones dir — the
    // compacted generation answers bit-identically but no longer pays
    // the read-side anti-join
    val live = subtractTombstones(data, spark, path, m, forceMerge = true)
    live.drop(CellCol, ZCol, TokenCol)
      .write.mode("overwrite").parquet(snap)
    write(spark.read.parquet(snap), path, m.keyCols,
      cellBits = m.cellBits, bits = m.bits)
    val sp = new org.apache.hadoop.fs.Path(snap)
    sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)
  }

  /** Repair the layout in place — the exit from the two tear classes
    * [[fsck]] names without a full rebuild:
    *
    *  - FOREIGN data tokens (a partial external copy / tampering):
    *    rolled back via [[compact]] `dropForeign` — admitted rows
    *    republish under a fresh generation, tombstones fold.
    *  - DRIFTED per-cell stats (an append whose data landed but whose
    *    meta rewrite didn't — counts stale-low is safe, but a lost
    *    tombstone decrement or a hand-edited meta breaks the kNN
    *    walk's guarantee): per-cell TRUE stats re-aggregate from the
    *    LIVE rows (admitted minus tombstoned) and the meta republishes
    *    under the SAME token — one bounded aggregation, no data
    *    rewrite.
    *
    * A layout with no admitted rows at all is refused (nothing to
    * repair from — re-run the interrupted write or rebuild). */
  def repair(spark: SparkSession, path: String): Unit = {
    val m = readMeta(spark, path)
    val data = spark.read.parquet(s"$path/data")
    require(data.columns.contains(TokenCol),
      s"SpatialDisk.repair: $path/data has no $TokenCol column — the " +
        "layout is torn or foreign; rewrite with SpatialDisk.write")
    val tokens = data.select(col(TokenCol)).distinct()
      .collect().map(_.getString(0))
    if (tokens.length > 1 || tokens(0) != m.token) {
      compact(path, spark, dropForeign = true)
      return
    }
    // stats refresh: counts of LIVE rows (tombstones subtracted — the
    // subtraction FORCES the schema merge and the republished meta
    // restores the tombCells flag, healing fsck's tomb_kinds tear:
    // a lost flag makes hot reads treat located waves as id-kills),
    // true MBRs, same token — exactly what fsck's cell_counts_exact
    // checks
    val locFlag = m.tombCells ||
      (m.tombs.nonEmpty && hasLocatedWaves(spark, path, m))
    val live = subtractTombstones(data.filter(
        assert_true(col(TokenCol) === m.token,
          lit(s"SpatialDisk.repair: write-token mismatch between " +
            s"$path/meta and $path/data")).isNull),
      spark, path, m, forceMerge = true)
    writeMetaLines(spark, path, m.keyCols, m.lows, m.highs, m.cellBits,
      m.bits, m.token, collectCellStats(live, m.keyCols), m.schema, m.tombs,
      m.tombIdCol, locFlag)
  }

  /** Per-cell on-disk stats: row count + the cell's TRUE MBR. */
  private final case class CellStat(id: Long, count: Long,
                                    mbr: graft.spatial.MBR)

  private final case class Meta(keyCols: Seq[String], lows: Array[Double],
                                highs: Array[Double], cellBits: Int,
                                bits: Int, cells: Seq[CellStat], token: String,
                                tombs: Seq[String] = Seq.empty,
                                tombIdCol: Option[String] = None,
                                tombCells: Boolean = false,
                                schema: Option[org.apache.spark.sql.types.StructType] = None)

  private def readMeta(spark: SparkSession, path: String): Meta = {
    val lines = graft.operators.DedupOps.readMetaLines(spark, path,
      "SpatialDisk")
    def line(tag: String): String = lines.find(_.startsWith(tag + "="))
      .getOrElse(throw new IllegalArgumentException(
        s"SpatialDisk: no '$tag' line in $path/meta"))
      .substring(tag.length + 1)
    val params = line("params").split(",").map { kv =>
      val Array(a, v) = kv.split(":"); a -> v
    }.toMap
    val cells = line("cells").split(";").filter(_.nonEmpty).toSeq.map { s =>
      val Array(id, n, bounds) = s.split(":")
      val b = bounds.split(",").map(_.toDouble)
      val los = Array.tabulate(b.length / 2)(i => b(2 * i))
      val his = Array.tabulate(b.length / 2)(i => b(2 * i + 1))
      CellStat(id.toLong, n.toLong,
        graft.spatial.MBR(graft.spatial.Point(los), graft.spatial.Point(his)))
    }
    val tombs = lines.find(_.startsWith("tombs="))
      .map(_.substring(6).split(";").toSeq.filter(_.nonEmpty))
      .getOrElse(Seq.empty)
    val tombIdCol = lines.find(_.startsWith("tombIdCol="))
      .map(_.substring(10)).filter(_.nonEmpty)
    // a layout written before the schema line reads by inference
    val schema = lines.find(_.startsWith("schema=")).map(l =>
      org.apache.spark.sql.types.DataType.fromJson(l.substring(7))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    Meta(line("keyCols").split(",").toSeq,
      line("lows").split(",").map(_.toDouble),
      line("highs").split(",").map(_.toDouble),
      params("cellBits").toInt, params("bits").toInt, cells, line("token"),
      tombs, tombIdCol,
      lines.exists(_ == "tombCells=yes"), schema)
  }

  /** Non-throwing audit of a spatial layout — the
    * [[graft.operators.DedupOps.fsckTextIndex]] verb for the spatial
    * family: meta parses, the data holds exactly the meta's token,
    * tombstones are inventoried, and — the check the kNN walk's
    * GUARANTEED radii stand on — the meta's per-cell counts EQUAL the
    * on-disk per-cell counts MINUS the admitted tombstoned rows per
    * cell (one bounded aggregation each, ≤ 2^16 rows to the driver;
    * an overcount would silently shrink a guaranteed radius — which is
    * exactly why [[delete]] decrements the counts it tombstones). */
  def fsck(spark: SparkSession, path: String): DataFrame = {
    val out = scala.collection.mutable.ArrayBuffer[(String, Boolean, String)]()
    def check(name: String)(body: => (Boolean, String)): Unit =
      out += (try { val (ok, d) = body; (name, ok, d) }
        catch { case e: Throwable =>
          (name, false, Option(e.getMessage).getOrElse(e.toString).take(200)) })
    val metaTry =
      try Right(readMeta(spark, path))
      catch { case e: Throwable => Left(e) }
    metaTry match {
      case Left(e) =>
        out += (("meta", false,
          Option(e.getMessage).getOrElse(e.toString).take(200)))
      case Right(m) =>
        out += (("meta", true,
          s"spatial keyCols=${m.keyCols.mkString(",")} cells=${m.cells.length}"))
        check("data_tokens") {
          val seen = spark.read.parquet(s"$path/data")
            .select(col(TokenCol)).distinct()
            .collect().map(_.getString(0)).toSet
          (seen == Set(m.token),
            if (seen == Set(m.token)) "one generation"
            else if (seen.contains(m.token))
              s"torn: ${seen.size - 1} foreign token(s) beside the " +
                "admitted one — repair rolls them back"
            else "torn: no admitted rows (crashed overwrite) — rewrite " +
              "with SpatialDisk.write")
        }
        if (m.tombs.nonEmpty) check("tombstones") {
          val toks = spark.read.parquet(s"$path/tombstones")
            .select(col(TokenCol)).distinct()
            .collect().map(_.getString(0)).toSet
          val missing = m.tombs.toSet.diff(toks)
          (missing.isEmpty,
            s"${m.tombs.length} admitted delete wave(s) keyed by " +
              s"'${m.tombIdCol.get}'" +
              (if (missing.nonEmpty) s", ${missing.size} MISSING — " +
                "over-counted cells follow; compact from source" else ""))
        }
        if (m.tombs.nonEmpty) check("tomb_kinds") {
          // located waves carry the cell column; a meta whose
          // tombCells flag was lost (hand-edit, partial copy) makes
          // readers skip the schema merge and anti-join those waves by
          // id alone — over-deleting the id in EVERY cell
          val located = hasLocatedWaves(spark, path, m)
          (!located || m.tombCells,
            if (!located) "ids-only waves" +
              (if (m.tombCells) " (tombCells flag redundant but safe)" else "")
            else if (m.tombCells) "located waves flagged in the meta"
            else "located waves on disk but the meta lacks " +
              "tombCells=yes — readers over-delete those ids in every " +
              "cell; repair republishes the flag")
        }
        check("cell_counts_exact") {
          // live rows per cell = on-disk minus admitted tombstones, via
          // the same anti-join subtraction every reader uses (LEFT-ANTI
          // is insensitive to duplicated tombstone rows from hand-edits
          // or partial copies, and accounts both ids-only and located
          // waves without double-counting a row dead under each)
          val raw = spark.read.parquet(s"$path/data")
          val scanned =
            if (m.tombs.isEmpty) raw
            else subtractTombstones(
              raw.select(col(m.tombIdCol.get), col(CellCol)), spark, path, m)
          val live = scanned
            .groupBy(col(CellCol)).agg(count(lit(1)).as("__n"))
            .collect().map(r => r.getAs[Number](0).longValue() -> r.getLong(1))
            .toMap
          val metaCounts = m.cells.map(s => s.id -> s.count).toMap
          val bad = (live.keySet ++ metaCounts.keySet).filter(c =>
            live.getOrElse(c, 0L) != metaCounts.getOrElse(c, 0L))
          (bad.isEmpty,
            if (bad.isEmpty) s"${metaCounts.size} cell(s) exact" +
              (if (m.tombs.nonEmpty) " (tombstones accounted)" else "")
            else s"${bad.size} cell(s) drifted — kNN radii no longer " +
              "guaranteed; repair re-aggregates true stats")
        }
    }
    import spark.implicits._
    spark.createDataset(out.toIndexedSeq).toDF("check", "ok", "detail")
  }

  /** The validated scan every query starts from: token-checked data
    * with the cell-directory filter for the bbox `[lo, hi]` applied.
    * Cell ids come from enumerating the box's quantized cell ranges
    * per dimension (bounded by the total cell count — the layout's own
    * directory count) and Morton-interleaving each combination; the
    * `isin` on the partition column is what parquet turns into
    * directory pruning. A fine-z covering-interval BETWEEN serves
    * row-group pruning inside surviving directories. */
  /** The ADMITTED tombstone rows — the layout's delete id column, plus
    * (when any located [[deleteAt]] wave exists) the claimed-cell column
    * `__graft_tomb_cell` (null on ids-only [[delete]] waves) — or None
    * when the meta lists no delete waves. Rows of `$path/tombstones`
    * under unadmitted tokens are FILTERED, not refused — a torn delete
    * is a no-op until its meta commit lands (applying it would
    * over-delete; ignoring it serves the last committed state).
    * mergeSchema unions the two wave schemas (ids-only waves predate
    * the cell column). */
  /** Parquet wave-file count of `$path/tombstones` (0 when the
    * directory is absent or holds no readable wave files — the torn /
    * hand-damaged states [[repair]] heals). One FS listing, no reads. */
  private def tombstoneFileCount(spark: SparkSession, path: String): Int = {
    val tp = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(tp)) 0
    else fs.listStatus(tp).count(s => s.isFile &&
      s.getPath.getName.endsWith(".parquet"))
  }

  /** Above this many tombstone files the mergeSchema probe stops being
    * free and the meta's tombCells flag earns its keep; below it the
    * merge is forced so a flag-damaged meta still reads
    * deterministically (see [[tombstoneFrame]]). */
  private val TombMergeProbeFiles = 64

  private def tombstoneFrame(spark: SparkSession, path: String,
                             m: Meta,
                             forceMerge: Boolean = false): Option[DataFrame] =
    if (m.tombs.isEmpty) None
    // not distinct'd: read-path consumers anti-join (duplicate-
    // insensitive) and admitted waves are disjoint by the delete verbs'
    // construction; [[delete]]'s per-cell count distincts locally.
    // Schema merging (ids-only waves lack the cell column) costs a
    // footer read per tombstone file, so the meta records whether any
    // located wave exists and pure ids-only layouts MAY skip it. The
    // REWRITE verbs (compact / repair) force the merge, and so does any
    // tombstone dir of few files (wave-sized — the common shape): under
    // a hand-damaged meta whose tombCells flag was lost, a non-merged
    // read's inferred schema depends on WHICH footer Spark samples —
    // located waves id-killed on some reads and not others
    // (nondeterministic over-deletion). Forcing the merge whenever the
    // dir is small makes damaged-meta reads deterministic; only a
    // many-wave layout (where the flag's footer-read saving is real)
    // still trusts the flag, and there fsck's tomb_kinds names the
    // damage
    else {
      val raw = spark.read
        .option("mergeSchema", (m.tombCells || forceMerge ||
          tombstoneFileCount(spark, path) <= TombMergeProbeFiles).toString)
        .parquet(s"$path/tombstones")
        .filter(col(TokenCol).isin(m.tombs: _*))
      val cols = col(TombIdCol).as(m.tombIdCol.get) +:
        (if (raw.columns.contains(TombCellCol)) Seq(col(TombCellCol))
         else Seq.empty)
      Some(raw.select(cols: _*))
    }

  /** Whether any ADMITTED tombstone wave on disk carries the located
    * cell column — the ground truth behind the meta's tombCells flag
    * (a schema-merged probe over the tombstone dir's few wave files). */
  private def hasLocatedWaves(spark: SparkSession, path: String,
                              m: Meta): Boolean = {
    // a tombstones dir that EXISTS but holds no readable wave files is
    // exactly a torn state repair heals — probing it with spark.read
    // would throw ("unable to infer schema") and crash the healer, so
    // list first and call that "no located waves"
    if (tombstoneFileCount(spark, path) == 0) return false
    val t = spark.read.option("mergeSchema", "true").parquet(s"$path/tombstones")
    t.columns.contains(TombCellCol) &&
      t.filter(col(TokenCol).isin(m.tombs: _*) &&
        col(TombCellCol).isNotNull).limit(1).count() > 0
  }

  /** Subtract the admitted tombstones from `df` (which must carry the
    * layout's id column and, when located waves exist, the routing cell
    * column): ids-only [[delete]] waves kill the id EVERYWHERE, located
    * [[deleteAt]] waves kill it only in the claimed cell — both as
    * LEFT-ANTI joins against wave-sized sides, riding whatever pruning
    * `df` already carries. */
  private def subtractTombstones(df: DataFrame, spark: SparkSession,
                                 path: String, m: Meta,
                                 forceMerge: Boolean = false): DataFrame =
    tombstoneFrame(spark, path, m, forceMerge) match {
      case None => df
      case Some(t) =>
        val idc = m.tombIdCol.get
        if (!t.columns.contains(TombCellCol)) df.join(t, Seq(idc), "left_anti")
        else {
          val byLoc = t.filter(col(TombCellCol).isNotNull)
            .select(col(idc).as("__t_id"),
              col(TombCellCol).cast("long").as("__t_cell"))
          val afterLoc = df.join(byLoc,
            df(idc) === col("__t_id") &&
              df(CellCol).cast("long") === col("__t_cell"), "left_anti")
          afterLoc.join(t.filter(col(TombCellCol).isNull).select(col(idc)),
            Seq(idc), "left_anti")
        }
    }

  private def tokenChecked(df: DataFrame, path: String, m: Meta): DataFrame = {
    require(df.columns.contains(TokenCol),
      s"SpatialDisk: $path/data has no $TokenCol column — the layout is " +
        "torn or foreign; rewrite with SpatialDisk.write")
    val tokenOk = assert_true(col(TokenCol) === m.token,
      lit(s"SpatialDisk: write-token mismatch between $path/meta and " +
        s"$path/data — bounds and cells come from different writes; " +
        "rewrite the layout"))
    val checked = df.filter(tokenOk.isNull)
    // admitted delete waves subtract on EVERY read path (box / circle /
    // kNN / joins / joinTable all flow through here): the layout
    // answers as if the deleted rows were never written, and compact
    // folds them physically
    subtractTombstones(checked, df.sparkSession, path, m)
  }

  /** The data schema the meta records, where reading with it gives what
    * inference would: the cell column then comes from the directory
    * names with the type partition inference gives it. With that
    * inference off, or without the line, readers infer as before. */
  private def dataSchema(spark: SparkSession, m: Meta)
      : Option[org.apache.spark.sql.types.StructType] =
    m.schema.filter(_ => spark.conf.get(
      "spark.sql.sources.partitionColumnTypeInference.enabled", "true").toBoolean)

  /** Token-validated scan of the whole layout. */
  private def validated(spark: SparkSession, path: String, m: Meta): DataFrame =
    tokenChecked(dataSchema(spark, m).fold(spark.read)(spark.read.schema(_))
      .parquet(s"$path/data"), path, m)

  /** Cell-pruned scan where the pruning happens BEFORE file listing:
    * candidate cell ids become EXPLICIT directory paths handed to the
    * reader, so listing touches only selected directories. At the
    * directory counts a 100-TB layout wants (2^14+ cells), the full
    * listing itself dominates a selective query — post-listing
    * PartitionFilters prune I/O but not the listing (measured: the
    * same 541-row box read 13 s through a full 16k-directory listing
    * and 0.1 s through explicit paths). The metastore-partition-
    * pruning shape, done at the filesystem level. Falls back to the
    * full listing + IN filter when the candidate set is most of the
    * layout — the explicit path list handed to the reader stays
    * bounded. */
  private def prunedScan(spark: SparkSession, path: String, m: Meta,
                         cells: Seq[Long]): DataFrame =
    tokenChecked(
      PrunedCellScan(spark, s"$path/data", CellCol, cells.map(Long.box),
        schema = dataSchema(spark, m)),
      path, m)

  /** The layout's data columns, internals dropped: from the recorded
    * schema (no job), else from a one-directory probe. */
  private def layoutColumns(spark: SparkSession, path: String,
                            m: Meta): Seq[String] =
    m.schema.map(_.fieldNames.toSeq).getOrElse(prunedScan(spark, path, m,
        m.cells.headOption.map(_.id).toIndexedSeq).columns.toSeq)
      .filterNot(Seq(CellCol, ZCol, TokenCol).contains(_))

  private def scanBox(spark: SparkSession, path: String, m: Meta,
                      lo: Array[Double], hi: Array[Double]): DataFrame = {
    require(lo.length == m.keyCols.length && hi.length == m.keyCols.length,
      s"query dims ${lo.length} != layout dims ${m.keyCols.length}")
    // per-dim coarse cell ranges of the clamped box
    def cellOf(v: Double, i: Int): Int =
      ZValue.quantize(v, m.lows(i), m.highs(i), m.cellBits)
    val ranges = m.keyCols.indices.map(i => cellOf(lo(i), i) to cellOf(hi(i), i))
    val cells = ranges.foldLeft(Seq(Array.empty[Int])) { (acc, r) =>
      acc.flatMap(prefix => r.map(c => prefix :+ c))
    }.map(coords => ZValue.interleave(coords, m.cellBits))
    // covering fine-z interval: every point of the box has z in
    // [z(lo), z(hi)] (bitwise monotonicity per dimension) — loose at
    // quadrant seams, exact filter re-applied downstream
    val zLo = ZValue.interleave(
      m.keyCols.indices.map(i => ZValue.quantize(lo(i), m.lows(i), m.highs(i), m.bits)).toArray,
      m.bits)
    val zHi = ZValue.interleave(
      m.keyCols.indices.map(i => ZValue.quantize(hi(i), m.lows(i), m.highs(i), m.bits)).toArray,
      m.bits)
    prunedScan(spark, path, m, cells)
      .filter(col(ZCol).between(zLo, zHi))
  }

  /** Box range directly from the layout: directory + row-group pruning,
    * then the exact predicate. Output schema = the written table. */
  def boxRange(spark: SparkSession, path: String,
               lo: Array[Double], hi: Array[Double]): DataFrame = {
    val m = readMeta(spark, path)
    scanBox(spark, path, m, lo, hi)
      .filter(inBox(m.keyCols.map(col), lo.toSeq, hi.toSeq))
      .drop(CellCol, ZCol, TokenCol)
  }

  /** Circle range: the circle's bbox drives the pruning, the exact
    * distance predicate decides. */
  def circleRange(spark: SparkSession, path: String,
                  center: Array[Double], radius: Double): DataFrame = {
    require(radius >= 0, s"radius must be >= 0, got $radius")
    val m = readMeta(spark, path)
    val lo = center.map(_ - radius)
    val hi = center.map(_ + radius)
    scanBox(spark, path, m, lo, hi)
      .filter(inCircle(m.keyCols.map(col), center.toSeq, radius))
      .drop(CellCol, ZCol, TokenCol)
  }

  /** Distance join of a query set against the at-rest layout: for each
    * `left` row, every layout row within `radius`. The grid discipline
    * applied to directories: each left row explodes to the coarse cells
    * its radius-dilated bbox intersects (one `explode` per dimension —
    * the combo count is the dilated box's cell span, the same bounded
    * fan-out as the in-memory grid join's neighborhood replication), a
    * layout row sits in exactly ONE cell, so the cell equi-join meets
    * each qualifying pair exactly once — no dedup pass, no cartesian.
    * Directory pruning comes from ONE bounded driver job: the distinct
    * candidate cells of the exploded left (<= the layout's own cell
    * count <= 2^16) become the scan's PartitionFilters IN-set, so cell
    * directories no left row can reach are never opened — the "query
    * firehose against an at-rest corpus" shape. */
  def distanceJoin(left: DataFrame, leftKeys: Seq[String], path: String,
                   radius: Double): DataFrame = {
    require(radius >= 0, s"radius must be >= 0, got $radius")
    val spark = left.sparkSession
    val m = readMeta(spark, path)
    require(leftKeys.length == m.keyCols.length,
      s"left dims ${leftKeys.length} != layout dims ${m.keyCols.length}")
    val layoutCols = layoutColumns(spark, path, m)
    SpatialOps.requireDisjoint("SpatialDisk.distanceJoin", left.columns, layoutCols)
    val ordCols = m.keyCols.indices.map(i => s"__graft_dj_o$i")
    var celled = left
    m.keyCols.indices.foreach { i =>
      celled = celled.withColumn(ordCols(i), explode(sequence(
        quantize(col(leftKeys(i)) - radius, m.lows(i), m.highs(i), m.cellBits),
        quantize(col(leftKeys(i)) + radius, m.lows(i), m.highs(i), m.cellBits))))
    }
    val leftCelled = celled
      .withColumn("__graft_dj_cell", zorderCells(ordCols.map(col), m.cellBits))
      .drop(ordCols: _*)
    // bounded driver job: the candidate-cell set prunes directories
    // BEFORE listing (prunedScan) — at 2^14+ cells the listing itself
    // is what a selective join must not pay
    val cellSet = leftCelled.select(col("__graft_dj_cell")).distinct()
      .collect().map(_.getLong(0))
    val data = prunedScan(spark, path, m, cellSet.toIndexedSeq)
    if (cellSet.isEmpty)
      return leftCelled.drop("__graft_dj_cell")
        .join(data.select(layoutCols.map(col): _*), lit(false))
    leftCelled
      .join(data, col("__graft_dj_cell") === col(CellCol))
      .filter(graft.functions.pointDistance(
        leftKeys.map(col), m.keyCols.map(col)) <= radius)
      .select((left.columns ++ layoutCols).map(col): _*)
  }

  /** kNN join of a query set against the at-rest layout: for each
    * `left` row, its `k` nearest layout rows by exact distance (equal
    * distances broken by `tieBreak`, ascending). The in-memory
    * `knnJoin`'s bound-then-refine discipline applied to directories:
    *
    *  1. One stats pass samples the left (≤ `sampleCap` points) and
    *     counts its keyed rows. Each sampled point walks the meta's TRUE
    *     cell stats by minDist until the walked cells hold ≥ k rows; the
    *     max furthest corner is its CERTIFIED radius, a disc holding
    *     ≥ min(k, total) live rows ([[knn]]'s argument). No data is
    *     read; driver cost is sampleCap × cell count, both bounded
    *     (cells ≤ 2^16 by the write-side require).
    *  2. The main phase's radius per sampled point is the smaller of
    *     that certificate and a density estimate, where the nearest cell
    *     holds ≥ k rows (else the certificate alone). Radii group to
    *     per-grid-cell maxima (side = the largest radius), so a dense
    *     region dilates small while a sparse one dilates wide — the
    *     estimateKnnRadii skew discipline.
    *  3. Each left row explodes to the coarse cells its radius-dilated
    *     bbox intersects (the [[distanceJoin]] shape); the distinct
    *     candidate cells prune directories BEFORE listing (prunedScan),
    *     and a layout row sits in exactly one cell, so the equi-join
    *     meets each candidate pair once.
    *  4. A counted top-k inside the radius keeps every left with ≥ k
    *     candidates. The estimate is not certified, so some lefts may
    *     starve; they take the in-memory joins' one rescue pass
    *     ([[graft.operators.SpatialOps.rescueKeys]]) against the whole
    *     layout at each one's proven bound min_s d(l, s) + certified(s).
    *     Correctness never depends on the sample.
    *
    * Output columns: left ++ layout (no internals). */
  def knnJoin(left: DataFrame, leftKeys: Seq[String], path: String, k: Int,
              leftId: String, tieBreak: Seq[String],
              sampleCap: Int = 512): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = left.sparkSession
    val m = readMeta(spark, path)
    val dims = m.keyCols.length
    require(leftKeys.length == dims,
      s"left dims ${leftKeys.length} != layout dims $dims")
    val layoutCols = layoutColumns(spark, path, m)
    SpatialOps.requireDisjoint("SpatialDisk.knnJoin", left.columns, layoutCols)
    val outCols = (left.columns ++ layoutCols).map(col(_))

    // ---- driver-side radius bounds from the meta's true cell stats
    val lStats = SpatialOps.pointStats(left, leftKeys, sampleCap)
    val lPts = lStats.sample
    if (m.cells.map(_.count).sum == 0L || lPts.isEmpty)
      return left.join(prunedScan(spark, path, m, m.cells.headOption.map(_.id).toIndexedSeq)
          .select(layoutCols.map(col(_)): _*), lit(false))
        .select(outCols: _*)
    val cellArr = m.cells.toArray
    // per sampled point: the CERTIFIED walk radius and the main phase's
    // radius, the smaller of it and a density ESTIMATE. The certificate
    // is only as tight as the cells — a coarse anisotropic cell makes it
    // the cell diagonal, and the dilated candidate join detonates
    // (measured 10 s at the 100x slice, where cells run 8600 wide). The
    // estimate (radius of a disc holding k rows at the nearest cell's
    // density, x2 safety) tracks the actual kth-NN scale instead; it is
    // NOT certified, and does not need to be: a left it starves takes
    // the rescue at the certified radii.
    def walkRadii(p: Array[Double]): (Double, Double) = {
      val q = graft.spatial.Point(p)
      // nearest cell: ONE linear scan (at 2^14 cells a per-sample sort
      // dominated the whole driver phase)
      var best: CellStat = null
      var bestD = Double.MaxValue
      var i = 0
      while (i < cellArr.length) {
        val d = cellArr(i).mbr.minDist(q)
        if (d < bestD) { bestD = d; best = cellArr(i) }
        i += 1
      }
      val certified: Double =
        if (best.count >= k) graft.spatial.Dist.furthest(q, best.mbr)
        else {
          val byDist = m.cells.sortBy(_.mbr.minDist(q))
          var covered = 0L; var r = 0.0; var j = 0
          while (j < byDist.length && covered < k) {
            covered += byDist(j).count
            r = math.max(r, graft.spatial.Dist.furthest(q, byDist(j).mbr))
            j += 1
          }
          r
        }
      // a cell of fewer than k rows has no density to speak of: its tight
      // mbr can be a point (one row), whose floored area makes the
      // estimate the distance to that one row — a disc that never holds k
      if (best.count < k) return (certified, certified)
      // disc of k rows at the nearest cell's density (2-D area from the
      // cell's TRUE mbr; degenerate extents floor at 1e-9)
      val area = (0 until dims).map(i => math.max(1e-9,
        best.mbr.high.coord(i) - best.mbr.low.coord(i))).product
      val density = best.count.toDouble / area
      val est = (bestD + 2.0 * math.pow(k / density, 1.0 / dims))
      (certified, math.min(certified, est))
    }
    val (reach, radii) = lPts.map(walkRadii).unzip
    val thetaG = radii.max
    // per-grid-cell MAX of the sampled radii: quantile 1.0, since a
    // radius below a sampled neighbor's only buys starvation
    val side = math.max(thetaG, 1e-9)
    val cellRadii: Map[Seq[Long], Double] = SpatialOps.perCellQuantile(
      lPts.map(p => p.toSeq.map(x => math.floor(x / side).toLong)),
      radii, 1.0, Double.MaxValue)

    // ---- dilate, prune, join, top-k: each left's radius is its grid
    // cell's, or thetaG where no sampled point fell
    val leftR = left.withColumn("__graft_kj_r", coalesce(
      try_element_at(typedLit(cellRadii), array((0 until dims).map(i =>
        floor(col(leftKeys(i)) / side).cast("long")): _*)),
      lit(thetaG)))
    val ordCols = (0 until dims).map(i => s"__graft_kj_o$i")
    var celled = leftR
    (0 until dims).foreach { i =>
      celled = celled.withColumn(ordCols(i), explode(sequence(
        quantize(col(leftKeys(i)) - col("__graft_kj_r"),
          m.lows(i), m.highs(i), m.cellBits),
        quantize(col(leftKeys(i)) + col("__graft_kj_r"),
          m.lows(i), m.highs(i), m.cellBits))))
    }
    val leftCelled = celled
      .withColumn("__graft_kj_cell", zorderCells(ordCols.map(col(_)), m.cellBits))
      .drop(ordCols: _*)
    val cellSet = leftCelled.select(col("__graft_kj_cell")).distinct()
      .collect().map(_.getLong(0))
    val top = SpatialOps.topKCounted(leftCelled
        .join(prunedScan(spark, path, m, cellSet.toIndexedSeq),
          col("__graft_kj_cell") === col(CellCol))
        .withColumn("__graft_kj_d", graft.functions.pointDistance(
          leftKeys.map(col(_)), m.keyCols.map(col(_))))
        .filter(col("__graft_kj_d") <= col("__graft_kj_r"))
        .select(outCols :+ col("__graft_kj_d"): _*),
      leftId, k, tieBreak, distCol = "__graft_kj_d")
    // Only a starved left builds the full-layout frame: even a
    // never-executed branch pays the full FILE LISTING at DataFrame
    // creation, and at 2^14 directories that listing dominates
    // (measured 26 s vs the pruned join's 5 s at the 100x slice).
    SpatialOps.withStarved(top.rows, lStats.count - top.nSatisfied)(
      SpatialOps.rescueKeys(SpatialOps.minusByKey(left, top.ids, leftId),
        validated(spark, path, m).drop(CellCol, ZCol, TokenCol), leftKeys, m.keyCols,
        lPts, reach, k, leftId, tieBreak))
  }

  /** The STATIC side of a stream-static spatial join: the
    * token-validated layout with its routing cell exposed as `cellCol`
    * (internals dropped). Pair with [[withQueryCells]] on the stream
    * side and equi-join on the cell. */
  def joinTable(spark: SparkSession, path: String, cellCol: String): DataFrame = {
    val m = readMeta(spark, path)
    validated(spark, path, m).drop(ZCol, TokenCol)
      .withColumnRenamed(CellCol, cellCol)
  }

  /** The layout's key (coordinate) column names, from its meta — what
    * a stream-static join's exact distance predicate compares against
    * [[joinTable]]'s columns. */
  def keyColumns(spark: SparkSession, path: String): Seq[String] =
    readMeta(spark, path).keyCols

  /** The STREAM side's router: explode each row to the coarse cells
    * its `radius`-dilated bbox intersects, emitted as `cellCol` — a
    * STATELESS projection (bounds come from the layout's meta at plan
    * time), so it runs on an unbounded stream. A layout row sits in
    * exactly one cell, so the downstream cell equi-join meets each
    * qualifying pair exactly once; follow with the exact distance
    * predicate. */
  def withQueryCells(df: DataFrame, keys: Seq[String], path: String,
                     radius: Double, cellCol: String): DataFrame = {
    require(radius >= 0, s"radius must be >= 0, got $radius")
    val m = readMeta(df.sparkSession, path)
    require(keys.length == m.keyCols.length,
      s"query dims ${keys.length} != layout dims ${m.keyCols.length}")
    val ordCols = m.keyCols.indices.map(i => s"__graft_qc_o$i")
    var celled = df
    m.keyCols.indices.foreach { i =>
      celled = celled.withColumn(ordCols(i), explode(sequence(
        quantize(col(keys(i)) - radius, m.lows(i), m.highs(i), m.cellBits),
        quantize(col(keys(i)) + radius, m.lows(i), m.highs(i), m.cellBits))))
    }
    celled.withColumn(cellCol, zorderCells(ordCols.map(col), m.cellBits))
      .drop(ordCols: _*)
  }

  /** kNN directly from the layout: walk cells by minDist using the
    * meta's TRUE per-cell stats until the walked cells alone hold at
    * least k rows, take r = the max furthest-corner distance over the
    * walked cells — the circle of radius r then provably contains >= k
    * rows (the in-memory stats-walk argument, at the directory level) —
    * and answer with ONE pruned circle scan + top-k. No
    * count-and-expand round trips; driver state = the meta's bounded
    * cell stats. `tieBreak` makes equal distances deterministic (the
    * in-memory knn contract). */
  def knn(spark: SparkSession, path: String, center: Array[Double],
          k: Int, tieBreak: Seq[String]): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val m = readMeta(spark, path)
    require(center.length == m.keyCols.length,
      s"query dims ${center.length} != layout dims ${m.keyCols.length}")
    def ordered(df: DataFrame): DataFrame = df
      .withColumn("__graft_knn_d",
        graft.functions.pointDistance(m.keyCols.map(col), center.toSeq.map(lit)))
      // null-key rows get a null distance, which asc ranks FIRST: exclude
      .filter(col("__graft_knn_d").isNotNull)
      .orderBy((col("__graft_knn_d").asc +: tieBreak.map(col(_).asc)): _*)
      .limit(k)
      .drop("__graft_knn_d")
    val q = graft.spatial.Point(center)
    val total = m.cells.map(_.count).sum
    if (m.cells.isEmpty || total <= k)
      return ordered(validated(spark, path, m).drop(CellCol, ZCol, TokenCol))
    val byDist = m.cells.sortBy(_.mbr.minDist(q))
    var covered = 0L
    var r = 0.0
    var i = 0
    while (i < byDist.length && covered < k) {
      covered += byDist(i).count
      r = math.max(r, graft.spatial.Dist.furthest(q, byDist(i).mbr))
      i += 1
    }
    ordered(circleRange(spark, path, center, r))
  }
}

/** One written row as the cell-stats aggregate sees it. */
private[index] final case class CellPoint(cell: Long, coords: Array[Double])

/** Per-cell stats in cell order: cell `ids(i)` holds `counts(i)` rows
  * inside the box `lo(i*d until (i+1)*d)`–`hi(...)`. */
private[index] final case class CellStatsOut(ids: Array[Long], counts: Array[Long],
                                             lo: Array[Double], hi: Array[Double])

/** Row count and MBR per cell — the typed, bounded aggregate a layout
  * write observes on its own rows ([[graft.functions.BoundsAggregator]]
  * is the pattern). The buffer maps each cell seen to
  * `[count, lo_0..lo_d-1, hi_0..hi_d-1]`: at most 2^(d*cellBits) <=
  * 2^16 entries, whatever the row count. */
private[index] final class CellStatsAggregator(dims: Int)
    extends org.apache.spark.sql.expressions.Aggregator[CellPoint,
      java.util.HashMap[java.lang.Long, Array[Double]], CellStatsOut] {
  private type Buf = java.util.HashMap[java.lang.Long, Array[Double]]

  override def zero: Buf = new java.util.HashMap[java.lang.Long, Array[Double]]()

  override def reduce(b: Buf, p: CellPoint): Buf = {
    val s = b.get(p.cell)
    if (s == null) b.put(p.cell, 1.0 +: (p.coords ++ p.coords))
    else {
      s(0) += 1.0
      var i = 0
      while (i < dims) {
        s(1 + i) = math.min(s(1 + i), p.coords(i))
        s(1 + dims + i) = math.max(s(1 + dims + i), p.coords(i))
        i += 1
      }
    }
    b
  }

  override def merge(a: Buf, b: Buf): Buf = {
    b.forEach { (cell, t) =>
      val s = a.get(cell)
      if (s == null) a.put(cell, t)
      else {
        s(0) += t(0)
        var i = 0
        while (i < dims) {
          s(1 + i) = math.min(s(1 + i), t(1 + i))
          s(1 + dims + i) = math.max(s(1 + dims + i), t(1 + dims + i))
          i += 1
        }
      }
    }
    a
  }

  override def finish(b: Buf): CellStatsOut = {
    val ids = b.keySet.toArray(Array.empty[java.lang.Long]).map(_.longValue).sorted
    val st = ids.map(c => b.get(c))
    CellStatsOut(ids, st.map(_(0).toLong),
      st.flatMap(_.slice(1, 1 + dims)), st.flatMap(_.slice(1 + dims, 1 + 2 * dims)))
  }

  override def bufferEncoder: org.apache.spark.sql.Encoder[Buf] =
    org.apache.spark.sql.Encoders.kryo[Buf]
  override def outputEncoder: org.apache.spark.sql.Encoder[CellStatsOut] =
    org.apache.spark.sql.Encoders.product[CellStatsOut]
}
