package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables
import graft.functions.VectorFunctions._
import graft.util.AtomicDir

/** One channel's IVF+PQ index — the store's approximate serving path
  * (the reference's return_similar cosine top-n, vector_db.py:684-696,
  * probed instead of scanned). Owns `<store>/ann_index_<channel>/`:
  *
  *  - `cell=<id>/`: the channel's rows ([[IndexSchema]]) with their
  *    search metadata, routed to cells and written as one
  *    doc_name-sorted run per cell per write ([[writeCells]]); the
  *    cells are a [[SortedRuns]] directory, which compacts, deletes
  *    from and recovers them;
  *  - `_codebooks/`: the PQ codebooks (m, k, cv) the 16-byte `codes`
  *    column was encoded with;
  *  - `_centroids/`: the routing table (cell, cv) and the small files
  *    beside it: `_BUILT` (rows at the build),
  *    `_APPENDED` and `_DELETED` (rows since), `_STAMP` (the append
  *    generation tag), `_splits.vN` (the split amendments to the
  *    routing table) and `_docranges.vN` (per-cell doc_name ranges).
  *
  * Every build stages all of it, `_BUILT` included, and swaps it in
  * whole ([[AtomicDir.swap]]). The serving state ([[cached]]: routing
  * table, codebooks, resolved index frame, doc ranges) is cached per
  * GENERATION: the `_centroids` mtime (a build's swap moves it), the
  * `_STAMP` content and the latest `_splits.vN` name. The facade
  * ([[GraftVectorDB]]) runs every mutation under its writer lease and
  * hands the component its channel and a reader of the store. */
private[graft] final class AnnSidecar(spark: SparkSession, storeDir: String,
    val channel: GraftVectorDB.ChannelDef, store: () => DataFrame) {
  import spark.implicits._
  import AnnSidecar._
  import GraftVectorDB.locScoped

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[AnnSidecar])

  private def name = channel.name

  /** The index root. */
  val path: String = s"$storeDir/ann_index_$name"
  private val root = new Path(path)
  private val cDir = new Path(s"$path/_centroids")
  private def fs: FileSystem = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The cells, keyed (cell; doc_name, row_id). */
  private val runs = new SortedRuns(spark, path, "cell", IndexDataSchema, Seq("doc_name", "row_id"))

  /** The channel's rows of `df` — the one channel→predicate mapping,
    * shared by build and append so appended rows can never route
    * differently from built rows. */
  def rowsOf(df: DataFrame): DataFrame =
    df.filter($"content_type".isin(channel.contentTypes: _*))

  private def rowId: Column = xxhash64($"doc_name", $"content_type", $"content_id")

  /** Whether the index has been built. A missing index first attempts
    * [[recoverBuild]]: during a crashed rebuild's between-renames
    * window the only copy sits aside, and a false here would make a
    * delete or maintenance silently skip the channel — for a takedown
    * that is silent retention. */
  def built: Boolean = fs.exists(cDir) || (recoverBuild() && fs.exists(cDir))

  // ───────────────────────── build and append ─────────────────────────

  /** Build (or rebuild) the index over the channel's store rows: one
    * bounded sample job fits both the routing table
    * ([[AnnIndex.centroidsFromSample]]) and the PQ codebooks, then one
    * full pass routes, encodes and writes ([[writeCells]]: at most
    * cells + P − 1 files for P shuffle partitions). Everything stages
    * under `.ann_build_tmp_<channel>` and swaps in at once, so the old
    * index serves until the new one is live. Returns rows indexed. */
  def build(cells: Int): Long = {
    val chan = rowsOf(store())
      .withColumn("row_id", rowId)
      .withColumn("v", toDouble($"embedding"))
    val sample = AnnIndex.sampleVectors(chan.select($"row_id", $"v"), $"row_id")
    val pqBooks = AnnIndex.pqCodebooksFromSample(sample, AnnIndex.PqStoreK)
    val centroids = AnnIndex.centroidsFromSample(spark, sample, cells)
    val indexed = chan.select($"doc_name", $"page_num", $"content_type",
        $"content_id", $"content_raw", $"row_id", $"v", l2Norm($"v").as("nrm"),
        AnnIndex.cellOf(AnnIndex.routingBooks(centroids), $"v").as("cell"),
        AnnIndex.encodeCodes(pqBooks).as("codes"))
    recoverBuild()
    val tmp = s"$storeDir/.ann_build_tmp_$name"
    val tmpC = new Path(s"$tmp/_centroids")
    writeCells(indexed, tmp, SaveMode.Overwrite)
    centroids.write.mode(SaveMode.Overwrite).parquet(tmpC.toString)
    AnnIndex.writeCodebooks(spark, pqBooks, s"$tmp/_codebooks")
    // one column-pruned pass over the staged cells yields the build's
    // size and each cell's doc_name [min, max] (the ranges scoped
    // searches prune cells by, see rankCellsScoped / eligibleCells)
    val stats = spark.read.schema(IndexSchema).option("basePath", tmp)
      .parquet(AnnIndex.visibleEntries(spark, tmp, _.isDirectory): _*).groupBy($"cell")
      .agg(count(lit(1)).as("n"), min($"doc_name").as("mn"), max($"doc_name").as("mx"))
      .collect()
    writeDocRanges(fs, tmpC, stats.map(r => r.getAs[Int]("cell") ->
      (r.getAs[String]("mn"), r.getAs[String]("mx"))).toMap)
    // the drift baseline stages with the index it describes, so no
    // live index lacks it; _APPENDED starts absent (0)
    val n = stats.map(_.getAs[Long]("n")).sum
    AtomicDir.write(fs, new Path(tmpC, "_BUILT"), n.toString)
    AtomicDir.swap(fs, new Path(tmp), root, new Path(s"$storeDir/.ann_build_old_$name"))
    n
  }

  /** Write index rows as one sorted run per cell — the only way
    * [[build]] and [[append]] write them. Range-partitioning on (cell,
    * doc_name) gives every file one contiguous doc_name range of one
    * cell, so a write of P shuffle partitions (after AQE's coalescing)
    * lands at most cells + P − 1 files, and parquet's doc_name min/max
    * stats let a location-filtered search skip row groups. The range
    * sample costs one small extra job per write. */
  private def writeCells(df: DataFrame, path: String, mode: SaveMode): Unit =
    df.repartitionByRange($"cell", $"doc_name")
      .sortWithinPartitions($"cell", $"doc_name")
      .write.mode(mode).partitionBy("cell").parquet(path)

  /** Roll back or forward a crashed [[build]] swap of this channel. Runs
    * on build entry and from [[built]], so serving self-heals without
    * waiting for the next maintenance run; that path runs without the
    * lease, so it touches only this channel's exact names. Returns
    * whether an index was restored. */
  private def recoverBuild(): Boolean = recoverBuilds(fs, storeDir, _ == name)

  /** Extend the index with newly-ingested rows of this channel (others
    * in `records` are dropped): cells come from the persisted routing
    * table and codes from the persisted codebooks (no refit —
    * re-clustering belongs to a rebuild), appended as one new sorted
    * run per touched cell with existing files untouched, so the job is
    * O(|new rows|) however large the index is. Widens the doc ranges
    * first, counts `_APPENDED` and warns past
    * [[GraftVectorDB.AppendRebuildFraction]], then bumps the generation
    * stamp. Returns rows appended. */
  def append(records: DataFrame): Long = {
    val ci = cached
    val indexed = rowsOf(records).withColumn("row_id", rowId)
      .withColumn("v", toDouble($"embedding"))
      .select($"doc_name", $"page_num", $"content_type",
        $"content_id", $"content_raw", $"row_id", $"v",
        l2Norm($"v").as("nrm"), AnnIndex.cellOf(ci.books, $"v").as("cell"),
        AnnIndex.encodeCodes(ci.pqBooks).as("codes"))
    // count the BATCH (bounded by the new rows), never the index — the
    // same pass yields the per-cell doc_name stats, so this is ONE job
    val cellStats = indexed.groupBy($"cell")
      .agg(count(lit(1)).as("n"), min($"doc_name").as("mn"), max($"doc_name").as("mx"))
      .collect()
    val n = cellStats.map(_.getAs[Long]("n")).sum
    if (n > 0) {
      // WIDEN the ranges BEFORE the data lands: a crash between the two
      // leaves ranges wider than the data (harmless); the reverse order
      // could prune cells that already hold the new rows. Only existing
      // entries widen — a cell with no entry (a split child) is
      // always eligible and must stay that way.
      val cur = readDocRanges(fs, cDir)
      val widened = cur ++ cellStats.flatMap { r =>
        val c = r.getAs[Int]("cell")
        cur.get(c).map { case (mn, mx) =>
          c -> (minU8(mn, r.getAs[String]("mn")), maxU8(mx, r.getAs[String]("mx"))) }
      }
      if (widened != cur) writeDocRanges(fs, cDir, widened)
      writeCells(indexed, path, SaveMode.Append)
      // drift accounting: appends route with BUILD-time centroids, so
      // cell geometry degrades as the appended fraction grows — past
      // the measured-safe bound (AnnAppendDriftSpec) the caller must
      // rebuild. Computed once from values in hand: each counter read
      // is a driver FS round-trip on the hot ingest path
      val appended = readCounter("_APPENDED") + n
      writeCounter("_APPENDED", appended)
      // stamp LAST: each replacement under _centroids moves its mtime
      // (a cache-key part), so a reader re-caching before the stamp
      // would re-cache once more after it
      bumpGeneration()
      val frac = appended.toDouble / readCounter("_BUILT")
      if (frac > GraftVectorDB.AppendRebuildFraction)
        log.warn(f"appendAnnIndex('$name'): appended rows now $frac%.2fx " +
          f"the built corpus (> ${GraftVectorDB.AppendRebuildFraction}%.1fx) - " +
          "cell routing uses build-time centroids, so recall degrades from " +
          "here; rebuild with buildAnnIndex to re-fit the geometry")
    }
    n
  }

  /** Append the channel's store rows the index lacks — what a crashed
    * ingest stored without indexing. */
  def appendMissing(): Unit = {
    val missing = Tables.materialize(rowsOf(store())
      .join(cached.index.select($"row_id"), rowId === $"row_id", "left_anti"))
    try if (!missing.isEmpty) append(missing)
    finally Tables.release(missing)
  }

  /** Invalidate every session's cached serving state: rewrite the
    * `_STAMP` tag (see [[cached]]) and drop this JVM's entry directly.
    * A UUID, not nanoTime: two writers in different JVMs could write
    * identical nanoTime tags and leave another session's cached file
    * listing stale. */
  private def bumpGeneration(): Unit = {
    AtomicDir.write(fs, new Path(cDir, "_STAMP"), java.util.UUID.randomUUID().toString)
    routingCache.remove(cDir.toString)
  }

  /** The counters beside the routing table: tiny text files, absent = 0. */
  private def readCounter(counter: String): Long = AtomicDir.readLong(fs, new Path(cDir, counter))
  private def writeCounter(counter: String, v: Long): Unit =
    AtomicDir.write(fs, new Path(cDir, counter), v.toString)

  // ───────────────────────── drift and maintenance ─────────────────────────

  /** Appended rows since the last build as a fraction of the built
    * corpus (0.0 for a never-built index): the knob the rebuild policy
    * reads. */
  def appendFraction: Double = {
    val builtRows = readCounter("_BUILT")
    if (builtRows <= 0) 0.0 else readCounter("_APPENDED").toDouble / builtRows
  }

  /** Whether [[appendFraction]] is past [[GraftVectorDB.AppendRebuildFraction]]. */
  def needsRebuild: Boolean = appendFraction > GraftVectorDB.AppendRebuildFraction

  /** Cell count for a drift-triggered rebuild, from the LIVE index
    * size: rebuilding at the built cell count forever lets a store that
    * grows 10× under streaming ingest grow per-cell occupancy (and
    * every probe scan) 10×, and uniform growth never trips the skew
    * gauge. Holds occupancy at the build-time anchor instead —
    * `cells = builtCells × liveRows / builtRows` — floored at the
    * current routing-table size and capped at
    * [[GraftVectorDB.MaxAdaptiveCells]] (past ~SampleTarget/4 cells
    * the Lloyd init is point-starved). Live rows come from the cell
    * histogram (footer metadata, no job), so appends AND deletes count. */
  def adaptiveCells: Int = {
    val liveCells = cached.books.length
    val live = cellHistogram.values.sum
    val scaled = math.ceil(live.toDouble * liveCells / readCounter("_BUILT")).toInt
    math.max(liveCells, math.min(scaled, GraftVectorDB.MaxAdaptiveCells))
  }

  /** Rebuild at [[adaptiveCells]] — the refit the drift and skew
    * gauges call for; the build's swap keeps the old index serving
    * until the new one is live. */
  def rebuild(): Long = {
    val cells = adaptiveCells
    log.info(s"auto-rebuild: ANN index '$name' appended fraction " +
      f"$appendFraction%.2f tripped the policy - rebuilding " +
      s"at $cells cells (was ${cached.books.length})")
    build(cells)
  }

  /** Rebuild if the appended fraction is past `rebuildAt` (which
    * subsumes compaction), else [[compact]] with hot-cell splitting.
    * Returns (rows compacted, whether a rebuild ran). */
  def maintain(targetFiles: Int, splitSkewedPast: Double, rebuildAt: Double): (Long, Boolean) =
    if (appendFraction > rebuildAt) { rebuild(); (0L, true) }
    else (compact(targetFiles, splitSkewedPast), false)

  private def requireBuilt(): Unit =
    require(built, s"no ANN index for '$name' — run buildAnnIndex first")

  /** Rewrite every cell holding more than `targetFiles` parquet files
    * into `targetFiles` doc_name-sorted files ([[SortedRuns.compact]]:
    * appends add about one file per touched cell per batch, and at
    * scale the small files are the operational killer) — O(touched
    * cells): untouched cells are neither read nor moved. Results are
    * invariant; the generation bumps so cached serving frames re-list.
    * A finite `splitSkewedPast` runs [[splitHot]] first. Returns rows
    * rewritten. */
  def compact(targetFiles: Int, splitSkewedPast: Double): Long = {
    requireBuilt()
    val recovered = recover()
    // split FIRST so the fresh sub-cells (1 file each) need no
    // compaction and the superseded hot cell is never rewritten
    if (!splitSkewedPast.isPosInfinity) splitHot(splitSkewedPast)
    val compacted = runs.compact(targetFiles)
    // bump on RECOVERY too: the crashed compaction never stamped, so a
    // session that listed files while the cell dir was aside would keep
    // serving without the restored cell
    if (compacted.nonEmpty || recovered) bumpGeneration()
    compacted.map(_._2).sum
  }

  /** Per-cell row counts from parquet FOOTERS — driver metadata I/O,
    * no job. The occupancy gauge for routing skew: centroids never
    * refit between rebuilds, so a hot key range concentrates appends
    * into one cell, whose probe scan comes to dominate p99 latency. */
  def cellHistogram: Map[Int, Long] = {
    requireBuilt()
    runs.partitions.map(dir => runs.valueOf(dir).toInt -> runs.rowCount(dir)).toMap
  }

  /** Hottest cell / mean non-empty cell (1.0 balanced, 0.0 empty). */
  def cellSkew: Double = {
    val occ = cellHistogram.values.filter(_ > 0)
    if (occ.isEmpty) 0.0 else occ.max.toDouble * occ.size / occ.sum
  }

  /** Whether [[cellSkew]] is past [[GraftVectorDB.CellSkewRatio]], with
    * the warning the maintenance policy reads. */
  def skewed: Boolean = {
    val s = cellSkew
    val hot = s > GraftVectorDB.CellSkewRatio
    if (hot)
      log.warn(f"ANN index '$name': hottest cell is $s%.1fx the mean occupancy " +
        f"(> ${GraftVectorDB.CellSkewRatio}%.1fx) - one probe scan dominates " +
        "search latency; run splitHotCells (or compactAnnIndex with " +
        "splitSkewedPast) to rebalance without a rebuild")
    hot
  }

  /** Split every cell hotter than `ratio` × the mean occupancy into two
    * sub-cells — O(touched cells), no rebuild: only the hot cell's rows
    * re-fit into 2 sub-centroids, rewrite into two fresh cell dirs, and
    * the routing amendment commits as ONE atomic `_splits.vN` (remove
    * the hot cell, add the two). Before the commit the staged dirs are
    * unreferenced (invisible to every probe) and the source serves;
    * after it the source is unreferenced and the sub-cells serve, so
    * results are complete at every instant, and
    * [[dropUnreferencedCells]] reclaims the dead side. Rounds repeat
    * (a 16× cell needs two) up to [[GraftVectorDB.MaxSplitRounds]].
    * Returns the cells split. */
  def splitHot(ratio: Double): Seq[Int] = {
    requireBuilt()
    recover()
    dropUnreferencedCells()
    val all = scala.collection.mutable.ArrayBuffer.empty[Int]
    // cells whose bisection could not separate rows this call (all
    // coincident vectors) are not re-attempted every round
    val unsplittable = scala.collection.mutable.Set.empty[Int]
    var rounds = 0
    var progressed = true
    while (progressed && rounds < GraftVectorDB.MaxSplitRounds) {
      val occ = cellHistogram.filter(_._2 > 0)
      if (occ.isEmpty) return all.toSeq
      val mean = occ.values.sum.toDouble / occ.size
      // a cell needs at least 4 rows for a meaningful 2-means refit
      val hot = occ.filter { case (c, n) =>
          n > ratio * mean && n >= 4 && !unsplittable.contains(c) }
        .keys.toSeq.sorted
      val results = hot.map(h => h -> splitCell(h))
      results.foreach {
        case (h, true) => all += h
        case (h, false) =>
          unsplittable += h
          log.warn(s"splitHotCells('$name'): cell $h cannot be split " +
            s"(occupancy ${occ(h)} but <2 distinct vectors) — skipping")
      }
      progressed = results.exists(_._2)
      rounds += 1
      if (progressed)
        log.info(s"splitHotCells('$name') round $rounds: split cells " +
          s"${results.collect { case (h, true) => h }.mkString(",")} " +
          s"(occupancy ${hot.map(occ).mkString(",")} vs mean $mean%.1f)")
    }
    if (all.nonEmpty) bumpGeneration()
    all.toSeq
  }

  /** One cell's split: stage two sub-cell dirs, commit the routing
    * amendment, drop the superseded source. Returns false WITHOUT
    * committing or leaving anything when the cell cannot make progress
    * (all rows one point): committing would put a permanently empty
    * twin centroid in the routing table on every maintenance run. */
  private def splitCell(h: Int): Boolean = {
    val cellDir = runs.dir(h.toString)
    val cur = runs.read(cellDir)
    // bounded deterministic sample of THIS cell + driver 2-means
    val sample = AnnIndex.sampleVectors(cur.select($"row_id", $"v"), $"row_id")
    if (sample.map(_.toSeq).distinct.lengthCompare(2) < 0) return false
    val subs = AnnIndex.routingBooks(AnnIndex.centroidsFromSample(spark, sample, 2))
    // fresh ids: the amendment history only appends new ids, so
    // max+1/max+2 never collide with a live or superseded cell
    val maxId = cached.books.map(_._1).max
    val books2 = Array((maxId + 1, subs(0)._2), (maxId + 2, subs(1)._2))
    val assigned = cur.withColumn("cell2", AnnIndex.cellOf(books2, $"v"))
    val sizes = books2.toSeq.map { case (id, _) =>
      runs.rewrite(id.toString, assigned.filter($"cell2" === id).drop("cell2"), 1)
      runs.rowCount(runs.dir(id.toString))
    }
    if (sizes.contains(0L)) {
      // the sample looked separable but the full cell was not: abort,
      // the staged dirs are still unreferenced
      books2.foreach { case (id, _) => fs.delete(runs.dir(id.toString), true) }
      return false
    }
    // COMMIT: one atomic rename of the amendment file
    writeSplits(fs, cDir, readSplits(fs, cDir)._2 ++
      Seq(SplitOp("R", h, Array.empty[Double])) ++
      books2.map { case (id, v) => SplitOp("A", id, v) })
    fs.delete(cellDir, true) // roll forward: the source is unreferenced
    true
  }

  /** Reclaim cell dirs the current routing table does not reference —
    * invisible to every probe: a committed split's superseded source
    * or an uncommitted split's staged outputs. */
  private def dropUnreferencedCells(): Unit = {
    val live = cached.books.map(_._1).toSet
    runs.partitions.filterNot(d => live.contains(runs.valueOf(d).toInt))
      .foreach { d =>
        log.warn(s"ANN index '$name': reclaiming unreferenced $d " +
          "(leftover of an interrupted split)")
        fs.delete(d, true)
      }
  }

  /** Crash recovery of the cells ([[SortedRuns.recover]]: the swaps
    * of [[compact]], [[splitHot]] and the deletes) and of the small and
    * versioned files under `_centroids` ([[AtomicDir.recover]]).
    * Returns whether any cell was restored. */
  def recover(): Boolean = fs.exists(root) && {
    val restored = runs.recover()
    AtomicDir.recover(fs, cDir, ".old_",
      Seq("_splits.v", "_docranges.v", "_STAMP", "_BUILT", "_APPENDED", "_DELETED")
        .map(AtomicDir.stagedPrefix))
    restored
  }

  // ───────────────────────── deletes ─────────────────────────

  /** Drop the named docs' rows, file-granular: one column-pruned,
    * row-group-skipping scan finds the touched cells, and within each
    * only footer-intersecting files rewrite
    * ([[SortedRuns.deleteNames]]). Returns rows removed. */
  def deleteNames(names: Seq[String]): Long = {
    val recovered = recover()
    val touched = cached.index.filter($"doc_name".isin(names: _*))
      .select($"cell").distinct().collect().map(_.getInt(0)).sorted
    val removed = touched.map(c => runs.deleteNames(c.toString, names)).sum
    deleted(touched.nonEmpty || recovered, removed)
  }

  /** Drop the rows `hit` matches: one column-pruned scan finds the
    * touched cells, each of which rewrites its `keep` rows at its file
    * count ([[SortedRuns.deleteWhere]]) — O(touched cells). Returns
    * rows removed. */
  def deleteWhere(hit: Column, keep: Column): Long = {
    val recovered = recover()
    val touched = cached.index.filter(hit).select($"cell").distinct()
      .collect().map(_.getInt(0)).sorted
    val removed = touched.map(c => runs.deleteWhere(c.toString, keep)).sum
    deleted(touched.nonEmpty || recovered, removed)
  }

  /** A delete's bookkeeping: bump the generation if anything moved and
    * count `_DELETED` (observability only — removing rows does not
    * degrade the geometry, so the drift gauge is untouched). */
  private def deleted(moved: Boolean, removed: Long): Long = {
    if (moved) bumpGeneration()
    if (removed > 0) writeCounter("_DELETED", readCounter("_DELETED") + removed)
    removed
  }

  // ───────────────────────── serving state ─────────────────────────

  /** The routing table, codebooks, resolved index frame and doc ranges,
    * cached per generation (see the class doc). The staleness check is
    * a few driver FS metadata calls and two tiny file reads — no Spark
    * job, no parquet read on the warm path; the writers here also drop
    * this JVM's entry directly. */
  private[graft] def cached: CachedAnnIndex = {
    // a contract error beats the FileNotFoundException below for a
    // never-built index ([[built]] first rolls back a crashed rebuild)
    if (!built)
      throw new IllegalStateException(
        s"ANN index '$name' has not been built (no $path/_centroids) — " +
          s"run buildAnnIndex(channel = \"$name\") first")
    // the stamp's CONTENT, not its mtime: appends add files inside
    // existing cell dirs (the root mtime does not move), and two stamps
    // within one mtime tick would leave a cached file listing stale
    val stampTag = AtomicDir.read(fs, new Path(cDir, "_STAMP")).getOrElse("")
    val (splitsTag, splitOps) = readSplits(fs, cDir)
    val gen = s"${fs.getFileStatus(cDir).getModificationTime}:$stampTag:$splitsTag"
    Option(routingCache.get(cDir.toString)) match {
      case Some(c) if c.gen == gen && (c.index.sparkSession eq spark) => c
      case _ =>
        val baseBooks = AnnIndex.routingBooks(AnnIndex.readParts(spark, cDir.toString))
        val idx = spark.read.schema(IndexSchema).parquet(path)
        // footer-stats count, once per generation: sizes the adaptive
        // PQ shortlist (and nothing else) — no data scan
        val c = CachedAnnIndex(gen, applySplits(baseBooks, splitOps),
          AnnIndex.readCodebooks(spark, s"$path/_codebooks"), idx,
          readDocRanges(fs, cDir), idx.count())
        routingCache.put(cDir.toString, c)
        c
    }
  }

  // ───────────────────────── probes ─────────────────────────

  /** Rank probe cells for one query vector — driver arithmetic with
    * the ASSIGNMENT metric (L2 argmin as dot − |c|²/2), so a query's
    * own cell always ranks first. */
  private def rankAmong(books: Array[(Int, Array[Double])],
      qv: Array[Double], nProbe: Int): Seq[Int] =
    books
      .map { case (cell, c) =>
        var d = 0.0; var i = 0
        while (i < c.length) { d += qv(i) * c(i); i += 1 }
        (cell, d - c.map(x => x * x).sum / 2) }
      .sortBy { case (cell, d) => (-d, cell) }
      .take(nProbe).map(_._1).toSeq

  /** Can this cell hold a row matching EVERY prefix in scope? The doc
    * range is a superset of the cell's live doc_names (build exact,
    * appends widen first, deletes only shrink content), so `false` is
    * a proof; a cell with no range (a split child) is always eligible. */
  private def cellEligible(ci: CachedAnnIndex, cell: Int, prefixes: Seq[String]): Boolean =
    prefixes.forall(p => ci.docRanges.get(cell).forall {
      case (mn, mx) => rangeMayContainPrefix(mn, mx, p) })

  /** The scope-eligible cell set — what escalation probes instead of
    * all cells, so a narrow tenant scope re-probes only its own. */
  private def eligibleCells(ci: CachedAnnIndex, prefixes: Seq[String]): Seq[Int] =
    ci.books.map(_._1).filter(c => cellEligible(ci, c, prefixes)).toSeq

  /** Spec hook: the eligible set for a scope without running a search. */
  private[graft] def eligibleCells(prefixes: Seq[String]): Seq[Int] =
    eligibleCells(cached, prefixes)

  /** The `nProbe` best cells among the scope-eligible ones: a scoped
    * query spends its budget on cells that can hold in-scope rows. */
  private def rankCellsScoped(ci: CachedAnnIndex, qv: Array[Double], nProbe: Int,
      prefixes: Seq[String]): Seq[Int] =
    rankAmong(ci.books.filter(b => cellEligible(ci, b._1, prefixes)), qv, nProbe)

  private def norm(qv: Array[Double]): Double = math.sqrt(qv.map(x => x * x).sum)

  /** Embed the query and rank its probe cells — all driver arithmetic.
    * AutoNProbe resolves against the LIVE cell count. */
  private def probe(query: String, nProbe: Int, location: Option[String])
      : (CachedAnnIndex, Array[Double], Double, Seq[Int]) = {
    val ci = cached
    val qv = channel.encodeLocal(query)
    (ci, qv, norm(qv),
      rankCellsScoped(ci, qv, AnnIndex.resolveNProbe(nProbe, ci.books.length), location.toSeq))
  }

  // ───────────────────────── IVF search ─────────────────────────

  /** Approximate search: the query routes to its `nProbe` nearest
    * cells and ONLY those cells' files are scanned — the
    * partition-pruned twin of the exact search's full-channel scan.
    * `location` (get_search_range's folder prefix, vector_db.py:673-682)
    * filters INSIDE the pruned scan. One Spark job warm: the routing
    * table and index frame are [[cached]], the query embeds
    * driver-side, ranks attach to the ≤ topN collected rows.
    *
    * PROBE ESCALATION: a scope concentrated in cells the ranking never
    * probes (or probed cells holding fewer than topN rows) under-fills
    * the result; one more pass over every scope-eligible cell then
    * returns exactly the filtered exact scan's answer
    * (AnnSparseScopeSpec). Filled searches never pay it. Output = the
    * exact search's contract. */
  def search(query: String, topN: Int, nProbe: Int, location: Option[String]): DataFrame = {
    val first = scanPlan(query, topN, nProbe, location).collect()
    val hits =
      if (first.length >= topN) first
      else {
        val ci = cached
        val eligible = eligibleCells(ci, location.toSeq).length
        if (AnnIndex.resolveNProbe(nProbe, ci.books.length) >= eligible) first
        else scanPlan(query, topN, eligible, location).collect()
      }
    hits.zipWithIndex.map { case (r, i) =>
      ((i + 1).toLong, r.getAs[Double]("sim_r"), r.getAs[String]("doc_name"),
        r.getAs[Long]("page_num"), r.getAs[String]("content_type"),
        r.getAs[String]("content_id"), r.getAs[String]("content_raw"), name)
    }.toSeq.toDF("rnk", "sim_r", "doc_name", "page_num",
      "content_type", "content_id", "content_raw", "channel")
  }

  /** The lazy pruned-scan top-k frame behind [[search]] — exposed so
    * specs can assert the pruning on the un-executed plan. The query
    * vector inlines as a LITERAL (no join side, one job even under
    * AQE); the location's StartsWith pushes to parquet, and doc_name-
    * sorted cells make it a row-group-skipping scan. */
  private[graft] def scanPlan(query: String, topN: Int, nProbe: Int,
      location: Option[String] = None): DataFrame = {
    val (ci, qv, qnrm, probed) = probe(query, nProbe, location)
    locScoped(ci.index.filter($"cell".isin(probed: _*)), location)
      .select(round(cosine(typedLit(qv.toSeq), $"v", lit(qnrm), $"nrm"), 4).as("sim_r"),
        $"doc_name", $"page_num", $"content_type", $"content_id", $"content_raw",
        $"row_id")
      .orderBy($"sim_r".desc, $"row_id")
      .limit(topN)
  }

  /** Batch twin of [[search]]: the N queries' probe sets union into ONE
    * partition-pruned scan, each query scoring only its own probed
    * cells (a broadcast equi-join of the (q_id, cell, qv) probe list),
    * per-query top-k by the payload-carrying `TopKRows` aggregate —
    * per-query results identical to N × [[search]]. Queries that
    * under-fill while eligible cells remain escalate together in ONE
    * extra pass over just that subset. An optional `q_loc` column
    * narrows each query's scope within the call-level `location`.
    * Output = the exact batch search's contract. */
  def searchAll(queries: DataFrame, topN: Int, nProbe: Int,
      location: Option[String]): DataFrame = {
    val ci = cached
    val qs = GraftVectorDB.batchQueries(queries, "searchAllAnn")
    val np = AnnIndex.resolveNProbe(nProbe, ci.books.length)
    val first = batchTopKOf(ci, probeRows(ci, qs, np, location), topN, location).collect()
    val cells = ci.books.length
    val rows =
      if (np >= cells) first
      else {
        val filled = first.groupBy(_.getAs[Long]("q_id"))
        val under = qs.filter { case (id, _, loc) =>
          filled.get(id).forall(_.length < topN) &&
            np < eligibleCells(ci, location.toSeq ++ loc.toSeq).length }
        if (under.isEmpty) first
        else {
          val underIds = under.map(_._1).toSet
          first.filterNot(r => underIds(r.getAs[Long]("q_id"))) ++
            batchTopKOf(ci, probeRows(ci, under, cells, location), topN, location).collect()
        }
      }
    // (q_id, rnk) order is driver work over ≤ N×topN rows — a Spark
    // orderBy would pay a range exchange's sampling jobs
    rows.map { r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("rnk"), r.getAs[Double]("sim_r"),
        r.getAs[String]("doc_name"), r.getAs[Long]("page_num"),
        r.getAs[String]("content_type"), r.getAs[String]("content_id"),
        r.getAs[String]("content_raw"), r.getAs[String]("channel"))
    }.toSeq.sortBy(t => (t._1, t._2))
      .toDF("q_id", "rnk", "sim_r", "doc_name", "page_num",
        "content_type", "content_id", "content_raw", "channel")
  }

  /** (q_id, qv, qnrm, cell, q_loc) per probed cell of each query — each
    * query's budget spent on ITS scope-eligible cells. */
  private def probeRows(ci: CachedAnnIndex, qs: Seq[(Long, String, Option[String])],
      nProbe: Int, location: Option[String]): Seq[(Long, Seq[Double], Double, Int, String)] = {
    val np = AnnIndex.resolveNProbe(nProbe, ci.books.length)
    qs.flatMap { case (id, text, loc) =>
      val qv = channel.encodeLocal(text)
      val qnrm = norm(qv)
      rankCellsScoped(ci, qv, np, location.toSeq ++ loc.toSeq)
        .map(cell => (id, qv.toSeq, qnrm, cell, loc.orNull))
    }
  }

  /** The lazy batch top-k frame: ONE scan of the union of probed cells;
    * a per-query `q_loc` filters in the same stage, before the top-k. */
  private def batchTopKOf(ci: CachedAnnIndex,
      probes: Seq[(Long, Seq[Double], Double, Int, String)], topN: Int,
      location: Option[String]): DataFrame = {
    val unionCells = probes.map(_._4).distinct
    val joined = locScoped(ci.index.filter($"cell".isin(unionCells: _*)), location)
      .join(broadcast(probes.toDF("q_id", "qv", "qnrm", "cell", "q_loc")), "cell")
    val pairs = (if (probes.exists(_._5 != null))
        joined.filter($"q_loc".isNull || $"doc_name".startsWith($"q_loc"))
      else joined)
      .select($"q_id", round(cosine($"qv", $"v", $"qnrm", $"nrm"), 4).as("sim_r"),
        $"row_id", struct($"doc_name", $"page_num", $"content_type", $"content_id",
          $"content_raw").as("meta"))
    GraftVectorDB.batchTopK(pairs, topN, name)
  }

  /** The lazy first-pass batch plan — spec hook for the single pruned
    * scan and the probe-set union. */
  private[graft] def allScanPlan(queries: DataFrame, topN: Int, nProbe: Int,
      location: Option[String] = None): DataFrame = {
    val ci = cached
    val qs = GraftVectorDB.batchQueries(queries, "annAllScanPlan")
    batchTopKOf(ci, probeRows(ci, qs, nProbe, location), topN, location)
  }

  // ───────────────────────── IVF+PQ search ─────────────────────────

  /** IVF+PQ search: the shortlist pass reads ONLY the narrow columns
    * (row_id, nrm, codes) of the probed cells — partition- and
    * column-pruned, constant bytes per row however fat the records —
    * then the ≤ `shortlist` winners' vectors and metadata are fetched
    * by row_id for the exact re-rank. Two Spark jobs warm; `nProbe =
    * cells` with `shortlist ≥ channel rows` reproduces the exact search
    * verbatim. AutoShortlist scales with the rows the ADC pass selects
    * from. Escalates like [[search]]. */
  def searchPq(query: String, topN: Int, nProbe: Int, shortlist0: Int,
      location: Option[String]): DataFrame = {
    // ONE probe computation shared by both phases, so the two cannot
    // straddle a generation
    val (ci, qv, qnrm, probed0) = probe(query, nProbe, location)
    val shortlist =
      if (shortlist0 > 0) shortlist0
      else AnnIndex.autoShortlist(ci.rows, ci.books.length,
        AnnIndex.resolveNProbe(nProbe, ci.books.length))
    val ids0 = pqShortlistOf(ci, qv, probed0, shortlist, location)
      .collect().map(_.getAs[Long]("row_id"))
    val eligible = eligibleCells(ci, location.toSeq)
    val escalate = ids0.length < topN && probed0.length < eligible.length
    val probed = if (escalate) eligible else probed0
    val ids =
      if (escalate) pqShortlistOf(ci, qv, probed, shortlist, location)
        .collect().map(_.getAs[Long]("row_id"))
      else ids0
    // an UNTRUNCATED shortlist covers the whole scan: no id filter
    val fetched = fetchShortlist(ci, probed, ids.toSeq, location,
      ids.length < shortlist).collect()
    pqExactReRank(fetched.toSeq, qv, qnrm, topN)
      .zipWithIndex.map { case ((s, r), i) =>
        ((i + 1).toLong, s, r.getAs[String]("doc_name"),
          r.getAs[Long]("page_num"), r.getAs[String]("content_type"),
          r.getAs[String]("content_id"), r.getAs[String]("content_raw"), name)
      }.toDF("rnk", "sim_r", "doc_name", "page_num",
        "content_type", "content_id", "content_raw", "channel")
  }

  /** The lazy ADC-shortlist frame behind [[searchPq]] — spec hook for
    * partition AND column pruning (the scan must not read `v` or
    * `content_raw`). */
  private[graft] def pqShortlistPlan(query: String, nProbe: Int, shortlist: Int,
      location: Option[String] = None): DataFrame = {
    val (ci, qv, _, probed) = probe(query, nProbe, location)
    pqShortlistOf(ci, qv, probed, shortlist, location)
  }

  /** ADC score = Σ_m dt[m][codes[m]] / nrm with the per-query tables
    * inlined as literals — a narrow projection over the pruned scan.
    * The location filter belongs HERE, before the bounded shortlist,
    * or out-of-scope rows would crowd it. */
  private def pqShortlistOf(ci: CachedAnnIndex, qv: Array[Double], probed: Seq[Int],
      shortlist: Int, location: Option[String]): DataFrame = {
    val score = AnnIndex.adcTablesLocal(ci.pqBooks, qv).toSeq.zipWithIndex.map {
      case (dt, m) => element_at(typedLit(dt.toSeq), element_at($"codes", m + 1) + 1)
    }.reduce(_ + _) / $"nrm"
    locScoped(ci.index.filter($"cell".isin(probed: _*)), location)
      .select($"row_id", score.as("adc"))
      .orderBy($"adc".desc, $"row_id")
      .limit(shortlist)
  }

  /** Batch twin of [[searchPq]]: N queries' ADC shortlists from ONE
    * pruned scan of the unioned probe sets (each query's tables ride a
    * broadcast equi-join on q_id, so a row scores only against queries
    * probing its cell), per-query shortlists by the bounded
    * `TopKByScore` aggregate, an escalation pass for under-filled
    * queries only, then ONE fetch of the unioned shortlists for the
    * driver-side exact re-rank — two scans for the batch instead of 2N,
    * per-query results identical to N × [[searchPq]]. A per-query
    * `q_loc` filters inside the ADC stage. */
  def searchAllPq(queries: DataFrame, topN: Int, nProbe: Int, shortlist: Int,
      location: Option[String]): DataFrame = {
    val (ci, qInfo) = batchPqProbe(queries, nProbe, location)
    val np = AnnIndex.resolveNProbe(nProbe, ci.books.length)
    val effShortlist =
      if (shortlist > 0) shortlist else AnnIndex.autoShortlist(ci.rows, ci.books.length, np)
    val shortByQ0 = batchPqShortlistOf(ci, qInfo, effShortlist, location).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("row_id")).toSet }
    val under =
      if (np >= ci.books.length) Seq.empty
      else qInfo.filter { case (id, _, _, probedCells, _, loc) =>
        shortByQ0.get(id).forall(_.size < topN) &&
          probedCells.length < eligibleCells(ci, location.toSeq ++ loc.toSeq).length }
    val (shortByQ, unionCells) =
      if (under.isEmpty) (shortByQ0, qInfo.flatMap(_._4).distinct)
      else {
        val escInfo = under.map { case (id, qv, qnrm, _, dts, loc) =>
          (id, qv, qnrm, eligibleCells(ci, location.toSeq ++ loc.toSeq), dts, loc) }
        val escByQ = batchPqShortlistOf(ci, escInfo, effShortlist, location)
          .collect().groupBy(_.getAs[Long]("q_id"))
          .map { case (q, rs) => q -> rs.map(_.getAs[Long]("row_id")).toSet }
        // an escalated query that STILL has no rows keeps an empty set
        val underIds = under.map(_._1)
        ((shortByQ0 -- underIds) ++ underIds.map(id => id -> escByQ.getOrElse(id, Set.empty[Long])),
          (qInfo.flatMap(_._4) ++ escInfo.flatMap(_._4)).distinct)
      }
    // every query's shortlist untruncated ⇒ every scanned row is in the
    // union and the id filter is a no-op — unless a per-query scope
    // FILTERED rows the fetch would not (then ids bound the fetch)
    val coverScan = qInfo.forall(_._6.isEmpty) && shortByQ.values.forall(_.size < effShortlist)
    val fetched = fetchShortlist(ci, unionCells, shortByQ.values.flatten.toSeq.distinct,
      location, coverScan).collect()
    // GROUPED by row_id: an xxhash64 collision fetches both rows under
    // one id, and the single-query path re-ranks every fetched row
    val byId = fetched.groupBy(_.getAs[Long]("row_id"))
    qInfo.flatMap { case (id, qv, qnrm, _, _, _) =>
      val cand = shortByQ.getOrElse(id, Set.empty[Long]).toSeq
        .flatMap(rid => byId.getOrElse(rid, Array.empty[Row]))
      pqExactReRank(cand, qv, qnrm, topN).zipWithIndex.map { case ((s, r), i) =>
        (id, (i + 1).toLong, s, r.getAs[String]("doc_name"),
          r.getAs[Long]("page_num"), r.getAs[String]("content_type"),
          r.getAs[String]("content_id"), r.getAs[String]("content_raw"), name)
      }
    }.sortBy(t => (t._1, t._2))
      .toDF("q_id", "rnk", "sim_r", "doc_name", "page_num",
        "content_type", "content_id", "content_raw", "channel")
  }

  private type PqQuery = (Long, Array[Double], Double, Seq[Int], Array[Array[Double]], Option[String])

  /** Collect, embed and probe-rank a query batch, with each query's ADC
    * tables — driver arithmetic. */
  private def batchPqProbe(queries: DataFrame, nProbe: Int,
      location: Option[String]): (CachedAnnIndex, Seq[PqQuery]) = {
    val ci = cached
    val qs = GraftVectorDB.batchQueries(queries, "searchAllAnnPq")
    val qInfo = qs.map { case (id, text, loc) =>
      val qv = channel.encodeLocal(text)
      (id, qv, norm(qv),
        rankCellsScoped(ci, qv, AnnIndex.resolveNProbe(nProbe, ci.books.length),
          location.toSeq ++ loc.toSeq),
        AnnIndex.adcTablesLocal(ci.pqBooks, qv), loc)
    }
    (ci, qInfo)
  }

  /** The lazy batch ADC-shortlist frame (q_id, row_id). The probe list
    * broadcasts as (q_id, cell) pairs and each query's tables join once
    * by q_id (carrying them on the pairs would ship nProbe copies); only
    * a batch that carries a scope pays the doc_name column. */
  private def batchPqShortlistOf(ci: CachedAnnIndex, qInfo: Seq[PqQuery],
      shortlist: Int, location: Option[String]): DataFrame = {
    val cellFrame = qInfo.flatMap { case (id, _, _, cells, _, loc) =>
      cells.map(c => (id, c, loc.orNull)) }.toDF("q_id", "cell", "q_loc")
    val dtFrame = qInfo.map { case (id, _, _, _, dts, _) =>
      (id, dts.map(_.toSeq).toSeq) }.toDF("q_id", "dt")
    val score = ci.pqBooks.indices.map(i =>
      element_at(element_at($"dt", i + 1), element_at($"codes", i + 1) + 1))
      .reduce(_ + _) / $"nrm"
    val joined = locScoped(ci.index.filter($"cell".isin(qInfo.flatMap(_._4).distinct: _*)),
      location).join(broadcast(cellFrame), "cell")
    (if (qInfo.exists(_._6.isDefined))
        joined.filter($"q_loc".isNull || $"doc_name".startsWith($"q_loc"))
      else joined)
      .join(broadcast(dtFrame), "q_id")
      .select($"q_id", score.as("adc"), $"row_id")
      .groupBy($"q_id")
      .agg(graft.functions.expressions.TopKByScore($"adc", $"row_id", shortlist).as("top"))
      .select($"q_id", explode($"top").as("t"))
      .select($"q_id", $"t.id".as("row_id"))
  }

  /** Spec hook: the batch ADC-shortlist frame. */
  private[graft] def allPqShortlistPlan(queries: DataFrame, nProbe: Int, shortlist: Int,
      location: Option[String] = None): DataFrame = {
    val (ci, qInfo) = batchPqProbe(queries, nProbe, location)
    batchPqShortlistOf(ci, qInfo, shortlist, location)
  }

  /** Spec hook: the batch shortlist-FETCH frame (no giant In literal,
    * one index read). */
  private[graft] def allPqFetchPlan(queries: DataFrame, nProbe: Int, shortlist: Int,
      location: Option[String] = None): DataFrame = {
    val (ci, qInfo) = batchPqProbe(queries, nProbe, location)
    val short = batchPqShortlistOf(ci, qInfo, shortlist, location).collect()
    val coverScan = qInfo.forall(_._6.isEmpty) &&
      short.groupBy(_.getAs[Long]("q_id")).values.forall(_.length < shortlist)
    fetchShortlist(ci, qInfo.flatMap(_._4).distinct,
      short.map(_.getAs[Long]("row_id")).distinct.toSeq, location, coverScan)
  }

  /** Fetch index rows by id within the probed cells — the second scan
    * of every PQ path. Serving-sized id lists inline as an In
    * predicate; past [[GraftVectorDB.InLiteralMax]] they ride a
    * broadcast equi-join (a 10⁵-literal In bloats analysis and codegen
    * long before data size matters). When the ids cover the scan (an
    * untruncated shortlist) the id filter is skipped and the location
    * scope re-applies here instead. */
  private def fetchShortlist(ci: CachedAnnIndex, cells: Seq[Int], ids: Seq[Long],
      location: Option[String], idsCoverScan: Boolean): DataFrame = {
    val pruned = ci.index.filter($"cell".isin(cells: _*))
    val byId =
      if (idsCoverScan) locScoped(pruned, location)
      else if (ids.length <= GraftVectorDB.InLiteralMax) pruned.filter($"row_id".isin(ids: _*))
      else pruned.join(broadcast(ids.distinct.toDF("row_id")), "row_id")
    byId.select($"row_id", $"v", $"nrm", $"doc_name", $"page_num",
      $"content_type", $"content_id", $"content_raw")
  }

  /** Exact re-rank of fetched shortlist rows against one query — the
    * ONE definition the single and batch PQ paths share, so their
    * rounding and tie-breaks cannot diverge. Returns the topN (rounded
    * score, row) pairs, score-desc / row_id-asc. */
  private def pqExactReRank(fetched: Seq[Row], qv: Array[Double], qnrm: Double,
      topN: Int): Seq[(Double, Row)] = {
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    fetched.map { r =>
      val v = r.getSeq[Double](r.fieldIndex("v"))
      var d = 0.0; var i = 0
      while (i < qv.length) { d += qv(i) * v(i); i += 1 }
      (r4(d / (qnrm * r.getAs[Double]("nrm"))), r)
    }.sortBy { case (s, r) => (-s, r.getAs[Long]("row_id")) }.take(topN)
  }
}

private[graft] object AnnSidecar {

  /** The index rows' declared schema: the data columns of a cell dir
    * ([[IndexDataSchema]]) plus the `cell` partition column. */
  private[operators] val IndexDataSchema: StructType = StructType.fromDDL(
    "doc_name string, page_num bigint, content_type string, content_id string, " +
      "content_raw string, row_id bigint, v array<double>, nrm double, codes array<int>")
  private[operators] val IndexSchema: StructType = IndexDataSchema.add("cell", "int")

  /** Roll back or forward the crashed build swaps of the channels
    * `accept` takes ([[AtomicDir.recover]] over the store root). */
  private[operators] def recoverBuilds(fs: FileSystem, storeDir: String,
      accept: String => Boolean): Boolean =
    AtomicDir.recover(fs, new Path(storeDir), ".ann_build_old_",
      Seq(".ann_build_tmp_"), ch => s"ann_index_$ch", accept)

  /** One index generation's serving state: routing table, PQ codebooks,
    * resolved index frame, per-cell doc_name ranges (a cell without one
    * is eligible for every scope) and the row count. */
  private[operators] final case class CachedAnnIndex(gen: String,
      books: Array[(Int, Array[Double])],
      pqBooks: Array[Array[Array[Double]]],
      index: DataFrame,
      docRanges: Map[Int, (String, String)],
      rows: Long)

  /** Serving-state cache keyed by the `_centroids` path (absolute, so
    * safe across db instances); entries are tiny (routing rows,
    * codebooks, a lazy frame). */
  private[graft] val routingCache =
    new java.util.concurrent.ConcurrentHashMap[String, CachedAnnIndex]

  /** One routing-table amendment: op "R" removes a cell's centroid, op
    * "A" adds one — the split log at `_centroids/_splits.vN`, one
    * atomic rename per version. */
  private[operators] final case class SplitOp(op: String, cell: Int, cv: Array[Double])

  /** The latest amendment file: (version tag for the cache generation,
    * parsed ops); ("", Nil) when no split ever committed. */
  private[operators] def readSplits(fs: FileSystem, cDir: Path): (String, Seq[SplitOp]) =
    AtomicDir.readLatest(fs, cDir, "_splits.v").fold(("", Seq.empty[SplitOp])) {
      case (name, text) => name -> text.split("\n").filter(_.nonEmpty).map { line =>
        val parts = line.split(",", 3)
        SplitOp(parts(0), parts(1).toInt,
          if (parts.length < 3 || parts(2).isEmpty) Array.empty[Double]
          else parts(2).split(" ").map(java.lang.Double.parseDouble))
      }.toSeq
    }

  /** Commit an amendment history as the next `_splits.vN` (doubles
    * round-trip exactly through toString / parseDouble). */
  private[operators] def writeSplits(fs: FileSystem, cDir: Path, ops: Seq[SplitOp]): Unit =
    AtomicDir.commitVersion(fs, cDir, "_splits.v", ops.map(o =>
      s"${o.op},${o.cell},${o.cv.map(_.toString).mkString(" ")}").mkString("\n"))

  /** The base routing table with the amendments applied, in cell-id
    * order (deterministic probe tie-breaks). */
  private[operators] def applySplits(base: Array[(Int, Array[Double])],
      ops: Seq[SplitOp]): Array[(Int, Array[Double])] = {
    val m = scala.collection.mutable.LinkedHashMap(base.toSeq: _*)
    ops.foreach {
      case SplitOp("R", cell, _) => m.remove(cell)
      case SplitOp("A", cell, cv) => m.put(cell, cv)
      case SplitOp(op, cell, _) => throw new IllegalStateException(
        s"unknown _splits op '$op' for cell $cell")
    }
    m.toArray.sortBy(_._1)
  }

  // ---- per-cell doc_name ranges ---------------------------------------
  // `_centroids/_docranges.vN`: one line per cell, `cell\tb64(min)\tb64(max)`.
  // Written whole at build (staged with the index) and WIDENED before
  // every append's data commit, so a crash between the two leaves ranges
  // wider than the data, which can never prune a live row. Comparisons
  // are unsigned UTF-8 byte order — the order of Spark's string min/max
  // and StartsWith — so the pruning proof matches the filter the scan runs.

  private def u8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def cmpU8(a: Array[Byte], b: Array[Byte]): Int = java.util.Arrays.compareUnsigned(a, b)

  /** The byte-order smaller / larger of two strings (append widening). */
  private[operators] def minU8(a: String, b: String): String =
    if (cmpU8(u8(a), u8(b)) <= 0) a else b
  private[operators] def maxU8(a: String, b: String): String =
    if (cmpU8(u8(a), u8(b)) >= 0) a else b

  /** Can a doc_name inside [mn, mx] (byte order) start with `prefix`?
    * Strings with the prefix occupy [p, upper(p)) where upper increments
    * p's last non-0xFF byte — the cell is skippable iff its whole range
    * falls outside that window. */
  private[operators] def rangeMayContainPrefix(mn: String, mx: String,
      prefix: String): Boolean = {
    val p = u8(prefix)
    if (cmpU8(u8(mx), p) < 0) return false
    var i = p.length - 1
    while (i >= 0 && p(i) == -1) i -= 1
    if (i < 0) true // prefix is all 0xFF bytes: no finite upper bound
    else {
      val upper = java.util.Arrays.copyOf(p, i + 1)
      upper(i) = (upper(i) + 1).toByte
      cmpU8(u8(mn), upper) < 0
    }
  }

  private[operators] def readDocRanges(fs: FileSystem, cDir: Path): Map[Int, (String, String)] = {
    val dec = java.util.Base64.getDecoder
    AtomicDir.readLatest(fs, cDir, "_docranges.v").fold(Map.empty[Int, (String, String)]) {
      case (_, text) => text.split("\n").filter(_.nonEmpty).flatMap { l =>
        l.split("\t") match {
          case Array(c, mn, mx) => c.toIntOption.map(_ ->
            (new String(dec.decode(mn), "UTF-8"), new String(dec.decode(mx), "UTF-8")))
          case _ => None
        }
      }.toMap
    }
  }

  private[operators] def writeDocRanges(fs: FileSystem, cDir: Path,
      ranges: Map[Int, (String, String)]): Unit = {
    val enc = java.util.Base64.getEncoder
    AtomicDir.commitVersion(fs, cDir, "_docranges.v",
      ranges.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
        s"$c\t${enc.encodeToString(u8(mn))}\t${enc.encodeToString(u8(mx))}"
      }.mkString("\n"))
  }
}
