package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.model.ContentTypes
import graft.util.AtomicDir

/** The user-facing vector database — the reference's `VectorDatabase`
  * class surface (vector_db.py:27-229, 615-759), batch-native:
  *
  *  - `ingest` = vectorize_folder: corpus → chunk → embed → store,
  *    skipping docs whose content hash is already present
  *    (file_already_processed, :431-434). One declarative plan; the
  *    dedup check is a broadcast anti-join against the store's hash
  *    set, not a per-file loop.
  *  - the store persists as parquet partitioned by content_type
  *    (_save_vector_db/_load_pickle, :160-238) — at 100 TB that is
  *    the layout that lets a text-only search prune the image
  *    partitions at the scan. The partitions are a [[SortedRuns]]
  *    directory, which compacts, deletes from and recovers them.
  *  - `search` = run_search text mode; `searchMultimodal` = text_image
  *    mode (both channels, unioned, channel-tagged);
  *    `searchIn` = get_search_range's location filter (:673-682).
  *    Results are the source manifest (generate_source_list, :903-916).
  *  - image rows carry a deterministic caption row into the text
  *    channel — the shape of blip/openai captioning (:547-596) with
  *    the model call stubbed (no image models in this environment).
  *  - each registered channel's IVF+PQ index is an [[AnnSidecar]]:
  *    the `*Ann*` methods forward to it under the writer lease.
  */
class GraftVectorDB(spark: SparkSession, storeDir: String) {
  import spark.implicits._
  import GraftVectorDB.locScoped

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[GraftVectorDB])

  def storePath: String = s"$storeDir/vector_store"

  /** The records, keyed (content_type; doc_name, page_num). */
  private val records = new SortedRuns(spark, storePath, "content_type",
    GraftVectorDB.StoreDataSchema, Seq("doc_name", "page_num"))

  // ---- single-writer lease --------------------------------------------
  // The store's mutation protocols (rename swaps, stamp bumps, sidecar
  // widening) assume ONE writer; until round 8 that was convention
  // only — two sessions calling maintain() concurrently would
  // interleave rename protocols undetected. Every mutating entrypoint
  // now runs under a `_LOCK` lease: `uuid\theartbeatMillis`, created
  // exclusively (no overwrite); a second writer fails loudly instead
  // of corrupting, and a CRASHED holder's lease (heartbeat older than
  // [[GraftVectorDB.LeaseStaleMs]]) is reclaimed. Nested mutations
  // (ingest → appendAnnIndex, maintainStore → compact/rebuild) share
  // this writer's lease via a hold count, and every nested entry
  // refreshes the heartbeat so a long maintenance run is not "stale".
  // The reclaim has the usual lock-file caveat: two writers racing a
  // stale lease within one create round-trip can both win — the lease
  // is a loud-failure guard for the supported single-writer contract,
  // not a distributed lock manager.

  private val writerId = java.util.UUID.randomUUID().toString
  private var leaseDepth = 0
  // serializes same-instance writers across threads (a streaming
  // foreachBatch ingest vs a manual maintain): in-process writers
  // queue, cross-process writers fail loudly. Intrinsic locks are
  // re-entrant, so nested mutations on one thread pass through.
  private val leaseMonitor = new Object
  private var recovered = false

  private def leasePath = new org.apache.hadoop.fs.Path(storeDir, "_LOCK")

  private def writeLease(fs: org.apache.hadoop.fs.FileSystem,
      overwrite: Boolean): Unit = {
    val out = fs.create(leasePath, overwrite)
    out.write(s"$writerId\t${System.currentTimeMillis()}".getBytes("UTF-8"))
    out.close()
  }

  private def readLease(fs: org.apache.hadoop.fs.FileSystem): Option[(String, Long)] =
    try {
      val st = fs.getFileStatus(leasePath)
      val buf = new Array[Byte](st.getLen.toInt)
      val in = fs.open(leasePath)
      try in.readFully(0, buf) finally in.close()
      new String(buf, "UTF-8").split("\t") match {
        case Array(id, ts) => Some((id, ts.toLong))
        case _ => None // unreadable lease: treat as foreign, age 0 via mtime
      }
    } catch { case _: java.io.FileNotFoundException => None }

  /** Run `body` holding the store's writer lease (re-entrant for this
    * instance). Fails loudly if another LIVE writer holds it. */
  private def withWriterLease[T](op: String)(body: => T): T = leaseMonitor.synchronized {
    val fs = leasePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (leaseDepth == 0) {
      new org.apache.hadoop.fs.Path(storeDir).getFileSystem(
        spark.sparkContext.hadoopConfiguration).mkdirs(
        new org.apache.hadoop.fs.Path(storeDir))
      readLease(fs) match {
        case Some((id, _)) if id == writerId =>
          writeLease(fs, overwrite = true) // our crash residue: re-own
        case Some((id, ts)) =>
          val age = System.currentTimeMillis() - ts
          if (age < GraftVectorDB.LeaseStaleMs)
            throw new IllegalStateException(
              s"$op: another writer ($id, heartbeat ${age}ms ago) holds the " +
                s"lease on $storeDir — the store is single-writer; retry after " +
                "it finishes, or remove _LOCK if that writer is known dead")
          else {
            log.warn(s"$op: reclaiming stale writer lease from $id " +
              s"(heartbeat ${age}ms > ${GraftVectorDB.LeaseStaleMs}ms)")
            writeLease(fs, overwrite = true)
          }
        case None =>
          try writeLease(fs, overwrite = false)
          catch {
            case _: java.io.IOException | _: org.apache.hadoop.fs.FileAlreadyExistsException =>
              // lost the creation race to a concurrent writer
              val holder = readLease(fs).map(_._1).getOrElse("unknown")
              throw new IllegalStateException(
                s"$op: another writer ($holder) acquired the lease on " +
                  s"$storeDir concurrently — the store is single-writer")
          }
      }
    } else writeLease(fs, overwrite = true) // nested entry: heartbeat refresh
    leaseDepth += 1
    try {
      if (!recovered) {
        // the first write of this instance: a crashed writer's residue
        // may sit in any area, not only the ones this op touches. Set
        // first: the recovery's own nested writes must not re-enter it
        recovered = true
        try recover() catch { case e: Throwable => recovered = false; throw e }
      }
      body
    } finally {
      leaseDepth -= 1
      if (leaseDepth == 0) fs.delete(leasePath, false)
    }
  }

  /** Every area's crash recovery ([[AtomicDir.recover]]): store
    * partitions and files, each built index, both sidecars and the
    * snapshot dir, then a crashed ingest's missing entries
    * ([[completeIngest]]). Runs once per instance, on
    * its first write; each area's own recovery also runs on entry to
    * the ops that rewrite it. */
  private def recover(): Unit = {
    records.recover()
    AnnSidecar.recoverBuilds(fsOf(new org.apache.hadoop.fs.Path(storeDir)), storeDir, _ => true)
    channels.values.foreach(_.recover())
    lexical.recover()
    nearDup.recover()
    Seq(storeDir -> "_INGEST", s"$storeDir/_snapshots" -> "manifest.v").foreach {
      case (d, name) =>
        val dir = new org.apache.hadoop.fs.Path(d)
        AtomicDir.recover(fsOf(dir), dir, ".old_", Seq(AtomicDir.stagedPrefix(name)))
    }
    completeIngest()
  }

  def store: DataFrame = spark.read.schema(GraftVectorDB.StoreSchema).parquet(storePath)

  /** The store's hash column, one row per record (NOT distinct — a
    * distinct here would shuffle the full store before the batch
    * semi-join below can prune it); empty ONLY when the store
    * genuinely does not exist yet. Any other read failure (corrupt
    * footer, permissions, transient FS error) must propagate —
    * swallowing it would silently disable ingest dedup and
    * double-ingest the batch. */
  private def storeHashColumn: DataFrame =
    // a store never created is checked for, not read: a read of a
    // missing path logs a FileNotFoundException stack trace first. A
    // store dir holding no data files yet (a crashed first ingest's
    // "_temporary" only) reads empty through the declared schema.
    if (!existsPath(new org.apache.hadoop.fs.Path(storePath))) Seq.empty[String].toDF("file_hash")
    else store.select($"file_hash")

  /** The not-yet-seen subset of a hashed batch frame. The store's hash
    * set is UNBOUNDED (it grows with every doc ever ingested) while
    * the batch is bounded, so the boundedness is INVERTED relative to
    * the naive `batch ⋉̸ broadcast(store)`: the batch's distinct hashes
    * broadcast into a semi-join that extracts the ≤|batch| COLLISIONS
    * from the store — one pruned-column scan, no store shuffle, no
    * store broadcast — and the batch anti-joins that bounded set.
    * Every forced broadcast here is batch-derived (plan-pinned in
    * GraftVectorDBSpec). */
  private[graft] def freshAgainstStore(recs: DataFrame): DataFrame = {
    val collisions = storeHashColumn
      .join(broadcast(recs.select($"file_hash").distinct()),
        Seq("file_hash"), "left_semi")
      .distinct()
    recs.join(broadcast(collisions), Seq("file_hash"), "left_anti")
  }

  /** Ingest a documents-shaped frame (doc_id, text, lang, source).
    * Appends only not-yet-seen content hashes; `indexChannels` keeps
    * the named ANN indexes current with the same rows. Returns rows
    * appended. */
  def ingest(docs: DataFrame, indexChannels: Seq[String] = Nil): Long =
    ingestRecords(GraftVectorDB.pipeline(docs), indexChannels)

  /** Append pre-built VectorRecord rows (image channels, captions, or
    * external pipelines), skipping already-seen content hashes.
    * `indexChannels` additionally routes the SAME fresh rows into the
    * named ANN indexes via [[appendAnnIndex]] — the ingest path that
    * keeps approximate search current between index rebuilds. Channels
    * whose index does not exist yet are skipped (the first
    * buildAnnIndex picks those rows up from the store). */
  def ingestRecords(records: DataFrame,
      indexChannels: Seq[String] = Nil): Long = withWriterLease("ingestRecords") {
    // validate channel names EAGERLY, before any write: the append
    // loop below skips channels without an appendable index, so a
    // typo'd name ('txt') would be silently dropped forever and the
    // caller would serve stale ANN results until the next rebuild
    indexChannels.foreach(ann)
    // MATERIALIZED (lineage truncated), not merely persisted: the
    // anti-join's plan READS storePath, and the store write below
    // triggers recacheByPath(storePath) — a persisted frame would be
    // recomputed against the post-write store, where the batch's own
    // hashes now exist, silently emptying it before the index append.
    // Materializing pins the ROWS with no storePath dependency. The
    // batch itself materializes FIRST so the chunk/embed pipeline runs
    // exactly once (the collision probe in freshAgainstStore reads the
    // batch hashes a second time).
    val recs = Tables.materialize(records)
    val fresh =
      try Tables.materialize(freshAgainstStore(recs))
      finally Tables.release(recs)
    val n = fresh.count()
    try {
      if (n > 0) {
        // the store write and the appends below are not one commit: a
        // crash between them leaves stored rows without index/sidecar
        // entries, which a re-run would skip as already stored, so the
        // marker makes the next writer's recovery complete them
        val marker = ingestMarker
        AtomicDir.write(fsOf(marker), marker, writerId)
        // sort within partitions so parquet row-group min/max stats on
        // doc_name support location-filtered search skipping
        fresh.sortWithinPartitions("doc_name", "page_num")
          .write.mode(SaveMode.Append).partitionBy("content_type").parquet(storePath)
        // no index at all is the normal pre-build state: the first
        // buildAnnIndex picks these rows up from the store
        indexChannels.filter(annIndexBuilt).foreach(appendAnnIndex(fresh, _))
        // lexical sidecar rides every ingest once built (fail-open:
        // after the store write — see LexicalSidecar.append)
        if (lexicalIndexed) lexical.append(channelFilter(fresh, "text"))
        fsOf(marker).delete(marker, false)
      }
    } finally Tables.release(fresh) // a failed write must not pin the batch
    n
  }

  private def ingestMarker = new org.apache.hadoop.fs.Path(storeDir, "_INGEST")

  /** Complete what a crashed ingest left undone (its `_INGEST` marker
    * is still there): every appendable ANN index and the live lexical
    * postings take the store rows they lack, and the corpus stats are
    * recounted (the crash may have advanced them already). Whichever
    * write comes next runs this, so it works on the store rather than
    * on a batch. Near-dup sidecar entries are not completed — chunked
    * store rows do not reconstruct a doc's shingles, and a missing
    * entry only admits a future near-dup (fail-open). */
  private def completeIngest(): Unit = {
    val marker = ingestMarker
    if (!existsPath(marker)) return
    log.warn(s"an ingest into $storeDir did not finish - adding the stored rows " +
      "its ANN index and lexical sidecar appends missed")
    channels.values.filter(_.built).foreach(_.appendMissing())
    if (lexicalIndexed) {
      val chunk = Seq("doc_name", "page_num", "content_type", "content_id")
      val missing = Tables.materialize(channelFilter(store, "text").join(
        lexical.livePostings().select(chunk.map(col): _*),
        chunk, "left_anti"))
      try if (!missing.isEmpty) lexical.append(missing)
      finally Tables.release(missing)
      lexical.refreshStats()
    }
    fsOf(marker).delete(marker, false)
  }

  private def existsPath(p: org.apache.hadoop.fs.Path): Boolean =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)

  private def fsOf(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Streaming ingest: an unbounded documents source flows into the
    * store via foreachBatch — every micro-batch runs the SAME
    * chunk/embed pipeline and content-hash anti-join as batch
    * [[ingest]], so replayed files or a restart cannot double-ingest
    * (idempotent by content hash, not by offset). AvailableNow drains
    * the backlog and stops — the batch-job-over-a-stream-source shape
    * a nightly corpus refresh uses. */
  def ingestStream(docs: DataFrame, checkpoint: String,
      indexChannels: Seq[String] = Nil,
      autoRebuildAt: Double = Double.PositiveInfinity,
      nearDupGate: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => {
        // nearDupGate: every micro-batch dedups against the sidecar
        // (and itself) before landing — the continuous-crawl shape;
        // foreachBatch owns the single-writer slot either way
        if (nearDupGate) {
          val (_, skipped) = ingestNearDup(batch.toDF(), indexChannels)
          val nSkip = skipped.count()
          if (nSkip > 0) log.info(s"ingestStream: near-dup gate dropped $nSkip docs")
        } else ingest(batch.toDF(), indexChannels)
        // the drift policy's ACTION seam: appendAnnIndex warns past the
        // bound, but a stream that runs for months must also act —
        // foreachBatch already owns the single-writer slot, so the
        // rebuild is safe here and serving flips atomically with the
        // build's rename swap (old index serves until then)
        if (!autoRebuildAt.isPosInfinity)
          indexChannels.filter(ch =>
              annIndexBuilt(ch) && annAppendFraction(ch) > autoRebuildAt)
            .foreach(ch => withWriterLease("buildAnnIndex")(ann(ch).rebuild()))
        ()
      })
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  // ─────────── sidecars: near-dup gate and lexical (BM25) index ───────────

  /** The near-dup sidecar ([[NearDupSidecar]]: its files, schemas and
    * gate) and the lexical one ([[LexicalSidecar]]: postings, term and
    * corpus stats, the BM25 plans), both on the [[GenSidecar]]
    * generation/tombstone protocol. The facade runs them under the
    * writer lease and feeds them store rows. */
  private[graft] val nearDup = new NearDupSidecar(spark, s"$storeDir/neardup")
  private[graft] val lexical = new LexicalSidecar(spark, s"$storeDir/lexical")

  /** Root of the near-dup sidecar ([[NearDupSidecar]]). */
  def nearDupPath: String = nearDup.root

  /** Whether the near-dup sidecar exists ([[ingestNearDup]] creates it
    * on first use; a plain [[ingest]] never does). */
  def nearDupIndexed: Boolean = nearDup.indexed

  /** (doc_id, doc_name, sh, shh) of a documents-shaped frame, keyed by
    * the store's doc_name derivation (must match
    * [[GraftVectorDB.pipeline]]'s so sidecar keys align with store
    * rows). */
  private def nearDupSets(docs: DataFrame): DataFrame =
    NearDupSidecar.setsOf(Tables.spread(docs),
      concat(lit("corpus/"), $"source", lit("/doc_"), $"doc_id", lit(".txt")))

  /** Near-dup-gated ingest: drop incoming docs that near-duplicate an
    * already-indexed doc (or an earlier doc of the same batch) at
    * bigram-Jaccard ≥ `threshold`, ingest the survivors, and append
    * the survivors' signatures to the sidecar — the continuous-
    * ingestion dedup loop ([[Dedup.incrementalPairs]] is the
    * operator-level twin with a DuckDB oracle; this is the store
    * lifecycle form). Work per batch: O(batch) shingle/signature
    * compute, one broadcast-hash pass of the batch's band keys over
    * the (narrow) corpus band sidecar, exact verification of the
    * band-collision residue only ([[NearDupSidecar.gate]]).
    *
    * Crash-safety is FAIL-OPEN by construction: the sidecar append
    * runs after the store write, so any crash window leaves sidecar
    * entries missing (a future dup may be admitted) — never phantom
    * entries that would silently REJECT genuinely new content.
    * Deleted docs' sidecar entries are tombstoned by [[delete]]/
    * [[deleteWhere]] (written before the data rewrite — same fail-open
    * direction) and compacted out by [[maintainNearDup]].
    *
    * Returns (rows appended, skipped docs as (doc_id, dup_of, j_r,
    * reason)) where reason is "corpus" or "batch". The intra-batch
    * sweep keeps the smallest doc_id of each dup group (collected
    * driver-side, bounded by [[NearDupSidecar.MaxIntraPairs]] verified
    * pairs — the gate is for operational increments; run the corpus-
    * scale [[Dedup]] operators for an initial load). */
  def ingestNearDup(docs: DataFrame, indexChannels: Seq[String] = Nil,
      threshold: Double = Dedup.JaccardThreshold): (Long, DataFrame) =
    withWriterLease("ingestNearDup") {
    nearDup.recover()
    val sets = Tables.materialize(nearDupSets(docs))
    try nearDup.gate(sets, threshold, "ingestNearDup") { verdict =>
      // freshIds (hash-new rows) materialize BEFORE the store write so
      // the sidecar appends exactly the rows this batch actually added
      val dropped = verdict.dropped
      val survivors =
        if (dropped.isEmpty) docs
        else docs.join(broadcast(dropped.toSeq.toDF("doc_id")),
          Seq("doc_id"), "left_anti")
      val batchHashes = Tables.materialize(
        Tables.spread(survivors).select($"doc_id", md5($"text").as("file_hash")))
      val freshIds =
        try Tables.materialize(
          freshAgainstStore(batchHashes).select($"doc_id"))
        finally Tables.release(batchHashes)
      try {
        val n = ingest(survivors, indexChannels)
        if (freshIds.count() > 0) nearDup.append(sets, verdict.bands, freshIds)
        // names only for the batch-drop anchors (bounded by the pair
        // guard), not the whole batch
        val anchorIds = verdict.batch.map(_._2).toSet
        val nameOf =
          if (anchorIds.isEmpty) Map.empty[Long, String]
          else sets.join(broadcast(anchorIds.toSeq.toDF("doc_id")), "doc_id")
            .select($"doc_id", $"doc_name").collect()
            .map(r0 => r0.getLong(0) -> r0.getString(1)).toMap
        val skipped = (verdict.corpus.map { case (id, nm, j) => (id, nm, j, "corpus") } ++
            verdict.batch.map { case (b, a, j) =>
              (b, nameOf.getOrElse(a, a.toString), j, "batch") })
          .sortBy(_._1).toDF("doc_id", "dup_of", "j_r", "reason")
        (n, skipped)
      } finally Tables.release(freshIds)
    } finally Tables.release(sets)
  }

  /** Adopt the gate on an EXISTING store: index `docs`' signatures
    * into the sidecar WITHOUT ingesting them (they are assumed already
    * stored — the caller supplies the original documents frame, since
    * chunked store rows don't reconstruct doc text). One corpus pass;
    * after it every [[ingestNearDup]] batch checks against the full
    * corpus. */
  def indexNearDup(docs: DataFrame): Long = withWriterLease("indexNearDup") {
    nearDup.recover()
    val sets = Tables.materialize(nearDupSets(docs))
    try {
      nearDup.index(sets)
      sets.count()
    } finally Tables.release(sets)
  }

  /** Compact the near-dup sidecar: drop tombstoned docs from both
    * tables, rewrite each as `targetFiles` files (streaming-gate use
    * appends a file-set per batch), swap each in, and clear the
    * tombstones LAST. */
  def maintainNearDup(targetFiles: Int = 4): Unit =
    if (nearDupIndexed) withWriterLease("maintainNearDup") {
      nearDup.recover()
      nearDup.maintain(targetFiles)
    }

  /** Root of the lexical sidecar ([[LexicalSidecar]]). */
  def lexicalPath: String = lexical.root

  /** Whether the lexical sidecar exists ([[indexLexical]] creates it;
    * once it does, [[ingestRecords]] keeps it current). */
  def lexicalIndexed: Boolean = lexical.indexed

  /** Build (or rebuild) the lexical sidecar from the store's live text
    * channel. Returns chunks indexed. */
  def indexLexical(): Long = withWriterLease("indexLexical") {
    lexical.recover()
    lexical.rebuild(channelFilter(store, "text"))
  }

  /** Compact the lexical sidecar: drop tombstoned docs and merge every
    * ingest's files with the rest into one flat, (term, doc_name)-sorted
    * set of files. Corpus stats drift by the deleted fraction between
    * a delete and this call (tombstones do not decrement them). */
  def maintainLexical(): Unit =
    if (lexicalIndexed) withWriterLease("maintainLexical") {
      lexical.recover()
      lexical.maintain()
    }

  /** The store-row identity the fusion joins channels on. */
  private type LexKey = (String, Long, String, String)
  private def hybridKeyOf(r: org.apache.spark.sql.Row): LexKey =
    (r.getAs[String]("doc_name"), r.getAs[Long]("page_num"),
      r.getAs[String]("content_type"), r.getAs[String]("content_id"))

  /** Collect a one-shot serving frame and RELEASE any materialized
    * ancestors in its plan (the MaxScore path's rare-partials
    * checkpoint would otherwise stay pinned until driver GC — the
    * library's no-accumulated-intermediates rule; the full-scan plan
    * has no materialized leaves, so this is a free no-op there). */
  private def collectAndRelease(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    val rows = df.collect()
    Tables.release(df)
    rows
  }

  /** RRF over two rank maps: the ONE fusion definition the single and
    * batch surfaces share. Returns EVERY fused candidate (≤ 2·pool —
    * the two channels' union) as (key, 6dp score), rrf-desc with a
    * deterministic key tie-break (equal scores are common — e.g. two
    * single-channel hits at the same per-channel rank); callers take
    * their topN AFTER the servability check so a defensive drop
    * backfills from the next candidate. */
  private def fuseRrf(lexRank: Map[LexKey, Int],
      vecRank: Map[LexKey, Int]): Seq[(LexKey, Double)] = {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val k = GraftVectorDB.RrfK
    (lexRank.keySet ++ vecRank.keySet).toSeq
      .map { key =>
        val rrf = lexRank.get(key).map(r => 1.0 / (k + r)).getOrElse(0.0) +
          vecRank.get(key).map(r => 1.0 / (k + r)).getOrElse(0.0)
        (key, r6(rrf))
      }
      .sortBy { case (key, rrf) => (-rrf, key._1, key._3, key._4) }
  }

  /** The servable prefix of a fused candidate list: raws resolve from
    * the vector channel's rows or the fetched map; a fused winner
    * whose content cannot be fetched (the tombstone→rewrite window of
    * a concurrent delete) is dropped and the NEXT candidate backfills,
    * so a transient delete shrinks the result below topN only when no
    * servable candidate remains. */
  private def servableTopN(fused: Seq[(LexKey, Double)], topN: Int,
      vecRaw: Map[LexKey, String], fetched: Map[LexKey, String])
      : Seq[(LexKey, Double, String)] =
    fused.flatMap { case (key, rrf) =>
      vecRaw.get(key).orElse(fetched.get(key)).map(raw => (key, rrf, raw))
    }.take(topN)

  /** Hybrid lexical + vector retrieval over the store — the fusion
    * surface a RAG front-end runs beside pure similarity (the
    * reference's run_search, vector_db.py:615-671, is the vector half;
    * BM25 recovers the exact-keyword hits — rare identifiers, names —
    * that embeddings miss). The lexical channel is a BM25 top-`pool`
    * over the persisted postings sidecar; the vector channel is the
    * warm [[searchAnn]] path when the text index is built (exact
    * [[search]] otherwise); the two pools merge by reciprocal-rank
    * fusion (RRF, Cormack et al. 2009 — score-free, so the channels
    * need no calibration against each other).
    *
    * Warm cost: ONE partition-pruned postings job + searchAnn's one
    * pruned-scan job + (only when a fused hit came from BM25 alone)
    * one doc_name-pruned metadata fetch — ≤ 3 bounded jobs
    * regardless of store size; fusion itself is driver arithmetic
    * over ≤ 2·pool rows.
    *
    * Output: (rnk, rrf_r, lex_rnk, ann_rnk, doc_name, page_num,
    * content_type, content_id, content_raw) — rank columns are null
    * for the channel that didn't surface the row.
    *
    * `vector` selects the vector channel's serving path — RRF fuses
    * RANKS, so any of them drops in without recalibration: "auto"
    * (warm [[searchAnn]] when the text index is built, exact
    * [[search]] otherwise), "ann", "pq" ([[searchAnnPq]] — the path
    * for stores where only the PQ codes are affordable to scan;
    * `nProbe`/`shortlist` pass through, and the exhaustive setting
    * reproduces the exact fusion verbatim), or "exact". */
  def searchHybrid(queryText: String, topN: Int = 5,
      location: Option[String] = None,
      pool: Int = GraftVectorDB.HybridPool,
      vector: String = "auto",
      nProbe: Int = AnnIndex.AutoNProbe,
      shortlist: Int = AnnIndex.AutoShortlist): DataFrame = {
    require(lexicalIndexed,
      s"searchHybrid: no lexical sidecar at $lexicalPath/postings - " +
        "run indexLexical() first (ingest keeps it current afterwards)")
    val lexRank: Map[LexKey, Int] =
      lexical.scanPlan(queryText, pool, location).map(collectAndRelease)
        .getOrElse(Array.empty)
        .map(r => hybridKeyOf(r) -> r.getAs[Long]("lex_rnk").toInt).toMap
    val vecRows = (vector match {
      case "auto" =>
        if (annIndexBuilt("text"))
          searchAnnIn("text", queryText, pool, nProbe, location)
        else searchIn("text", queryText, pool, location)
      case "ann" => searchAnnIn("text", queryText, pool, nProbe, location)
      case "pq" =>
        searchAnnPqIn("text", queryText, pool, nProbe, shortlist, location)
      case "exact" => searchIn("text", queryText, pool, location)
      case other => throw new IllegalArgumentException(
        s"searchHybrid: unknown vector path '$other' (auto|ann|pq|exact)")
    }).collect()
    val vecRank: Map[LexKey, Int] =
      vecRows.map(r => hybridKeyOf(r) -> r.getAs[Long]("rnk").toInt).toMap
    val vecRaw: Map[LexKey, String] =
      vecRows.map(r => hybridKeyOf(r) -> r.getAs[String]("content_raw")).toMap
    val fused = fuseRrf(lexRank, vecRank)
    // fetch raws for the leading topN; if a defensive drop (deleted-row
    // window) shortens the prefix and further candidates exist, ONE
    // more fetch covers the remainder and the next candidates backfill
    var fetched = fetchRaw(fused.take(topN).map(_._1).filterNot(vecRaw.contains))
    var rows = servableTopN(fused.take(topN), topN, vecRaw, fetched)
    if (rows.length < topN && fused.length > topN) {
      fetched ++= fetchRaw(fused.drop(topN).map(_._1)
        .filterNot(k => vecRaw.contains(k) || fetched.contains(k)))
      rows = servableTopN(fused, topN, vecRaw, fetched)
    }
    rows.zipWithIndex.map { case ((key, rrf, raw), i) =>
        ((i + 1).toLong, rrf, lexRank.get(key).map(_.toLong),
          vecRank.get(key).map(_.toLong),
          key._1, key._2, key._3, key._4, raw)
      }
      .toDF("rnk", "rrf_r", "lex_rnk", "ann_rnk", "doc_name", "page_num",
        "content_type", "content_id", "content_raw")
  }

  /** Metadata for BM25-only winners: one doc_name-pruned store fetch
    * for however many keys the whole call needs (possibly none). */
  private def fetchRaw(keys: Seq[LexKey]): Map[LexKey, String] =
    if (keys.isEmpty) Map.empty
    else {
      import spark.implicits._
      val names = keys.map(_._1).distinct
      // past InLiteralMax the name list rides a broadcast equi-join
      // instead of an In literal (a 4096-query batch can need ~20k
      // names — the same plan-bloat rule as the shortlist fetch)
      val byName =
        if (names.length <= GraftVectorDB.InLiteralMax)
          store.filter($"doc_name".isin(names: _*))
        else store.join(broadcast(names.toDF("doc_name")), "doc_name")
      byName
        .select($"doc_name", $"page_num", $"content_type", $"content_id",
          $"content_raw")
        .collect().map(r => hybridKeyOf(r) -> r.getAs[String]("content_raw")).toMap
    }

  /** Batch twin of [[searchHybrid]] — N queries' hybrid results from a
    * CONSTANT number of scans: ONE pruned postings scan scores every
    * query's BM25 pool ([[LexicalSidecar.allScanPlan]]: the batch term
    * set unions into the term pruning, per-query pools split by the
    * bounded `TopKRows` aggregate), the vector pools come from the
    * batch ANN surface ([[searchAllAnn]], 1 scan; exact [[searchAll]]
    * pre-index), and at most ONE doc_name-pruned fetch covers every
    * BM25-only winner across the batch. Fusion is driver arithmetic
    * over ≤ 2·pool rows per query.
    *
    * Query frame: (q_id, q_text [, q_loc]) — the optional per-query
    * `q_loc` scope composes with the call-level `location` exactly as
    * on every other batch surface (both predicates hold; the prefix
    * filters before each bounded top-k on BOTH channels). Per-query
    * results equal [[searchHybrid]] at the query's effective scope
    * (spec-pinned). Output = [[searchHybrid]]'s columns plus a
    * leading q_id, (q_id, rnk)-sorted. `vector` routes the batch's
    * vector channel exactly as on [[searchHybrid]] ("pq" rides
    * [[searchAllAnnPq]]'s constant-scan batch path). */
  def searchAllHybrid(queries: DataFrame, topN: Int = 5,
      location: Option[String] = None,
      pool: Int = GraftVectorDB.HybridPool,
      vector: String = "auto",
      nProbe: Int = AnnIndex.AutoNProbe,
      shortlist: Int = AnnIndex.AutoShortlist): DataFrame = {
    require(lexicalIndexed,
      s"searchAllHybrid: no lexical sidecar at $lexicalPath/postings - " +
        "run indexLexical() first (ingest keeps it current afterwards)")
    val qInfo = GraftVectorDB.batchQueries(queries, "searchAllHybrid")
    val lexByQ: Map[Long, Map[LexKey, Int]] =
      lexical.allScanPlan(qInfo.map { case (id, t, loc) =>
          (id, VectorStore.tokensLocal(t).distinct.toSeq, loc) }, pool, location)
        .map(collectAndRelease).getOrElse(Array.empty)
        .groupBy(_.getAs[Long]("q_id"))
        .map { case (id, rows) => id ->
          rows.map(r => hybridKeyOf(r) -> r.getAs[Long]("lex_rnk").toInt).toMap }
    val vecByQ = (vector match {
      case "auto" =>
        if (annIndexBuilt("text")) searchAllAnn(queries, pool, nProbe, location)
        else searchAll(queries, pool, location)
      case "ann" => searchAllAnn(queries, pool, nProbe, location)
      case "pq" => searchAllAnnPq(queries, pool, nProbe, shortlist, location)
      case "exact" => searchAll(queries, pool, location)
      case other => throw new IllegalArgumentException(
        s"searchAllHybrid: unknown vector path '$other' (auto|ann|pq|exact)")
    }).collect()
      .groupBy(_.getAs[Long]("q_id"))
    val fusedByQ = qInfo.map { case (id, _, _) =>
      val vq = vecByQ.getOrElse(id, Array.empty)
      val vecRank = vq.map(r => hybridKeyOf(r) -> r.getAs[Long]("rnk").toInt).toMap
      val vecRaw = vq.map(r => hybridKeyOf(r) -> r.getAs[String]("content_raw")).toMap
      (id, fuseRrf(lexByQ.getOrElse(id, Map.empty), vecRank),
        lexByQ.getOrElse(id, Map.empty), vecRank, vecRaw)
    }
    // batched backfill: ONE fetch covers every query's leading topN;
    // queries a defensive drop left short (and with candidates beyond
    // topN) share at most ONE more fetch over their remainders
    var fetched = fetchRaw(fusedByQ.flatMap { case (_, fused, _, _, vecRaw) =>
      fused.take(topN).map(_._1).filterNot(vecRaw.contains) }.distinct)
    val short = fusedByQ.filter { case (_, fused, _, _, vecRaw) =>
      servableTopN(fused.take(topN), topN, vecRaw, fetched).length < topN &&
        fused.length > topN }
    if (short.nonEmpty)
      fetched ++= fetchRaw(short.flatMap { case (_, fused, _, _, vecRaw) =>
        fused.drop(topN).map(_._1)
          .filterNot(k => vecRaw.contains(k) || fetched.contains(k)) }.distinct)
    fusedByQ.flatMap { case (id, fused, lexRank, vecRank, vecRaw) =>
      servableTopN(fused, topN, vecRaw, fetched)
        .zipWithIndex.map { case ((key, rrf, raw), i) =>
          (id, (i + 1).toLong, rrf, lexRank.get(key).map(_.toLong),
            vecRank.get(key).map(_.toLong),
            key._1, key._2, key._3, key._4, raw)
        }
    }.sortBy(t => (t._1, t._2))
      .toDF("q_id", "rnk", "rrf_r", "lex_rnk", "ann_rnk", "doc_name",
        "page_num", "content_type", "content_id", "content_raw")
  }

  /** The STORE-side maintenance sweep — [[maintain]]'s twin for the
    * data partitions: streaming ingest lands a file-set per micro-batch
    * and file-granular deletes leave zero-row residue, so each
    * content_type partition fragments over time. Compacts every
    * partition holding more than `targetFiles` parquet files down to
    * `targetFiles` ([[SortedRuns.compact]]); partitions at or under the
    * bound are untouched — their files are neither read nor moved.
    * Single-writer contract. Returns (partitions compacted, rows
    * rewritten). */
  def maintainStore(targetFiles: Int = 32): (Int, Long) = withWriterLease("maintainStore") {
    records.recover()
    if (!existsPath(new org.apache.hadoop.fs.Path(storePath))) return (0, 0L)
    val compacted = records.compact(targetFiles)
    if (compacted.nonEmpty) spark.catalog.refreshByPath(storePath)
    // sidecars with accumulated tombstones compact in the same sweep
    // (gated on tombstones actually existing — an untombstoned sidecar
    // would pay a full rewrite for nothing; fragmentation-driven
    // compaction stays an explicit maintainNearDup/maintainLexical call)
    if (nearDup.tombstoned) maintainNearDup()
    if (lexical.tombstoned) maintainLexical()
    // maintenance exit = a consistent point: stamp the live file set so
    // an external copier has a manifest that cannot straddle a rewrite
    snapshot()
    (compacted.length, compacted.map(_._2).sum)
  }

  /** Versioned snapshot manifest — the consistent-copy contract for a
    * store operated across systems: one atomically-committed file
    * (`_snapshots/manifest.vN`, an [[AtomicDir.commitVersion]])
    * listing every LIVE data/metadata file of the store and
    * every channel's ANN index with its byte length. Dot-prefixed
    * crash/staging residue ([[AtomicDir]]'s staged and aside names) is
    * NEVER listed — a copy made by replaying the manifest reproduces
    * exactly the serving state, mid-ingest leftovers excluded, and
    * serves identically (SnapshotSpec).
    * Written at [[maintainStore]] exit (the single-writer quiescent
    * point) and callable directly; driver metadata I/O only, O(files),
    * no Spark job. Returns the committed manifest path. */
  def snapshot(): String = withWriterLease("snapshot") {
    val rootP = new org.apache.hadoop.fs.Path(storeDir)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // check the actual store dir, not the root: lease acquisition
    // creates the (empty) root, which holds nothing to manifest
    require(fs.exists(new org.apache.hadoop.fs.Path(storePath)),
      s"snapshot: store root $storeDir does not exist — nothing to manifest")
    val qualifiedRoot = fs.makeQualified(rootP).toString
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.getPath.getName.startsWith(".")) Nil // staging/crash residue
        else if (st.isDirectory) walk(st.getPath)
        else Seq(st)
      }
    // every serving-state root rides the manifest: the store, each
    // channel's ANN index, and BOTH sidecars — a copy without the
    // neardup sidecar would silently re-admit near-dups, one without
    // lexical/ would lose hybrid search
    val files = fs.listStatus(rootP)
      .filter(st => st.isDirectory && (st.getPath.getName == "vector_store" ||
        st.getPath.getName.startsWith("ann_index_") ||
        st.getPath.getName == "neardup" || st.getPath.getName == "lexical"))
      .flatMap(st => walk(st.getPath))
      .map(st => (fs.makeQualified(st.getPath).toString
        .stripPrefix(qualifiedRoot).stripPrefix("/"), st.getLen))
      .sortBy(_._1)
    AtomicDir.commitVersion(fs, new org.apache.hadoop.fs.Path(rootP, "_snapshots"),
      "manifest.v", files.map { case (p, len) => s"$p\t$len" }.mkString("\n"))
      .toString
  }

  /** Replay the latest [[snapshot]] manifest into `destRoot` and open
    * the copy — the other half of the consistent-copy contract: copies
    * exactly the manifest-listed files (per-file length verified
    * against the manifest — a listed file is immutable by protocol, so
    * a missing or resized source means a later maintenance superseded
    * this manifest and the caller must take a fresh snapshot), refuses
    * a destination that already holds a store, and stamps the replayed
    * manifest into the copy so the copy is itself snapshot-consistent.
    *
    * The stale-manifest VERIFY pass is driver metadata I/O (one
    * `getFileStatus` per file — cheap, and it keeps the loud
    * IOException semantics). The BYTE copy is one Spark job over the
    * manifest lines (each task re-verifies its file's length and
    * copies through the Hadoop FS API, so the replay streams at
    * cluster width — a 100 TB store restores at N-executor speed, not
    * single-stream driver speed). Manifests smaller than
    * `serialThreshold` files skip the job-scheduling overhead and
    * copy driver-side as before. */
  def restore(destRoot: String): GraftVectorDB =
    restore(destRoot, GraftVectorDB.RestoreSerialThreshold)

  private[graft] def restore(destRoot: String, serialThreshold: Int): GraftVectorDB = {
    val conf = spark.sparkContext.hadoopConfiguration
    val srcRootP = new org.apache.hadoop.fs.Path(storeDir)
    val srcFs = srcRootP.getFileSystem(conf)
    val snapDir = new org.apache.hadoop.fs.Path(srcRootP, "_snapshots")
    val (manifestName, manifestText) = AtomicDir.readLatest(srcFs, snapDir, "manifest.v")
      .getOrElse(throw new IllegalStateException(
        s"restore: no snapshot manifest under $snapDir - call snapshot() first"))
    val destRootP = new org.apache.hadoop.fs.Path(destRoot)
    val destFs = destRootP.getFileSystem(conf)
    require(!destFs.exists(new org.apache.hadoop.fs.Path(destRootP, "vector_store")),
      s"restore: $destRoot already holds a store - refusing to overwrite")
    val lines = manifestText.split("\n").filter(_.nonEmpty).toVector
    // verify FIRST, driver-side, metadata-only: a stale manifest must
    // fail loudly before any bytes move, and from the driver (not
    // wrapped in a task failure)
    lines.foreach { line =>
      val Array(rel, lenStr) = line.split("\t")
      val st = try srcFs.getFileStatus(new org.apache.hadoop.fs.Path(srcRootP, rel)) catch {
        case _: java.io.FileNotFoundException => throw new java.io.IOException(
          s"restore: manifest lists $rel but it is gone - the manifest was " +
            "superseded by later maintenance; take a fresh snapshot()")
      }
      if (st.getLen != lenStr.toLong) throw new java.io.IOException(
        s"restore: $rel length ${st.getLen} != manifest ${lenStr.toLong} - " +
          "stale manifest; take a fresh snapshot()")
    }
    val srcRootQ = srcFs.makeQualified(srcRootP).toString
    val destRootQ = destFs.makeQualified(destRootP).toString
    val parsed = lines.map { line =>
      val Array(rel, lenStr) = line.split("\t"); (rel, lenStr.toLong)
    }
    if (parsed.length < serialThreshold)
      parsed.foreach { case (rel, len) =>
        GraftVectorDB.restoreCopyOne(srcRootQ, destRootQ, rel, len, conf) }
    else {
      // ONE job, manifest-line granularity: each task opens its own FS
      // handles from the shipped conf and streams its file
      val serConf = new graft.util.SerializableHadoopConf(conf)
      val par = math.min(parsed.length, spark.sparkContext.defaultParallelism)
      val (sq, dq) = (srcRootQ, destRootQ)
      spark.sparkContext.parallelize(parsed, par).foreach { case (rel, len) =>
        GraftVectorDB.restoreCopyOne(sq, dq, rel, len, serConf.value) }
    }
    val destManifest = new org.apache.hadoop.fs.Path(destRootP, s"_snapshots/$manifestName")
    AtomicDir.write(destFs, destManifest, manifestText)
    new GraftVectorDB(spark, destRoot)
  }

  /** Text search over the text channel (text_chunk + image_caption —
    * exactly run_text_search's text-vs-text scope). */
  def search(queryText: String, topN: Int = 5, location: Option[String] = None): DataFrame =
    searchIn("text", queryText, topN, location)

  /** Exact scan search over ANY registered channel — the generic form
    * of [[search]]/[[searchImage]]: the query encodes with the
    * channel's own encoder and scores only the channel's rows. */
  def searchIn(channel: String, query: String, topN: Int = 5,
      location: Option[String] = None): DataFrame =
    searchChannel(query, channelRows(channel), topN, location,
      ann(channel).channel.encode)
      .withColumn("channel", lit(channel))

  /** Batch query-set search: N queries against the text channel in ONE
    * corpus scan — the shape a search front-end needs under load
    * (N × [[search]] would scan the store N times). The query batch
    * (q_id, q_text) embeds in-plan and broadcasts into the scan; the
    * per-query top-k is the payload-carrying partial aggregate
    * ([[graft.functions.expressions.TopKRows]]), so each partition
    * contributes ≤ topN rows per query to the shuffle WITH their
    * metadata — no second scan to re-attach doc names/content.
    * Per-query results are identical to [[search]] (spec-pinned);
    * `channel = "image"` runs the batch against the image space with
    * its own encoder, matching N × [[searchImage]] — the batch surface
    * covers both of [[searchMultimodal]]'s channels.
    *
    * PER-QUERY scope: an optional `q_loc` string column on the query
    * frame scopes each query to its own folder prefix
    * (get_search_range per tenant/query — a multi-tenant front-end
    * batches queries with different scopes). The call-level `location`
    * always applies (it pushes into the scan as a parquet filter) and
    * a non-null `q_loc` NARROWS that scope per query — both predicates
    * hold, so a null `q_loc` row serves the call-level scope and a
    * tenant prefix can never widen past it; per-query prefixes
    * evaluate in the same codegen'd stage as the cosine, before the
    * top-k. */
  def searchAll(queries: DataFrame, topN: Int = 5,
      location: Option[String] = None, channel: String = "text"): DataFrame = {
    val encode: Column => Column = ann(channel).channel.encode
    val hasLoc = queries.columns.contains("q_loc")
    val q = queries.select(col("q_id") +: encode(col("q_text")).as("qv") +:
        (if (hasLoc) Seq(col("q_loc").cast("string")) else Nil): _*)
      .withColumn("qnrm", l2Norm(col("qv")))
    val chanRows = channelFilter(store, channel)
    val joined = locScoped(chanRows, location).crossJoin(broadcast(q))
    val scoped =
      if (hasLoc) joined.filter($"q_loc".isNull || $"doc_name".startsWith($"q_loc"))
      else joined
    val pairs = scoped
      .select($"q_id",
        round(cosine($"qv", $"embedding", $"qnrm", l2Norm($"embedding")), 4).as("sim_r"),
        xxhash64($"doc_name", $"content_type", $"content_id").as("row_id"),
        struct($"doc_name", $"page_num", $"content_type", $"content_id",
          $"content_raw").as("meta"))
    GraftVectorDB.batchTopK(pairs, topN, channel)
  }

  /** Batch twin of [[searchMultimodal]] — run_search's text_image mode
    * for N queries in TWO store scans (one per channel, each a
    * [[searchAll]] batch: broadcast embedded queries + per-query
    * `TopKRows`), where N × searchMultimodal would scan 2N times.
    * Each query encodes once per channel with that channel's encoder
    * (the dual-space contract); results union channel-tagged with
    * searchMultimodal's ordering. Per-query results are identical to
    * N × [[searchMultimodal]] (spec-pinned). */
  def searchAllMultimodal(queries: DataFrame, topN: Int = 5,
      location: Option[String] = None): DataFrame =
    searchAll(queries, topN, location, channel = "text")
      .unionByName(searchAll(queries, topN, location, channel = "image"))
      .orderBy($"q_id", $"channel", $"rnk")

  /** Approximate twin of [[searchMultimodal]] — both channels served
    * from their ANN indexes (each a partition-pruned probe scan,
    * [[searchAnn]]/[[searchAnnImage]]) instead of two full channel
    * scans: the multimodal serving shape once both indexes are built.
    * Full probe on both channels reproduces [[searchMultimodal]]
    * verbatim (spec-pinned). */
  def searchMultimodalAnn(queryText: String, topN: Int = 5,
      nProbe: Int = AnnIndex.AutoNProbe, location: Option[String] = None): DataFrame =
    searchAnn(queryText, topN, nProbe, location)
      .unionByName(searchAnnImage(queryText, topN, nProbe, location))
      .orderBy($"channel", $"rnk")

  /** Batch twin of [[searchMultimodalAnn]]: N queries against both
    * channels' indexes in TWO pruned scans ([[searchAllAnn]] per
    * channel — each query's probe set unions into its channel's single
    * scan). Output contract = [[searchAllMultimodal]]. */
  def searchAllMultimodalAnn(queries: DataFrame, topN: Int = 5,
      nProbe: Int = AnnIndex.AutoNProbe, location: Option[String] = None): DataFrame =
    searchAllAnn(queries, topN, nProbe, location, channel = "text")
      .unionByName(searchAllAnn(queries, topN, nProbe, location, channel = "image"))
      .orderBy($"q_id", $"channel", $"rnk")

  /** Combined text+image search — run_search's text_image mode: the
    * query hits both stores, results union channel-tagged. The image
    * channel lives in its OWN embedding space: its rows were embedded
    * with [[VectorStore.embedImage]], so the query is projected into
    * that space with the same encoder (the CLIP-text-encoder seam,
    * vector_db.py:738-759). */
  def searchMultimodal(queryText: String, topN: Int = 5,
      location: Option[String] = None): DataFrame =
    search(queryText, topN, location)
      .unionByName(searchIn("image", queryText, topN, location))
      .orderBy($"channel", $"rnk")

  /** Image-vs-image search: the query arrives as image content and is
    * encoded directly into the image space — run_image_search's
    * image-query mode (vector_db.py:738-759), with the pixel encoder
    * stubbed by the same deterministic image-space hash family the
    * store rows use. */
  def searchImage(queryContent: String, topN: Int = 5,
      location: Option[String] = None): DataFrame =
    searchIn("image", queryContent, topN, location)

  /** run_search's full return shape: a response plus the source
    * manifest (vector_db.py:615-671). The reference calls an LLM to
    * summarize retrieved content (generate_gpt_response, :838-901);
    * here the response is a deterministic extractive stub — the top
    * hit's content with a provenance suffix — with the same contract,
    * so a real model call can be swapped in per row at the same seam. */
  def answer(queryText: String, topN: Int = 5,
      location: Option[String] = None): (String, DataFrame) = {
    val hits = search(queryText, topN, location)
    (extractiveResponse(hits.limit(1).collect().headOption), hits)
  }

  /** [[answer]] over [[searchHybrid]] — the retrieval half a RAG
    * front-end actually wants under the generate seam: exact-keyword
    * recall fused with semantic similarity. Same extractive stub,
    * same drop-in-model contract. */
  def answerHybrid(queryText: String, topN: Int = 5,
      location: Option[String] = None): (String, DataFrame) = {
    val hits = searchHybrid(queryText, topN, location)
    (extractiveResponse(hits.limit(1).collect().headOption), hits)
  }

  private def extractiveResponse(top: Option[org.apache.spark.sql.Row]): String =
    top.map { h =>
      s"[extractive] ${h.getAs[String]("content_raw").take(200)} " +
        s"(from ${h.getAs[String]("doc_name")} p${h.getAs[Long]("page_num")})"
    }.getOrElse("no relevant content found")

  /** run_search's FULL contract (vector_db.py:614-671): text retrieval
    * (warm ANN when the index is built, exact scan otherwise) plus one
    * image-channel retrieval per base64 query image, concatenated text
    * rows first (the reference's concat order); then the deterministic
    * half of response generation — [[ResponseGen.assemble]] builds the
    * exact generate_mistral_response prompt (:768-838), the pluggable
    * `model` turns it into the response text ([[ResponseGen.ExtractiveModel]]
    * default; a real LLM client drops into the same seam), and
    * [[ResponseGen.sources]] is generate_source_list (:903-916) fused
    * over the same rows. Retrieval is the only distributed work; the
    * assembly walks the collected top-k rows (bounded driver state). */
  def runSearch(queryText: String, queryImages: Seq[String] = Nil,
      topN: Int = 5, location: Option[String] = None,
      model: ResponseGen.ResponseModel = ResponseGen.ExtractiveModel)
      : ResponseGen.SearchResponse = {
    val textRows =
      (if (annIndexBuilt("text")) searchAnn(queryText, topN, location = location)
       else search(queryText, topN, location)).collect().toSeq
    val imageRows = queryImages.map(b64 =>
      searchIn("image", b64, topN, location).collect().toSeq)
    val hits = textRows ++ imageRows.flatten
    val messages = ResponseGen.assemble(Some(queryText), queryImages, hits)
    ResponseGen.SearchResponse(model.generate(messages, hits), messages,
      ResponseGen.sources(hits), textRows, imageRows)
  }

  // ─────────── ANN index: one AnnSidecar per channel ───────────

  def annPath: String = annPath("text")
  def annPath(channel: String): String = s"$storeDir/ann_index_$channel"

  /** Whether a channel's ANN index has been built. A crashed rebuild's
    * swap rolls back first ([[AnnSidecar.built]]), so a delete or
    * maintenance never skips a channel mid-rebuild. */
  def annIndexBuilt(channel: String): Boolean = channels.get(channel).exists(_.built)

  /** Build (or rebuild) a channel's IVF+PQ index over its store rows
    * ("text" = text chunks + captions, the run_text_search scope;
    * "image" = the 48-dim image space; or any registered channel):
    * one bounded sample fits the routing table and the PQ codebooks,
    * one pass routes, encodes and writes the rows with their search
    * metadata, and the whole index swaps in at once
    * ([[AnnSidecar.build]]). Returns rows indexed. */
  def buildAnnIndex(cells: Int = AnnIndex.IvfCells, channel: String = "text"): Long =
    withWriterLease("buildAnnIndex")(ann(channel).build(cells))

  /** Route newly-ingested rows into a built index with its persisted
    * centroids and codebooks, O(|new rows|) ([[AnnSidecar.append]]).
    * Returns rows appended. */
  def appendAnnIndex(records: DataFrame, channel: String = "text"): Long =
    withWriterLease("appendAnnIndex")(ann(channel).append(records))

  /** Appended rows since the last build over the built corpus (0.0 for
    * a fresh or never-built index): the drift gauge. */
  def annAppendFraction(channel: String): Double = ann(channel).appendFraction

  /** Whether [[annAppendFraction]] is past
    * [[GraftVectorDB.AppendRebuildFraction]], the bound
    * AnnAppendDriftSpec measures recall against. */
  def annIndexNeedsRebuild(channel: String): Boolean = ann(channel).needsRebuild

  /** Cell count for a drift-triggered rebuild, scaled with the live
    * index size ([[AnnSidecar.adaptiveCells]]). */
  def adaptiveCells(channel: String): Int = ann(channel).adaptiveCells

  /** The scheduled per-channel maintenance: rebuild at
    * [[adaptiveCells]] once the appended fraction is past `rebuildAt`
    * (which subsumes compaction), else [[compactAnnIndex]] with hot-cell
    * splitting. Returns (rows compacted, whether a rebuild ran). */
  def maintain(channel: String, targetFiles: Int = 1,
      splitSkewedPast: Double = GraftVectorDB.CellSkewRatio,
      rebuildAt: Double = GraftVectorDB.AppendRebuildFraction): (Long, Boolean) =
    withWriterLease("maintain")(ann(channel).maintain(targetFiles, splitSkewedPast, rebuildAt))

  /** Rewrite every cell holding more than `targetFiles` parquet files
    * as `targetFiles` doc_name-sorted files, O(touched cells), after
    * splitting cells hotter than `splitSkewedPast` × the mean
    * ([[AnnSidecar.compact]]). Returns rows rewritten. */
  def compactAnnIndex(channel: String, targetFiles: Int = 1,
      splitSkewedPast: Double = Double.PositiveInfinity): Long =
    withWriterLease("compactAnnIndex")(ann(channel).compact(targetFiles, splitSkewedPast))

  /** Per-cell row counts from parquet footers (no Spark job). */
  def annCellHistogram(channel: String): Map[Int, Long] = ann(channel).cellHistogram

  /** Occupancy skew: hottest cell / mean non-empty cell. */
  def annCellSkew(channel: String): Double = ann(channel).cellSkew

  /** Whether the skew is past [[GraftVectorDB.CellSkewRatio]], with a
    * warning to split. */
  def annIndexSkewed(channel: String): Boolean = ann(channel).skewed

  /** Split every cell hotter than `ratio` × the mean occupancy into two
    * sub-cells without a rebuild ([[AnnSidecar.splitHot]]). Returns the
    * cells split. */
  def splitHotCells(channel: String,
      ratio: Double = GraftVectorDB.CellSkewRatio): Seq[Int] =
    withWriterLease("splitHotCells")(ann(channel).splitHot(ratio))

  /** Document deletion — the takedown/GDPR lifecycle op a store
    * operated for years needs, WITHOUT a full rebuild:
    *
    *  - [[delete]] (by name, the common takedown shape) is
    *    FILE-granular: parquet footers identify exactly which
    *    doc_name-sorted files can hold a victim, and only those files
    *    rewrite ([[SortedRuns.deleteNames]]) —
    *    O(touched files) regardless of store size; untouched files are
    *    neither read nor moved.
    *  - [[deleteWhere]] (arbitrary predicate) rewrites the touched
    *    content_type partitions at their file counts
    *    ([[SortedRuns.deleteWhere]]) — general but
    *    partition-granular; prefer [[delete]] for name lists.
    *  - every BUILT channel's ANN index drops the same rows —
    *    O(touched cells) for predicates, O(touched files) for name
    *    lists — so approximate search can never resurface a deleted
    *    document;
    *  - the content-hash "seen" set IS the store rows, so deleting a
    *    document frees its hash: a re-ingest of the same content is
    *    allowed again (file_already_processed follows the store,
    *    vector_db.py:420-434). Partial deletes (some chunks of a doc)
    *    keep the doc's hash present — whole-document deletion is the
    *    unit with re-ingest semantics.
    *
    * Removing rows does not degrade index geometry (remaining rows
    * keep their build-time cells), so the drift gauge is untouched; a
    * `_DELETED` counter accumulates beside the routing table for
    * observability, and [[compactAnnIndex]] reclaims now-sparse cells.
    *
    * The predicate may reference exactly the columns BOTH the store
    * and the index carry — doc_name, page_num, content_type,
    * content_id, content_raw — validated eagerly so the index cleanup
    * cannot fail half-way. Rows where the predicate is NULL are KEPT
    * (not silently dropped). The index cleanup runs even when the
    * store matched nothing, so a crash between the store rewrite and
    * the index cleanup converges by re-running the same delete.
    * Single-writer contract, same as compact(). Returns store rows
    * removed. */
  def delete(docNames: Seq[String]): Long = withWriterLease("delete") {
    require(docNames.nonEmpty, "delete: empty doc_name list")
    require(docNames.length <= GraftVectorDB.InLiteralMax,
      s"delete: ${docNames.length} names exceeds the per-call bound " +
        s"(${GraftVectorDB.InLiteralMax}) — chunk the takedown batch")
    val names = docNames.distinct.sorted
    records.recover()
    // sidecar tombstones FIRST (fail-open — see GenSidecar)
    nearDup.tombstone(names.toDF("doc_name"))
    lexical.tombstone(names.toDF("doc_name"))
    // ONE pruned scan finds the touched partitions + counts: doc_name
    // pushes to parquet, and the sorted layout makes it row-group-skipping
    val touched = store.filter($"doc_name".isin(names: _*))
      .groupBy($"content_type").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    touched.keys.toSeq.sorted.foreach(records.deleteNames(_, names))
    // stale FileStatus entries (same path, new length) must not serve
    if (touched.nonEmpty) spark.catalog.refreshByPath(storePath)
    // index cleanup ALWAYS runs for EVERY registered channel — a crash
    // between the store pass and this point converges by re-running
    channels.values.filter(_.built).foreach(_.deleteNames(names))
    touched.values.sum
  }

  def deleteWhere(cond: Column): Long = withWriterLease("deleteWhere") {
    records.recover() // restore any prior rewrite's crash leftovers first
    // fail fast if the predicate references store-only columns
    // (file_hash/ts/bbox): it would succeed on the store and then blow
    // up half-way through the index cleanup
    store.select("doc_name", "page_num", "content_type", "content_id",
      "content_raw").limit(0).filter(cond).queryExecution.assertAnalyzed()
    // NULL-safe forms: a predicate evaluating to NULL must neither
    // count a row as deleted nor drop it from the rewrite
    val hit = coalesce(cond, lit(false))
    val keep = !hit
    // ONE column-pruned scan finds the touched partitions + counts
    val touched = store.filter(hit).groupBy($"content_type")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // sidecar tombstones FIRST (fail-open; distributed write — a
    // predicate can hit unboundedly many docs). Tombstones are
    // doc_name-granular, so only WHOLLY-deleted docs tombstone: a
    // sub-document predicate (one content_type of a doc) must not
    // kill the surviving chunks' postings or the doc's dedup
    // signature — a partially-deleted doc's dead chunks can still
    // surface in the BM25 pool, where the metadata fetch finds no
    // store row and the fused output drops them defensively. ONE
    // predicate scan feeds both sidecars (persisted name frame, so
    // the two writes see an identical set).
    if (touched.nonEmpty) {
      val victims = store.groupBy($"doc_name")
        .agg(max(when(hit, 1).otherwise(0)).as("anyHit"),
          max(when(keep, 1).otherwise(0)).as("anySurvive"))
        .filter($"anyHit" === 1 && $"anySurvive" === 0)
        .select($"doc_name")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        nearDup.tombstone(victims)
        lexical.tombstone(victims)
      } finally victims.unpersist(blocking = false)
    }
    touched.keys.toSeq.sorted.foreach(records.deleteWhere(_, keep))
    // index cleanup ALWAYS runs for EVERY registered channel (see
    // scaladoc: rerun-to-converge after a crash between the store
    // rewrite and this point)
    channels.values.filter(_.built).foreach(_.deleteWhere(hit, keep))
    touched.values.sum
  }

  /** The channel REGISTRY — a training-data store has N embedding
    * spaces (text, image, audio, video, code…), not a hardcoded two:
    * every lifecycle op (build/append/search/delete/maintain) resolves
    * channels here, each to its own index component
    * ([[AnnSidecar]]), so a registered space gets the whole surface for
    * free. The built-in entries are the reference's dual text/image
    * spaces (run_text_search / run_image_search,
    * vector_db.py:698-759). Insertion-ordered: delete/maintain sweeps
    * iterate deterministically. */
  private val channels = scala.collection.mutable.LinkedHashMap(
    GraftVectorDB.builtinChannels.map(c => c.name -> annOf(c)): _*)

  private def annOf(c: GraftVectorDB.ChannelDef) = new AnnSidecar(spark, storeDir, c, () => store)

  /** Registered channel names, registration order. */
  def channelNames: Seq[String] = channels.keys.toSeq

  /** Declare a new embedding space. The content-type claim must be
    * disjoint from every registered channel's — one store row belongs
    * to at most one space, or a mixed-dim index would route on garbage
    * scores ([[graft.functions.expressions.DotProduct]] truncates
    * silently). The local encoder must agree with the declared dim
    * (checked here with a probe string — the serving path embeds
    * driver-side and a mismatch would fail deep inside a search). */
  def registerChannel(c: GraftVectorDB.ChannelDef): Unit = {
    require(!channels.contains(c.name), s"channel '${c.name}' already registered")
    require(c.contentTypes.nonEmpty, s"channel '${c.name}' claims no content types")
    val claimed = channels.values.flatMap(_.channel.contentTypes).toSet
    val overlap = c.contentTypes.filter(claimed)
    require(overlap.isEmpty,
      s"channel '${c.name}' claims content types already owned: ${overlap.mkString(",")}")
    require(c.encodeLocal("dim probe").length == c.dim,
      s"channel '${c.name}': encodeLocal produces ${c.encodeLocal("dim probe").length} " +
        s"dims, declared ${c.dim}")
    channels.put(c.name, annOf(c))
  }

  /** The channel's index component; unknown names fail listing the
    * registered ones. */
  private[graft] def ann(channel: String): AnnSidecar =
    channels.getOrElse(channel, throw new IllegalArgumentException(
      s"unknown ANN channel '$channel' (${channels.keys.mkString(" | ")})"))

  private def channelFilter(df: DataFrame, channel: String): DataFrame =
    ann(channel).rowsOf(df)

  private def channelRows(channel: String): DataFrame = channelFilter(store, channel)

  /** Approximate text search against the ANN index: the query routes
    * to its `nProbe` nearest cells and only those cells' files are
    * scanned — one pruned-scan Spark job warm, `location` filtering
    * inside the scan, escalating to every scope-eligible cell when the
    * probed ones under-fill ([[AnnSidecar.search]]). Same output
    * contract as [[search]]. */
  def searchAnn(queryText: String, topN: Int = 5,
      nProbe: Int = AnnIndex.AutoNProbe, location: Option[String] = None): DataFrame =
    ann("text").search(queryText, topN, nProbe, location)

  /** Image-space twin of [[searchAnn]], mirroring [[searchImage]]. */
  def searchAnnImage(queryContent: String, topN: Int = 5,
      nProbe: Int = AnnIndex.AutoNProbe, location: Option[String] = None): DataFrame =
    ann("image").search(queryContent, topN, nProbe, location)

  /** [[searchAnn]] over any registered channel. */
  def searchAnnIn(channel: String, query: String, topN: Int = 5,
      nProbe: Int = AnnIndex.AutoNProbe, location: Option[String] = None): DataFrame =
    ann(channel).search(query, topN, nProbe, location)

  /** IVF+PQ search: an ADC shortlist over only (row_id, nrm, codes) of
    * the probed cells, then an exact re-rank of the fetched shortlist —
    * two Spark jobs warm ([[AnnSidecar.searchPq]]). `nProbe = cells`
    * with `shortlist ≥ channel rows` reproduces [[search]] verbatim. */
  def searchAnnPq(queryText: String, topN: Int = 5,
      nProbe: Int = AnnIndex.AutoNProbe,
      shortlist: Int = AnnIndex.AutoShortlist,
      location: Option[String] = None): DataFrame =
    ann("text").searchPq(queryText, topN, nProbe, shortlist, location)

  /** Image-space twin of [[searchAnnPq]]. */
  def searchAnnPqImage(queryContent: String, topN: Int = 5,
      nProbe: Int = AnnIndex.AutoNProbe,
      shortlist: Int = AnnIndex.AutoShortlist,
      location: Option[String] = None): DataFrame =
    ann("image").searchPq(queryContent, topN, nProbe, shortlist, location)

  /** [[searchAnnPq]] over any registered channel. */
  def searchAnnPqIn(channel: String, query: String, topN: Int = 5,
      nProbe: Int = AnnIndex.AutoNProbe, shortlist: Int = AnnIndex.AutoShortlist,
      location: Option[String] = None): DataFrame =
    ann(channel).searchPq(query, topN, nProbe, shortlist, location)

  /** Batch [[searchAnn]]: N queries' probe sets union into ONE pruned
    * scan, per-query results identical to N × [[searchAnn]]
    * ([[AnnSidecar.searchAll]]); an optional `q_loc` column scopes each
    * query as on [[searchAll]]. Output contract = [[searchAll]]. */
  def searchAllAnn(queries: DataFrame, topN: Int = 5,
      nProbe: Int = AnnIndex.AutoNProbe, location: Option[String] = None,
      channel: String = "text"): DataFrame =
    ann(channel).searchAll(queries, topN, nProbe, location)

  /** Batch [[searchAnnPq]]: one ADC shortlist scan and one fetch for the
    * whole batch ([[AnnSidecar.searchAllPq]]), per-query results
    * identical to N × [[searchAnnPq]]. Output contract = [[searchAll]]. */
  def searchAllAnnPq(queries: DataFrame, topN: Int = 5,
      nProbe: Int = AnnIndex.AutoNProbe, shortlist: Int = AnnIndex.AutoShortlist,
      location: Option[String] = None, channel: String = "text"): DataFrame =
    ann(channel).searchAllPq(queries, topN, nProbe, shortlist, location)

  /** Store maintenance: streaming ingest appends a file per micro-batch
    * — at 100 TB the accumulating small-file count is the operational
    * killer (file-listing latency + one task per tiny file). Rewrites
    * one content_type partition into `targetFiles` files sorted by
    * (doc_name, page_num), so parquet row-group min/max stats keep
    * supporting location-filtered skipping ([[SortedRuns.compact]]).
    * The rewrite stages in a dot-prefixed dir (invisible to concurrent
    * reads) and swaps in via rename; rows and search results are
    * invariant (GraftVectorDBSpec). CONCURRENCY CONTRACT: maintenance
    * assumes a single writer — run it with streaming ingest stopped (an
    * append landing between the renames would be lost); readers in the
    * swap window see the partition briefly absent, not corrupt.
    * Returns the rows rewritten. */
  def compact(contentType: String, targetFiles: Int = 1): Long = withWriterLease("compact") {
    records.recover() // restore any prior compaction's crash leftovers first
    records.compact(contentType, targetFiles)
  }

  /** One query = ONE corpus scan: scoring and metadata ride the same
    * pass, ranked by `ORDER BY sim LIMIT n` — Spark plans that as
    * TakeOrderedAndProject, which keeps only topN rows per partition
    * map-side (the single-query twin of the TopKByScore aggregate).
    * The round-1 form scored the scan once for top-k ids and re-scanned
    * to re-attach metadata (2× corpus reads per search at 100 TB);
    * GraftVectorDBSpec now pins the scan count to 1. */
  private def searchChannel(queryText: String, channel: DataFrame,
      topN: Int, location: Option[String],
      encoder: Column => Column): DataFrame = {
    val q = spark.range(1).select(encoder(lit(queryText)).as("qv"))
      .withColumn("qnrm", l2Norm($"qv"))
    val top = locScoped(channel, location).crossJoin(broadcast(q))
      .select(
        round(cosine($"qv", $"embedding", $"qnrm", l2Norm($"embedding")), 4).as("sim_r"),
        $"doc_name", $"page_num", $"content_type", $"content_id", $"content_raw",
        xxhash64($"doc_name", $"content_type", $"content_id").as("row_id"))
      .orderBy($"sim_r".desc, $"row_id")
      .limit(topN)
    // rank numbering over the ≤ topN rows: TakeOrderedAndProject emits
    // them as ONE partition in rank order, so the row's id within it
    // (0-based) is its rank — no window, no second sort of the scan
    top.withColumn("rnk", monotonically_increasing_id() + 1)
      .select($"rnk", $"sim_r", $"doc_name", $"page_num",
        $"content_type", $"content_id", $"content_raw")
      .orderBy($"rnk")
  }
}

object GraftVectorDB {

  /** A writer lease whose heartbeat is older than this is presumed
    * crashed and may be reclaimed. Nested mutations (a maintenance
    * sweep's compact/rebuild steps) refresh the heartbeat on entry;
    * one FLAT operation outrunning the window is reclaimable by a
    * second writer — size the window above the longest single
    * mutation a deployment runs. */
  val LeaseStaleMs: Long = 10 * 60 * 1000L

  /** Below this many manifest files [[GraftVectorDB!.restore]] copies
    * driver-side — job-scheduling overhead beats parallelism for a
    * handful of files; at or above it the replay runs as ONE Spark
    * job at cluster width. */
  val RestoreSerialThreshold = 32

  /** Per-task manifest replay: verify the listed length still holds
    * (manifest-listed files are immutable by protocol; a mismatch
    * means a concurrent maintenance won a race) and stream the bytes
    * through the Hadoop FS API. Static so the task closure ships only
    * the two root URIs and the conf. */
  private[operators] def restoreCopyOne(srcRootQ: String, destRootQ: String,
      rel: String, len: Long, c: org.apache.hadoop.conf.Configuration): Unit = {
    val src = new org.apache.hadoop.fs.Path(srcRootQ, rel)
    val sfs = src.getFileSystem(c)
    val dst = new org.apache.hadoop.fs.Path(destRootQ, rel)
    val dfs = dst.getFileSystem(c)
    if (sfs.getFileStatus(src).getLen != len) throw new java.io.IOException(
      s"restore: $rel changed length mid-restore - take a fresh snapshot()")
    if (!org.apache.hadoop.fs.FileUtil.copy(sfs, src, dfs, dst, false, c))
      throw new java.io.IOException(s"restore: copy of $rel failed")
  }

  /** One embedding space: the store rows that belong to it (a disjoint
    * content_type claim), how a query is encoded into it — the Column
    * form for in-plan embedding (ingest pipelines, batch search) and
    * the local form for the one-job driver-side serving path (the two
    * are property-tested bit-identical for the built-ins; a real model
    * encoder drops in at the same seam) — and its dimensionality. */
  final case class ChannelDef(name: String, contentTypes: Seq[String],
      encode: Column => Column, encodeLocal: String => Array[Double], dim: Int)

  /** The built-in dual-space registry — the reference's text channel
    * (chunks + captions, run_text_search's scope) and its image space
    * (clip_*_embedder seam, vector_db.py:464-545). */
  private[operators] val builtinChannels: Seq[ChannelDef] = Seq(
    ChannelDef("text", Seq(ContentTypes.TextChunk, ContentTypes.ImageCaption),
      VectorStore.embedText, VectorStore.embedTextLocal, VectorStore.EmbedDim),
    ChannelDef("image", Seq(ContentTypes.Image),
      VectorStore.embedImage, VectorStore.embedImageLocal, VectorStore.ImageEmbedDim))

  /** Safe append fraction before an index rebuild: appends route with
    * build-time centroids, so past ~1× the built corpus the cell
    * geometry no longer reflects the data and partial-probe recall
    * drifts. AnnAppendDriftSpec measures recall@5 at 1× and 5×
    * appended on the worst-case synthetic space and pins this bound;
    * [[GraftVectorDB.appendAnnIndex]] warns (and
    * `annIndexNeedsRebuild` trips) past it. */
  val AppendRebuildFraction = 1.0

  /** Largest id list inlined as an In literal by the shortlist fetch;
    * bigger sets ride a broadcast equi-join instead (same rows, same
    * single scan, constant-size plan — a 10⁵-literal In bloats
    * analysis and codegen well before data size matters). */
  private[operators] val InLiteralMax = 4096

  /** Greedy per-query packing for the MaxScore job-B name cap:
    * smallest fan-out first while the SUMMED counts fit `cap` — the
    * sum over-counts the union (shared names count once in the
    * literal), so the kept queries' name union always fits. Never
    * batch-wide: a query whose own fan-out exceeds the remaining
    * budget falls back to the full plan alone, the rest keep pruning.
    * Deterministic: (count, id) order. */
  private[graft] def greedyNameBudget(fanouts: Seq[(Long, Long)],
      cap: Long): Set[Long] = {
    var budget = cap
    val kept = Set.newBuilder[Long]
    fanouts.map { case (id, n) => (n, id) }.sorted.foreach { case (n, id) =>
      if (n <= budget) { kept += id; budget -= n }
    }
    kept.result()
  }

  /** Per-channel candidate pool depth feeding [[GraftVectorDB.searchHybrid]]'s
    * RRF fusion (the [[HybridSearch.PoolK]] operating point). */
  val HybridPool = 20

  /** Postings row-group size (parquet.block.size): the sidecar is an
    * INDEX, so skip granularity beats bulk-scan throughput — MaxScore's
    * job B prunes a common term's doc_name-sorted run via row-group
    * min/max stats, and 8 MB groups give ~16× finer elimination than
    * the 128 MB default at a per-group overhead that is noise next to
    * a postings row's width. */
  val LexRowGroupBytes: Long = 8L * 1024 * 1024

  /** Lexical sidecar page size in rows (parquet.page.row.count.limit;
    * Parquet's default is 20,000): a pushed term equality skips every
    * page whose column-index min/max excludes it, so a lookup reads
    * about one page per term. On 200,000 postings a one-term lookup
    * read 1,000 rows (20,000 at the default) and an 11-term one 10,000,
    * where 256 md5-bucket directories read 728 and 8,644; past 256,000
    * postings a page is the finer unit. */
  private[operators] val LexPageRows = 1000

  /** Most terms a lexical read pushes as per-term equalities (see
    * `termIn`); a longer list pushes as its [min, max] range. The
    * equality form's plan grows with the list: on 200,000 postings (4
    * cores) a 2,048-term lookup took 1.2 s against 0.4 s as a range,
    * and at 4,096 terms the filter outgrew whole-stage codegen, while a
    * union of 500 scattered terms already touched 91% of the pages. */
  private[operators] val LexExactTermsMax = 512

  /** MaxScore engages only when the skippable common-list mass clears
    * the pruned plan's fixed overhead. The pruned path costs ~4 small
    * scheduling rounds (stats read cold, rare-scan job A, θ/candidate
    * collects, name-pruned job B) where the full plan is one scan —
    * measured at sf1 (SURVEY.md round 9): forced-MaxScore 1.14 s
    * vs full 0.65 s when the "common" list is only 7k rows. At a core-
    * saturated ~5M postings/s scan rate the crossover sits at a few
    * million skippable rows, so: engage when the query's common terms
    * together hold ≥ this many postings (a 3%-df term reaches it at
    * ~3×10⁷ chunks; a true stop word at ~3×10⁶) — exactly the
    * corpora whose lists the full plan cannot afford. Below it the
    * single-scan plan serves, measured-faster. */
  val LexMaxScoreMinCommonRows = 1L << 20

  /** Below this many indexed chunks no term can reach
    * [[LexMaxScoreMinCommonRows]] postings (df ≤ nDocs), so the
    * serving path skips even the stats read. */
  val LexMaxScoreMinDocs: Long = LexMaxScoreMinCommonRows

  /** A query term whose df exceeds nDocs / this fraction counts as
    * COMMON for MaxScore early termination: its posting list is long
    * enough that scoring it only for the surviving candidates (job B's
    * name-pruned scan) beats scanning it whole. Terms below the cut
    * just ride the normal term-pruned scan — their lists are already
    * bounded. 1/32 ≈ 3% of the corpus: job A's rare-list scans stay a
    * bounded corpus fraction per term, while a ≥3%-df term's list
    * (30M+ rows at 10⁹ chunks) is exactly what early termination
    * exists to skip; whether its impact bound actually clears θ is
    * decided per query, with the full scan as the fallback. */
  val LexCommonDfFrac = 32L

  /** RRF dampening constant (Cormack et al. 2009). */
  val RrfK: Int = HybridSearch.RrfK

  /** get_search_range's folder-prefix scope over any frame that
    * carries `doc_name` — shared by every exact AND approximate path
    * (and the lexical plans) so a filtered ANN search can never diverge
    * from the filtered exact scan's scope. */
  private[operators] def locScoped(df: DataFrame, location: Option[String]): DataFrame =
    location.fold(df)(loc => df.filter(col("doc_name").startsWith(loc)))

  /** Per-call bound on the batch search surfaces: the probe-list /
    * ADC-table broadcasts and the driver-side re-rank state all grow
    * linearly with the batch, so past this the caller should chunk the
    * query set and union the results (each chunk keeps the
    * one-scan-per-phase property). */
  val MaxBatchQueries = 4096

  /** The query frame of the collected batch surfaces: (q_id, q_text,
    * per-query scope from an optional `q_loc` column), collected and
    * validated — at most [[MaxBatchQueries]], q_ids unique after the
    * long cast (duplicates would merge two queries into one top-k group
    * and silently corrupt both). */
  private[operators] def batchQueries(queries: DataFrame,
      op: String): Seq[(Long, String, Option[String])] = {
    val hasLoc = queries.columns.contains("q_loc")
    val qs = queries.select(col("q_id").cast("long") +: col("q_text").cast("string") +:
        (if (hasLoc) Seq(col("q_loc").cast("string")) else Nil): _*)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (hasLoc) Option(r.getString(2)) else None)).toSeq
    require(qs.length <= MaxBatchQueries,
      s"$op: ${qs.length} queries exceed the per-call bound ($MaxBatchQueries) - " +
        "chunk the query set and union the results")
    require(qs.map(_._1).distinct.length == qs.length,
      s"$op: q_id values must be unique (after cast to long)")
    qs
  }

  /** Cap on the scale-adaptive rebuild cell count: the routing fit is
    * driver Lloyd over a ≤ [[AnnIndex.SampleTarget]]-row sample, and
    * past ~SampleTarget/4 cells the init is point-starved (< 4 sample
    * points per centroid on average). A deployment growing past this
    * raises SampleTarget together with the cap — the fit stays ONE
    * bounded sample job either way. */
  val MaxAdaptiveCells: Int = (AnnIndex.SampleTarget / 4).toInt

  /** Occupancy ratio (hottest cell / mean) past which the skew gauge
    * warns and [[GraftVectorDB.splitHotCells]] splits: beyond ~4× one
    * cell's probe scan dominates p99 while the routing table still
    * charges every probe the same nProbe budget. */
  val CellSkewRatio = 4.0

  /** Bound on split iterations per [[GraftVectorDB.splitHotCells]]
    * call: each round halves a hot cell, so 6 rounds rebalance up to a
    * 2⁶× outlier; the bound exists for the pathological coincident-
    * vector cell that 2-means cannot separate. */
  val MaxSplitRounds = 6

  /** The store's declared schema: a VectorRecord's data columns as its
    * files hold them ([[StoreDataSchema]], what one partition dir
    * reads) plus the `content_type` partition column. */
  private[operators] val StoreDataSchema: StructType = StructType.fromDDL(
    "doc_name string, doc_type string, page_num bigint, content_id string, " +
      "content_raw string, embedding array<double>, file_hash string, ts timestamp, " +
      "bbox array<double>")
  private[operators] val StoreSchema: StructType = StoreDataSchema.add("content_type", "string")

  /** Shared result shaping for the batch paths ([[GraftVectorDB.searchAll]]
    * and the batch ANN search): per-query `TopKRows` over a (q_id,
    * sim_r, row_id, meta) pairs frame → the searchAll output contract,
    * defined once so the two shapes cannot diverge. */
  private[operators] def batchTopK(pairs: DataFrame, topN: Int, channel: String): DataFrame =
    pairs.groupBy(col("q_id"))
      .agg(graft.functions.expressions.TopKRows(
        col("sim_r"), col("row_id"), col("meta"), topN).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.score").as("sim_r"),
        col("col.payload.doc_name"), col("col.payload.page_num"),
        col("col.payload.content_type"), col("col.payload.content_id"),
        col("col.payload.content_raw"))
      .withColumn("channel", lit(channel)) // same contract as search()
      .orderBy(col("q_id"), col("rnk"))

  /** documents-shaped frame → VectorRecord rows (chunk + embed + hash
    * + caption stub), shuffle-free except the final write. */
  def pipeline(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = Tables.spread(docs).select(
      $"doc_id",
      concat(lit("corpus/"), $"source", lit("/doc_"), $"doc_id", lit(".txt")).as("doc_name"),
      lit("txt").as("doc_type"),
      md5($"text").as("file_hash"),
      timestamp_micros($"doc_id" * 1000000L).as("ts"),
      $"text")
    val chunks = base.select($"doc_id", $"doc_name", $"doc_type", $"file_hash", $"ts",
        posexplode(transform(
          sequence(lit(0), expr(s"int((length(text) - 1) div ${VectorStore.ChunkStride})")),
          i => substr($"text", i * lit(VectorStore.ChunkStride) + lit(1),
            lit(VectorStore.ChunkSize)))))
      .toDF("doc_id", "doc_name", "doc_type", "file_hash", "ts", "page_num", "content_raw")
    chunks.select(
      $"doc_name", $"doc_type", $"page_num".cast("long").as("page_num"),
      lit(graft.model.ContentTypes.TextChunk).as("content_type"),
      $"page_num".cast("string").as("content_id"),
      $"content_raw",
      VectorStore.embedText($"content_raw").as("embedding"),
      $"file_hash", $"ts",
      array(lit(0.0), ($"page_num" * VectorStore.ChunkStride).cast("double"),
        lit(0.0), ($"page_num" * VectorStore.ChunkStride + length($"content_raw"))
          .cast("double")).as("bbox"))
  }

  /** Re-key records into the image channel: content_type=image and the
    * embedding recomputed in the IMAGE space ([[VectorStore.embedImage]]
    * — the stand-in for the CLIP image encoder, vector_db.py:473-490).
    * Callers fabricating image batches must come through here so the
    * store never mixes spaces within a channel. */
  def toImageChannel(records: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    records
      .withColumn("content_type", lit(graft.model.ContentTypes.Image))
      .withColumn("embedding", VectorStore.embedImage(col("content_raw")))
  }

  /** End-to-end multimodal ingest+search as ONE oracle-checkable plan —
    * the whole reference flow (vectorize_folder → caption images →
    * dual-channel store → run_search text_image, vector_db.py:163-229,
    * 547-596, 656-671) composed hermetically: text chunks from
    * [[pipeline]], every third doc doubles as an image asset embedded
    * in the IMAGE space, captions ride into the text channel, and a
    * fixed query hits both channels top-5. Ties break on
    * (doc_name, content_type, content_id) — SQL-reproducible, unlike
    * the store paths' xxhash64 row ids, so DuckDB can replay the whole
    * flow. One corpus pass per channel; query embeds broadcast. */
  val MmQuery = "fast query join table"

  def mmPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val chunks = pipeline(docs)
    val images = Tables.spread(docs).filter($"doc_id" % 3 === 0).select(
      concat(lit("corpus/"), $"source", lit("/doc_"), $"doc_id", lit(".txt")).as("doc_name"),
      lit("txt").as("doc_type"),
      lit(0L).as("page_num"),
      lit(graft.model.ContentTypes.Image).as("content_type"),
      substring(md5($"text"), 1, 8).as("content_id"),
      $"text".as("content_raw"),
      VectorStore.embedImage($"text").as("embedding"),
      md5($"text").as("file_hash"),
      timestamp_micros($"doc_id" * 1000000L).as("ts"),
      array(lit(0.0), lit(0.0), lit(0.0), lit(0.0)).as("bbox"))
    val captions = captionRows(images)
    val cols = Seq($"doc_name", $"page_num", $"content_type", $"content_id",
      $"content_raw", $"embedding")
    val textChannel = chunks.select(cols: _*)
      .unionByName(captions.select(cols: _*))
    val imageChannel = images.select(cols: _*)
    def top5(channel: DataFrame, qEmbed: Column, tag: String): DataFrame = {
      val q = spark.range(1).select(qEmbed.as("qv"))
        .withColumn("qnrm", l2Norm($"qv"))
      val hits = channel.crossJoin(broadcast(q))
        .select(
          round(cosine($"qv", $"embedding", $"qnrm", l2Norm($"embedding")), 4).as("sim_r"),
          $"doc_name", $"page_num", $"content_type", $"content_id", $"content_raw")
        .orderBy($"sim_r".desc, $"doc_name", $"content_type", $"content_id")
        .limit(5)
      hits.withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy($"sim_r".desc, $"doc_name", $"content_type", $"content_id"))
          .cast("long"))
        .withColumn("channel", lit(tag))
    }
    top5(textChannel, VectorStore.embedText(lit(MmQuery)), "text")
      .unionByName(top5(imageChannel, VectorStore.embedImage(lit(MmQuery)), "image"))
      .select($"channel", $"rnk", $"sim_r", $"doc_name", $"page_num",
        $"content_type", $"content_id", $"content_raw")
      .orderBy($"channel", $"rnk")
  }

  /** The built-in caption models. The reference routes a VALIDATED
    * captioning_model name to a base64-image → text function
    * (vector_db.py:33-52 — `captioning_model must be one of …` — and
    * :86-104); no neural runtime exists in this environment, so the
    * built-ins are honest NON-neural captioners with the exact row
    * contract a blip-2 / gpt-4v Column function drops into through
    * [[registerCaptioner]]:
    *  - `header-meta` (default): reads the REAL container header
    *    (PNG/GIF/BMP/JPEG via
    *    [[graft.functions.expressions.ImageHeaderMeta]] — byte
    *    parsing, no image libs) and captions "a WxH FMT image";
    *    opaque payloads fall back to the content-hash stub, so
    *    synthetic corpora are byte-compatible with the historical
    *    caption;
    *  - `content-hash`: the deterministic stub alone. */
  val ValidCaptionModels: Seq[String] = Seq("header-meta", "content-hash")

  private val customCaptioners =
    scala.collection.concurrent.TrieMap.empty[String, Column => Column]

  /** Register a caption model: `f` maps the base64-payload column to a
    * caption text column — the BLIP/GPT-4V seam (a real model runs as
    * a UDF or mapInPandas stage behind the same signature). */
  def registerCaptioner(name: String, f: Column => Column): Unit = {
    require(!ValidCaptionModels.contains(name),
      s"captioning model '$name' is built in")
    customCaptioners.put(name, f)
  }

  /** The caption text column `model` produces over a base64 payload
    * column; unknown names fail loudly with the valid list (the
    * reference's constructor validation, vector_db.py:43-52). */
  def captionColumn(model: String, payloadB64: Column,
      fileHash: Column): Column = model match {
    case "content-hash" =>
      concat(lit("captioned content "), substring(fileHash, 1, 8))
    case "header-meta" =>
      // image + audio/video container captions from ONE payload decode
      // ([[graft.functions.expressions.HeaderCaption]] — the reference
      // captions every binary asset, not just rasters); anything
      // neither walk reads keeps the byte-compatible stub
      coalesce(graft.functions.expressions.HeaderCaption(payloadB64),
        concat(lit("captioned content "), substring(fileHash, 1, 8)))
    case other if customCaptioners.contains(other) =>
      customCaptioners(other)(payloadB64)
    case other => throw new IllegalArgumentException(
      s"captioning_model must be one of ${
        (ValidCaptionModels ++ customCaptioners.keys).mkString("[", ", ", "]")
      }; got '$other'")
  }

  /** Caption rows for binary/image rows through the routed caption
    * model (vector_db.py:547-596's pipeline position: one caption row
    * per image, embedded in the TEXT space so cross-modal text queries
    * find images through their captions). */
  def captionRows(imageRows: DataFrame,
      model: String = "header-meta"): DataFrame = {
    val spark = imageRows.sparkSession
    import spark.implicits._
    val captionText = captionColumn(model, $"content_raw", $"file_hash")
    imageRows.select(
      $"doc_name", $"doc_type", $"page_num",
      lit(graft.model.ContentTypes.ImageCaption).as("content_type"),
      $"content_id", captionText.as("content_raw"),
      VectorStore.embedText(captionText).as("embedding"),
      $"file_hash", $"ts", $"bbox")
  }
}
