package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
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
  *    partitions at the scan.
  *  - `search` = run_search text mode; `searchMultimodal` = text_image
  *    mode (both channels, unioned, channel-tagged);
  *    `searchIn` = get_search_range's location filter (:673-682).
  *    Results are the source manifest (generate_source_list, :903-916).
  *  - image rows carry a deterministic caption row into the text
  *    channel — the shape of blip/openai captioning (:547-596) with
  *    the model call stubbed (no image models in this environment).
  */
class GraftVectorDB(spark: SparkSession, storeDir: String) {
  import spark.implicits._
  import GraftVectorDB.locScoped

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[GraftVectorDB])

  def storePath: String = s"$storeDir/vector_store"

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
    recoverCompact()
    recoverAnnBuild(_ => true)
    channelNames.map(ch => new org.apache.hadoop.fs.Path(annPath(ch)))
      .filter(existsPath).foreach(p => recoverAnnIndex(fsOf(p), p))
    lexical.recover()
    nearDup.recover()
    Seq(storeDir -> "_INGEST", s"$storeDir/_snapshots" -> "manifest.v").foreach {
      case (d, name) =>
        val dir = new org.apache.hadoop.fs.Path(d)
        AtomicDir.recover(fsOf(dir), dir, ".old_", Seq(AtomicDir.stagedPrefix(name)))
    }
    completeIngest()
  }

  def store: DataFrame = spark.read.parquet(storePath)

  /** The store's hash column, one row per record (NOT distinct — a
    * distinct here would shuffle the full store before the batch
    * semi-join below can prune it); empty ONLY when the store
    * genuinely does not exist yet. Any other read failure (corrupt
    * footer, permissions, transient FS error) must propagate —
    * swallowing it would silently disable ingest dedup and
    * double-ingest the batch. */
  private def storeHashColumn: DataFrame = {
    val empty = Seq.empty[String].toDF("file_hash")
    // a store never created is checked for, not read: a read of a
    // missing path logs a FileNotFoundException stack trace first
    if (!existsPath(new org.apache.hadoop.fs.Path(storePath))) empty
    else try store.select($"file_hash")
    catch {
      // UNABLE_TO_INFER_SCHEMA: the path exists but holds no data
      // files — the state a crashed first ingest leaves behind
      // ("_temporary" only), the genuinely-empty store. Anything else
      // (corrupt footer, permissions, transient FS) propagates.
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => empty
    }
  }

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
    indexChannels.foreach(ch => channelFilter(records.limit(0), ch))
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
        indexChannels.foreach { ch =>
          if (annIndexExists(ch)) appendAnnIndex(fresh, ch)
          else if (annIndexBuilt(ch))
            // centroids exist but no codebooks: a pre-PQ index keeps
            // SERVING but cannot encode appends — without this warning
            // the caller believes the index is fresh while searchAnn
            // silently misses every ingested batch until a rebuild
            log.warn(s"ingest: ANN index '$ch' predates PQ codes — " +
              s"skipping index append; rebuild with buildAnnIndex(channel = \"$ch\")")
          // no index at all is the normal pre-build state: the first
          // buildAnnIndex picks these rows up from the store
        }
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
    channelNames.filter(annIndexExists).foreach { ch =>
      val missing = Tables.materialize(channelFilter(store, ch)
        .join(cachedIndex(ch).index.select($"row_id"),
          xxhash64($"doc_name", $"content_type", $"content_id") === $"row_id", "left_anti"))
      try if (!missing.isEmpty) appendAnnIndex(missing, ch)
      finally Tables.release(missing)
    }
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

  /** Whether a channel's ANN index has been built AND can take appends
    * (a pre-PQ index without `_codebooks` serves searches but cannot
    * encode appended rows — it needs a rebuild first). */
  def annIndexExists(channel: String): Boolean =
    annIndexBuilt(channel) &&
      existsPath(new org.apache.hadoop.fs.Path(s"${annPath(channel)}/_codebooks"))

  /** Whether a channel's ANN index has been built at all (it may still
    * predate PQ codes — see [[annIndexExists]] for appendability).
    * A missing index first attempts [[recoverAnnBuild]]: during a
    * crashed rebuild's between-renames window the only copy sits aside,
    * and a false here would make [[delete]]/[[maintain]] silently skip
    * the channel — for a takedown that is silent retention. */
  def annIndexBuilt(channel: String): Boolean =
    existsPath(new org.apache.hadoop.fs.Path(s"${annPath(channel)}/_centroids")) ||
      (recoverAnnBuild(_ == channel) &&
        existsPath(new org.apache.hadoop.fs.Path(s"${annPath(channel)}/_centroids")))

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
            .foreach(rebuildAnnIndexInPlace)
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
    val hasLoc = queries.columns.contains("q_loc")
    val qRows = queries.select(col("q_id").cast("long") +:
        col("q_text").cast("string") +:
        (if (hasLoc) Seq(col("q_loc").cast("string")) else Nil): _*)
      .collect()
    require(qRows.length <= GraftVectorDB.MaxBatchQueries,
      s"searchAllHybrid: ${qRows.length} queries exceed " +
        s"${GraftVectorDB.MaxBatchQueries} - chunk the query set")
    // duplicate q_ids would silently merge two queries' term pools
    // into one TopKRows group (the batchAnnQueries contract on every
    // other batch surface)
    require(qRows.map(_.getLong(0)).distinct.length == qRows.length,
      "searchAllHybrid: q_id values must be unique")
    val qInfo = qRows.map(r => (r.getLong(0), r.getString(1),
      if (hasLoc) Option(r.getString(2)) else None)).toSeq
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

  /** Rebuild a channel's index at the SCALE-ADAPTIVE cell count —
    * the refit the drift/skew gauges call for: the corpus is re-routed
    * with freshly-fit centroids (and codebooks), `_APPENDED` resets,
    * and the rename swap keeps the old index serving until the new one
    * is live. */
  private def rebuildAnnIndexInPlace(channel: String): Unit = {
    val cells = adaptiveCells(channel)
    log.info(s"auto-rebuild: ANN index '$channel' appended fraction " +
      f"${annAppendFraction(channel)}%.2f tripped the policy - rebuilding " +
      s"at $cells cells (was ${cachedIndex(channel).books.length})")
    buildAnnIndex(cells, channel)
  }

  /** Cell count for a drift-triggered rebuild, derived from the LIVE
    * index size — the IVF twin of the adaptive embed-LSH geometry
    * ([[Dedup.adaptivePlanes]]): rebuilding at the built cell count
    * forever means a store that grows 10× under streaming ingest keeps
    * its original cells, per-cell occupancy grows 10×, and every probe
    * scan with it — and UNIFORM growth never trips the 4× skew gauge
    * (all cells grow together), so hot-cell splitting cannot catch it.
    * Holds per-cell occupancy at the build-time anchor instead:
    * `cells = builtCells × liveRows / builtRows`, floored at the
    * current routing-table size (an index never shrinks its geometry
    * on rebuild — probe budgets are tuned against it) and capped at
    * [[GraftVectorDB.MaxAdaptiveCells]] (the driver-Lloyd fit reads a
    * ≤ [[AnnIndex.SampleTarget]]-row sample; past ~SampleTarget/4
    * cells the 2-means init is point-starved — deployments growing
    * beyond the cap raise SampleTarget with it). Live rows come from
    * the cell histogram (parquet footer stats — driver metadata I/O,
    * no job), so appends AND deletes both count. */
  def adaptiveCells(channel: String): Int = {
    val liveCells = cachedIndex(channel).books.length
    val built = readCounter(channel, "_BUILT")
    if (built <= 0) return liveCells // legacy index: no anchor to scale from
    val live = annCellHistogram(channel).values.sum
    val scaled = math.ceil(live.toDouble * liveCells / built).toInt
    math.max(liveCells, math.min(scaled, GraftVectorDB.MaxAdaptiveCells))
  }

  /** The scheduled-maintenance entrypoint a production store runs per
    * channel: rebuild-if-drifted (which subsumes compaction — the
    * whole index rewrites), else compact-if-fragmented with hot-cell
    * splitting. Single-writer contract, like every maintenance op.
    * Returns (rows compacted, whether a rebuild ran). */
  def maintain(channel: String, targetFiles: Int = 1,
      splitSkewedPast: Double = GraftVectorDB.CellSkewRatio,
      rebuildAt: Double = GraftVectorDB.AppendRebuildFraction): (Long, Boolean) =
    withWriterLease("maintain") {
      if (annAppendFraction(channel) > rebuildAt) {
        rebuildAnnIndexInPlace(channel)
        (0L, true)
      } else (compactAnnIndex(channel, targetFiles, splitSkewedPast), false)
    }

  /** The STORE-side maintenance sweep — [[maintain]]'s twin for the
    * data partitions: streaming ingest lands a file-set per micro-batch
    * and file-granular deletes leave zero-row residue, so each
    * content_type partition fragments over time. Compacts every
    * partition holding more than `targetFiles` parquet files down to
    * `targetFiles` (the `compact()` swap + recovery protocol);
    * partitions at or under the bound are untouched — their files are
    * neither read nor moved. Single-writer contract. Returns
    * (partitions compacted, rows rewritten). */
  def maintainStore(targetFiles: Int = 32): (Int, Long) = withWriterLease("maintainStore") {
    recoverCompact()
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return (0, 0L)
    var parts = 0
    var rows = 0L
    fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("content_type="))
      .map(_.getPath).sortBy(_.getName)
      .foreach { dir =>
        val nFiles = fs.listStatus(dir)
          .count(_.getPath.getName.endsWith(".parquet"))
        if (nFiles > targetFiles) {
          rows += compact(dir.getName.stripPrefix("content_type="), targetFiles)
          parts += 1
        }
      }
    if (parts > 0) spark.catalog.refreshByPath(storePath)
    // sidecars with accumulated tombstones compact in the same sweep
    // (gated on tombstones actually existing — an untombstoned sidecar
    // would pay a full rewrite for nothing; fragmentation-driven
    // compaction stays an explicit maintainNearDup/maintainLexical call)
    if (nearDup.tombstoned) maintainNearDup()
    if (lexical.tombstoned) maintainLexical()
    // maintenance exit = a consistent point: stamp the live file set so
    // an external copier has a manifest that cannot straddle a rewrite
    snapshot()
    (parts, rows)
  }

  /** Versioned snapshot manifest — the consistent-copy contract for a
    * store operated across systems: one atomically-committed file
    * (`_snapshots/manifest.vN`, an [[AtomicDir.commitVersion]])
    * listing every LIVE data/metadata file of the store and
    * every channel's ANN index with its byte length. Dot-prefixed
    * crash/staging residue (`.compact_*`, `.delete_*`, `.ann_build_*`,
    * `.splits_tmp_*`) is NEVER listed — a copy made by replaying the
    * manifest reproduces exactly the serving state, mid-ingest
    * leftovers excluded, and serves identically (SnapshotSpec).
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
      channelDef(channel).encode)
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
    val encode: Column => Column = channelDef(channel).encode
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
    batchTopK(pairs, topN, channel)
  }

  /** Batch twin of the two-job [[searchAnnPq]] serving path — the
    * batch surface over the full IVF+PQ architecture: N queries' ADC
    * shortlists come from ONE partition- AND column-pruned scan of the
    * unioned probe sets (each query's ADC tables ride a broadcast
    * equi-join on cell instead of plan literals, so a row only scores
    * against queries probing its cell), per-query shortlists split via
    * the bounded [[graft.functions.expressions.TopKByScore]] partial
    * aggregate, then ONE fetch of the unioned shortlists feeds the
    * exact driver-side re-rank — two scans for the whole batch instead
    * of 2N. Per-query results identical to N × [[searchAnnPq]]
    * (spec-pinned). Per-query probe escalation matches
    * [[searchAnnPq]]'s: queries whose ADC shortlist under-fills topN
    * while unprobed cells remain re-shortlist over EVERY cell in ONE
    * extra batch pass scoped to just that subset, before the (single)
    * fetch — a dense batch stays two scans (spec-pinned).
    * PER-QUERY scope: an optional `q_loc` column behaves exactly as
    * [[searchAll]]'s — the prefix filters INSIDE the ADC stage before
    * the bounded shortlist (never after, where out-of-scope rows would
    * crowd it), and only a batch that carries a scope pays the
    * doc_name column in the ADC scan.
    * Output contract = [[searchAll]]. */
  def searchAllAnnPq(queries: DataFrame, topN: Int = 5,
      nProbe: Int = AnnIndex.AutoNProbe, shortlist: Int = AnnIndex.AutoShortlist,
      location: Option[String] = None, channel: String = "text"): DataFrame = {
    val (ci, qInfo) = batchPqProbe(queries, nProbe, channel, location)
    // AutoNProbe/AutoShortlist defaults resolve against the live index
    // geometry, exactly as the single-query path
    val np = AnnIndex.resolveNProbe(nProbe, ci.books.length)
    val effShortlist =
      if (shortlist > 0) shortlist
      else AnnIndex.autoShortlist(ci.rows, ci.books.length, np)
    // scan 1: per-query ADC shortlist — same ordering contract as the
    // single-query path (adc desc, row_id asc), so shortlist sets match
    val short0 = batchPqShortlistOf(ci, qInfo, effShortlist, location).collect()
    val shortByQ0 = short0.groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("row_id")).toSet }
    // ESCALATION, batched (the searchAnnPq contract): an under-filled
    // shortlist re-probes its SCOPE-ELIGIBLE cells (routing sidecar) —
    // only for the under-filled subset, in one extra shortlist pass;
    // filled queries' shortlists stand and the fetch below stays single
    val cells = ci.books.map(_._1).toSeq
    val under =
      if (np >= cells.length) Seq.empty
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
        ((shortByQ0 -- underIds) ++
          underIds.map(id => id -> escByQ.getOrElse(id, Set.empty[Long])),
          // the fetch prunes to the union of BOTH passes' probe sets —
          // under a narrow scope that is far smaller than all cells
          (qInfo.flatMap(_._4) ++ escInfo.flatMap(_._4)).distinct)
      }
    val allIds = shortByQ.values.flatten.toSeq.distinct
    // scan 2: ONE fetch of the unioned shortlists' vectors + metadata.
    // If EVERY query's shortlist is untruncated, every row any query
    // scanned is in the union (its scanning query kept it), so the id
    // filter is a no-op — skip it (per-query scoping happens in the
    // shortByQ lookup below either way). A per-query q_loc breaks that
    // cover argument in the dangerous direction: the shortlist pass
    // FILTERED rows the fetch would not, so "every shortlist
    // untruncated" no longer bounds the uncovered fetch — an
    // all-narrow-scopes batch (the multi-tenant shape) would collect
    // the whole probed index. Keep the id filter whenever any scope is
    // carried: ids ≤ N × shortlist bounds the fetch regardless.
    val coverScan = qInfo.forall(_._6.isEmpty) &&
      shortByQ.values.forall(_.size < effShortlist)
    val fetched = fetchShortlist(ci, unionCells, allIds, location, coverScan).collect()
    // GROUPED by row_id, not a 1:1 map: an xxhash64(doc_name,
    // content_type, content_id) collision fetches BOTH rows under one
    // id, and the single-query path re-ranks every fetched row — a
    // toMap here would silently drop one of the pair, and .map(byId)
    // would throw on an id the fetch could not find instead of
    // degrading the way the single-query path does
    val byId = fetched.groupBy(_.getAs[Long]("row_id"))
    val outRows = qInfo.flatMap { case (id, qv, qnrm, _, _, _) =>
      val cand = shortByQ.getOrElse(id, Set.empty[Long]).toSeq
        .flatMap(rid => byId.getOrElse(rid, Array.empty[org.apache.spark.sql.Row]))
      pqExactReRank(cand, qv, qnrm, topN).zipWithIndex.map { case ((s, r), i) =>
        (id, (i + 1).toLong, s, r.getAs[String]("doc_name"),
          r.getAs[Long]("page_num"), r.getAs[String]("content_type"),
          r.getAs[String]("content_id"), r.getAs[String]("content_raw"), channel)
      }
    }
    // driver-side (q_id, rnk) sort: the frame is local, a Spark
    // orderBy would add range-exchange sampling jobs to the serving path
    outRows.sortBy(t => (t._1, t._2))
      .toDF("q_id", "rnk", "sim_r", "doc_name", "page_num",
        "content_type", "content_id", "content_raw", "channel")
  }

  /** Collect + embed + probe-rank a query batch — driver arithmetic.
    * q_ids must be unique AFTER the long cast: duplicates would merge
    * two queries' scores into one shortlist group and silently corrupt
    * both result sets, so the contract fails loudly here instead.
    * The last element of each entry is the per-query scope from an
    * optional `q_loc` column (None when absent/null). */
  private def batchPqProbe(queries: DataFrame, nProbe: Int, channel: String,
      location: Option[String])
      : (GraftVectorDB.CachedAnnIndex,
         Seq[(Long, Array[Double], Double, Seq[Int], Array[Array[Double]], Option[String])]) = {
    val ci = cachedIndex(channel)
    require(ci.pqBooks.nonEmpty,
      "this ANN index predates PQ codes (no _codebooks) — rebuild with " +
        "buildAnnIndex, or use searchAllAnn (which needs none)")
    val hasLoc = queries.columns.contains("q_loc")
    val qs = queries.select(col("q_id").cast("long").as("q_id") +: col("q_text") +:
        (if (hasLoc) Seq(col("q_loc").cast("string")) else Nil): _*)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[String]("q_text"),
        if (hasLoc) Option(r.getAs[String]("q_loc")) else None))
    require(qs.length <= GraftVectorDB.MaxBatchQueries,
      s"searchAllAnnPq: ${qs.length} queries exceeds the per-call bound " +
        s"(${GraftVectorDB.MaxBatchQueries}) — the probe-list broadcast and " +
        "driver re-rank state grow with the batch; chunk the query set " +
        "and union the results")
    require(qs.map(_._1).distinct.length == qs.length,
      "searchAllAnnPq: q_id values must be unique (after cast to long)")
    val qInfo = qs.toSeq.map { case (id, text, loc) =>
      val qv = embedLocal(channel, text)
      (id, qv, math.sqrt(qv.map(x => x * x).sum),
        rankCellsScoped(ci, qv, AnnIndex.resolveNProbe(nProbe, ci.books.length),
          location.toSeq ++ loc.toSeq),
        AnnIndex.adcTablesLocal(ci.pqBooks, qv), loc)
    }
    (ci, qInfo)
  }

  /** The lazy batch ADC-shortlist frame (q_id, row_id) — exposed via
    * [[annAllPqShortlistPlan]] so specs can pin the single pruned scan.
    * The probe list broadcasts as (q_id, cell) PAIRS and each query's
    * ADC tables join once by q_id — carrying dt on the pair frame
    * would ship nProbe redundant copies of every query's tables. */
  private def batchPqShortlistOf(ci: GraftVectorDB.CachedAnnIndex,
      qInfo: Seq[(Long, Array[Double], Double, Seq[Int], Array[Array[Double]], Option[String])],
      shortlist: Int, location: Option[String]): DataFrame = {
    val unionCells = qInfo.flatMap(_._4).distinct
    // per-query scope rides the (q_id, cell) pair frame; the prefix
    // filter must run BEFORE the shortlist top-k — post-shortlist
    // filtering would let out-of-scope rows crowd the bounded list and
    // silently shrink in-scope recall (the single-query locScoped
    // placement, per query). Only a batch that actually carries a
    // scope pays the doc_name column in the ADC scan.
    val anyLoc = qInfo.exists(_._6.isDefined)
    val cellFrame = qInfo.flatMap { case (id, _, _, cells, _, loc) =>
      cells.map(c => (id, c, loc.orNull)) }.toDF("q_id", "cell", "q_loc")
    val dtFrame = qInfo.map { case (id, _, _, _, dts, _) =>
      (id, dts.map(_.toSeq).toSeq) }.toDF("q_id", "dt")
    val score = ci.pqBooks.indices.map(i =>
      element_at(element_at($"dt", i + 1), element_at($"codes", i + 1) + 1))
      .reduce(_ + _) / $"nrm"
    val joined = locScoped(ci.index.filter($"cell".isin(unionCells: _*)), location)
      .join(broadcast(cellFrame), "cell")
    val scoped =
      if (anyLoc) joined.filter($"q_loc".isNull || $"doc_name".startsWith($"q_loc"))
      else joined
    scoped
      .join(broadcast(dtFrame), "q_id")
      .select($"q_id", score.as("adc"), $"row_id")
      .groupBy($"q_id")
      .agg(graft.functions.expressions.TopKByScore(
        $"adc", $"row_id", shortlist).as("top"))
      .select($"q_id", explode($"top").as("t"))
      .select($"q_id", $"t.id".as("row_id"))
  }

  private[graft] def annAllPqShortlistPlan(queries: DataFrame, nProbe: Int,
      shortlist: Int, location: Option[String] = None,
      channel: String = "text"): DataFrame = {
    val (ci, qInfo) = batchPqProbe(queries, nProbe, channel, location)
    batchPqShortlistOf(ci, qInfo, shortlist, location)
  }

  /** The lazy shortlist-FETCH frame of [[searchAllAnnPq]] — exposed so
    * specs can pin that a large batch's fetch carries no giant In
    * literal and still reads the index exactly once. */
  private[graft] def annAllPqFetchPlan(queries: DataFrame, nProbe: Int,
      shortlist: Int, location: Option[String] = None,
      channel: String = "text"): DataFrame = {
    val (ci, qInfo) = batchPqProbe(queries, nProbe, channel, location)
    val short = batchPqShortlistOf(ci, qInfo, shortlist, location).collect()
    // same cover rule as searchAllAnnPq: a per-query scope voids the
    // untruncated-covers-the-scan argument
    val coverScan = qInfo.forall(_._6.isEmpty) &&
      short.groupBy(_.getAs[Long]("q_id")).values.forall(_.length < shortlist)
    fetchShortlist(ci, qInfo.flatMap(_._4).distinct,
      short.map(_.getAs[Long]("row_id")).distinct.toSeq, location, coverScan)
  }

  /** Fetch index rows by id within the probed cells — the second scan
    * of every PQ path (single and batch). Serving-sized id lists
    * inline as an In predicate; past
    * [[GraftVectorDB.InLiteralMax]] the fetch switches to a broadcast
    * equi-join on a (row_id) frame: a 1 000-query × 100-shortlist
    * batch (or an exhaustive-config shortlist at corpus size) would
    * otherwise inline a 10⁵-literal predicate — analysis/codegen bloat
    * well before data size matters — while the join is the same single
    * pruned scan with a constant-size plan. Ids are deduplicated so
    * the join cannot multiply rows. */
  private def fetchShortlist(ci: GraftVectorDB.CachedAnnIndex,
      cells: Seq[Int], ids: Seq[Long], location: Option[String],
      idsCoverScan: Boolean): DataFrame = {
    val pruned = ci.index.filter($"cell".isin(cells: _*))
    // an UNTRUNCATED shortlist (the exhaustive-config audit shape —
    // every scanned row made the list) filters nothing: skip the id
    // predicate entirely instead of broadcasting a corpus-sized id
    // frame into a join that cannot exclude a row (the round-6 sf1
    // regression). The location scope must then re-apply here — in the
    // id-filtered paths the ids already encode it.
    val byId =
      if (idsCoverScan) locScoped(pruned, location)
      else if (ids.length <= GraftVectorDB.InLiteralMax)
        pruned.filter($"row_id".isin(ids: _*))
      else pruned.join(broadcast(ids.distinct.toDF("row_id")), "row_id")
    byId.select($"row_id", $"v", $"nrm", $"doc_name", $"page_num",
      $"content_type", $"content_id", $"content_raw")
  }

  /** Exact re-rank of fetched shortlist rows against one query — the
    * ONE definition both the single-query ([[searchAnnPq]]) and batch
    * ([[searchAllAnnPq]]) paths use, so their rounding and tie-break
    * contracts cannot silently diverge. Returns the topN
    * (rounded score, row) pairs, score-desc / row_id-asc. */
  private def pqExactReRank(fetched: Seq[org.apache.spark.sql.Row],
      qv: Array[Double], qnrm: Double, topN: Int)
      : Seq[(Double, org.apache.spark.sql.Row)] = {
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    fetched.map { r =>
      val v = r.getSeq[Double](r.fieldIndex("v"))
      var d = 0.0; var i = 0
      while (i < qv.length) { d += qv(i) * v(i); i += 1 }
      (r4(d / (qnrm * r.getAs[Double]("nrm"))), r)
    }.sortBy { case (s, r) => (-s, r.getAs[Long]("row_id")) }.take(topN)
  }

  /** Shared result shaping for BOTH batch paths ([[searchAll]] and
    * [[searchAllAnn]]): per-query `TopKRows` over a (q_id, sim_r,
    * row_id, meta) pairs frame → the searchAll output contract. One
    * definition, so the batch-exact and batch-ANN shapes cannot
    * silently diverge. */
  private def batchTopK(pairs: DataFrame, topN: Int, channel: String): DataFrame =
    pairs.groupBy($"q_id")
      .agg(graft.functions.expressions.TopKRows(
        $"sim_r", $"row_id", $"meta", topN).as("top"))
      .select($"q_id", posexplode($"top"))
      .select($"q_id", ($"pos" + 1).cast("long").as("rnk"),
        $"col.score".as("sim_r"),
        $"col.payload.doc_name", $"col.payload.page_num",
        $"col.payload.content_type", $"col.payload.content_id",
        $"col.payload.content_raw")
      .withColumn("channel", lit(channel)) // same contract as search()
      .orderBy($"q_id", $"rnk")

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
    val imageRows = queryImages.flatMap(b64 =>
      searchIn("image", b64, topN, location).collect())
    val hits = textRows ++ imageRows
    val messages = ResponseGen.assemble(Some(queryText), queryImages, hits)
    ResponseGen.SearchResponse(
      model.generate(messages, hits), messages, ResponseGen.sources(hits))
  }

  def annPath: String = annPath("text")
  def annPath(channel: String): String = s"$storeDir/ann_index_$channel"

  /** Build (or rebuild) the store's IVF ANN index over one channel
    * ("text" = text chunks + captions, the run_text_search scope;
    * "image" = the 48-dim image space): rows are routed to cells with
    * a driver-local sample-fit routing table (AnnIndex.fitCentroids —
    * one bounded collect, no MLlib job chain) and rewritten
    * cell-partitioned WITH their search metadata, so an approximate
    * search never joins back to the store. Each cell is written as one
    * doc_name-sorted run ([[writeCells]]): at most cells + P − 1 files
    * for P shuffle partitions, so a probe opens about one file per
    * probed cell. The routing table persists at `_centroids`,
    * reopenable from any session. At 100 TB this is the batch index
    * build: one full pass to route + write. Returns rows indexed.
    *
    * `geometry = "imi"` switches the routing table to the inverted
    * multi-index PRODUCT form ([[AnnIndex.imi]], Babenko & Lempitsky
    * 2012): `_centroids` persists 2·⌈√cells⌉ half-space centroids
    * instead of `cells` full ones, a cell is the code PAIR from the
    * fused [[graft.functions.expressions.PqEncode]] assignment, and
    * [[cachedIndex]] expands the product driver-side into the same
    * flat (cell, concat-centroid) table every serving surface already
    * consumes — EXACT, because ranking pairs by half-score sums IS
    * ranking concatenated centroids by L2. The structural win (√cells
    * routing evaluations, √cells-sized fit/persist) only matters past
    * ~10⁵ cells where the expansion would give way to the paper's
    * multi-sequence traversal; below that flat routing is strictly
    * faster, so "flat" stays the default and the auto-rebuild policy's
    * sizing — this option proves the wiring (build → persist → reopen
    * → serve ≡ exact under full probe), deliberately claiming no
    * performance. */
  def buildAnnIndex(cells: Int = AnnIndex.IvfCells,
      channel: String = "text", geometry: String = "flat"): Long =
    withWriterLease("buildAnnIndex") {
    require(geometry == "flat" || geometry == "imi",
      s"buildAnnIndex: unknown geometry '$geometry' (flat|imi)")
    val chan = channelRows(channel)
      .withColumn("row_id", xxhash64($"doc_name", $"content_type", $"content_id"))
      .withColumn("v", toDouble($"embedding"))
    // ONE bounded sample job feeds BOTH fits (IVF routing + PQ
    // codebooks); routing + encoding are then narrow projections on
    // the single full build pass
    val sample = AnnIndex.sampleVectors(chan.select($"row_id", $"v"), $"row_id")
    val pqBooks = AnnIndex.pqCodebooksFromSample(sample, AnnIndex.PqStoreK)
    val (centroids, cellExpr, imiTag) =
      if (geometry == "flat") {
        val c = AnnIndex.centroidsFromSample(spark, sample, cells)
        (c, AnnIndex.cellOf(AnnIndex.routingBooks(c), $"v"), None)
      } else {
        val dim = channelDef(channel).dim
        require(dim % 2 == 0,
          s"buildAnnIndex(imi): channel '$channel' dim $dim is odd - " +
            "the two half-space codebooks need an even split")
        val half = dim / 2
        val k1 = math.max(1, math.min(sample.length,
          math.ceil(math.sqrt(cells.toDouble)).toInt))
        val halfBooks = Array(
          AnnIndex.lloyd(sample.map(_.slice(0, half)), k1, iters = 5),
          AnnIndex.lloyd(sample.map(_.slice(half, dim)), k1, iters = 5))
        val enc = graft.functions.expressions.PqEncode($"v", halfBooks, half)
        val cdf = halfBooks.zipWithIndex.flatMap { case (bk, m) =>
          bk.zipWithIndex.map { case (cv, k) => (m, k, cv.toSeq) } }.toSeq
          .toDF("m", "k", "cv")
        (cdf,
          (element_at(enc, 1) * k1 + element_at(enc, 2)).cast("int"),
          Some(k1))
      }
    val indexed = chan.select($"doc_name", $"page_num", $"content_type",
        $"content_id", $"content_raw", $"row_id", $"v",
        l2Norm($"v").as("nrm"), cellExpr.as("cell"),
        AnnIndex.encodeCodes(pqBooks).as("codes"))
    // build staged and swap in (AtomicDir.swap): a plain Overwrite
    // would expose a HALF-BUILT index (cells without a routing table)
    // for the whole build; the old index serves until the new one is
    // live
    recoverAnnBuild(_ == channel)
    val tmp = s"$storeDir/.ann_build_tmp_$channel"
    writeCells(indexed, tmp, SaveMode.Overwrite)
    centroids.write.mode(SaveMode.Overwrite).parquet(s"$tmp/_centroids")
    // geometry marker rides the swap with the table it describes: a
    // reader never sees an imi table without the marker or vice versa
    imiTag.foreach { k1 =>
      val gp = new org.apache.hadoop.fs.Path(s"$tmp/_centroids/_GEOMETRY")
      AtomicDir.write(fsOf(gp), gp, s"imi:$k1")
    }
    AnnIndex.writeCodebooks(spark, pqBooks, s"$tmp/_codebooks")
    val live = new org.apache.hadoop.fs.Path(annPath(channel))
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // prefix→cell routing sidecar: per-cell doc_name [min, max] from
    // the just-written files (a column-pruned scan of doc_name + the
    // cell partition column), staged INSIDE the build dir so it swaps
    // in atomically with the index it describes. Scoped searches use
    // it to skip cells whose range excludes their prefix — probe
    // ranking AND escalation (see rankCellsScoped / eligibleCells).
    val builtRanges = spark.read.option("basePath", tmp)
      .parquet(AnnIndex.visibleEntries(spark, tmp, _.isDirectory): _*).groupBy($"cell")
      .agg(min($"doc_name").as("mn"), max($"doc_name").as("mx"))
      .collect().map(r => r.getAs[Int]("cell") ->
        (r.getAs[String]("mn"), r.getAs[String]("mx"))).toMap
    GraftVectorDB.writeDocRanges(fs,
      new org.apache.hadoop.fs.Path(s"$tmp/_centroids"), builtRanges)
    AtomicDir.swap(fs, new org.apache.hadoop.fs.Path(tmp), live,
      new org.apache.hadoop.fs.Path(s"$storeDir/.ann_build_old_$channel"))
    val n = spark.read.parquet(annPath(channel)).count() // footer-stats count, no data scan
    // drift baseline: the rename swapped in a fresh _centroids dir, so
    // _APPENDED is implicitly reset to 0; record the built size the
    // append-fraction policy divides by
    writeCounter(channel, "_BUILT", n)
    n
  }

  /** Write index rows as one sorted run per cell — the only way
    * [[buildAnnIndex]] and [[appendAnnIndex]] write them, the ANN twin
    * of the lexical sidecar's sorted writes. Range-partitioning on (cell, doc_name)
    * gives every file one contiguous doc_name range of one cell, so a
    * write of P shuffle partitions (after AQE's coalescing) lands at
    * most cells + P − 1 files, and parquet's doc_name min/max stats let
    * a location-filtered search skip row groups. The range sample
    * costs one small extra job per write. */
  private def writeCells(df: DataFrame, path: String, mode: SaveMode): Unit =
    df.repartitionByRange($"cell", $"doc_name")
      .sortWithinPartitions($"cell", $"doc_name")
      .write.mode(mode).partitionBy("cell").parquet(path)

  /** Crash recovery for [[buildAnnIndex]]'s whole-index swaps of the
    * channels `channels` accepts ([[AtomicDir.recover]] over the store
    * root): a rebuild crash can never leave a channel index-less. Runs
    * on buildAnnIndex entry AND from the missing-index paths
    * ([[annIndexBuilt]], [[cachedIndex]]), so serving self-heals without
    * waiting for the next maintenance run; those run without the lease,
    * so they touch only their own channel's exact names and never
    * another channel's in-flight build. Returns whether an index was
    * restored. */
  private def recoverAnnBuild(channels: String => Boolean): Boolean = {
    val root = new org.apache.hadoop.fs.Path(storeDir)
    AtomicDir.recover(fsOf(root), root, ".ann_build_old_",
      Seq(".ann_build_tmp_"), ch => s"ann_index_$ch", channels)
  }

  /** Incrementally extend the channel's ANN index with newly-ingested
    * VectorRecord rows: cells come from the PERSISTED routing table
    * and codes from the persisted codebooks (no refit — re-clustering
    * belongs to a rebuild), appended as one new sorted run per touched
    * cell ([[writeCells]]: at most touched cells + P − 1 files) with
    * existing files untouched, so the job is O(|new rows|) no
    * matter how large the index is — the ingest path that keeps a
    * 100 TB index maintainable between rebuilds (the store twin of
    * [[AnnIndex.appendIvfStore]]). Bumps the index generation stamp so
    * cached serving frames re-list files. Single-writer contract, same
    * as compact(). Returns rows appended. */
  def appendAnnIndex(records: DataFrame, channel: String = "text"): Long = withWriterLease("appendAnnIndex") {
    val ci = cachedIndex(channel)
    // fail BEFORE any write: an empty-codebook encode would produce an
    // unwritable array<void> codes column, and failing mid-append
    // would strand store rows outside the index
    require(ci.pqBooks.nonEmpty,
      s"ANN index '$channel' predates PQ codes (no _codebooks) — " +
        "rebuild with buildAnnIndex before appending")
    // an index built before the drift counters landed has no _BUILT:
    // annAppendFraction would read 0.0 forever — indistinguishable
    // from a fresh build — and the rebuild policy would stay silent on
    // exactly the indexes most likely to have accumulated drift. Seed
    // the baseline once from the pre-append index size (footer-stats
    // count, no data scan; one-time cost for legacy indexes only).
    if (!counterExists(channel, "_BUILT")) {
      val seeded = math.max(0L,
        ci.index.count() - readCounter(channel, "_APPENDED"))
      writeCounter(channel, "_BUILT", seeded)
      log.warn(s"appendAnnIndex('$channel'): index predates drift counters — " +
        s"seeded _BUILT=$seeded from the current index size; the appended " +
        "fraction is exact from here (and resets at the next buildAnnIndex)")
    }
    // scope to the channel like buildAnnIndex: a mixed batch (the
    // shape ingestRecords accepts) must not leak 48-dim image vectors
    // into the 64-dim text index — DotProduct truncates silently, so
    // the rows would route on garbage scores
    val chan = channelFilter(records, channel)
      .withColumn("row_id", xxhash64($"doc_name", $"content_type", $"content_id"))
      .withColumn("v", toDouble($"embedding"))
    val indexed = chan.select($"doc_name", $"page_num", $"content_type",
      $"content_id", $"content_raw", $"row_id", $"v",
      l2Norm($"v").as("nrm"), AnnIndex.cellOf(ci.books, $"v").as("cell"),
      AnnIndex.encodeCodes(ci.pqBooks).as("codes"))
    // count the BATCH (bounded by the new rows), never the index —
    // the same pass also yields the per-cell doc_name stats the
    // routing sidecar needs, so this stays ONE job
    val cellStats = indexed.groupBy($"cell")
      .agg(count(lit(1)).as("n"), min($"doc_name").as("mn"),
        max($"doc_name").as("mx"))
      .collect()
    val n = cellStats.map(_.getAs[Long]("n")).sum
    if (n > 0) {
      // WIDEN the routing sidecar BEFORE the data lands: a crash
      // between the two steps leaves ranges wider than the data
      // (harmless); the reverse order could prune cells that already
      // hold the new rows. Only existing entries widen — a cell with
      // no entry is unknown-contents (always eligible) and must stay
      // that way.
      val cDirP = new org.apache.hadoop.fs.Path(s"${annPath(channel)}/_centroids")
      val fsA = cDirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cur = GraftVectorDB.readDocRanges(fsA, cDirP)
      if (cur.nonEmpty) {
        val widened = cur ++ cellStats.flatMap { r =>
          val c = r.getAs[Int]("cell")
          cur.get(c).map { case (mn, mx) =>
            c -> (GraftVectorDB.minU8(mn, r.getAs[String]("mn")),
              GraftVectorDB.maxU8(mx, r.getAs[String]("mx"))) }
        }
        if (widened != cur) GraftVectorDB.writeDocRanges(fsA, cDirP, widened)
      }
      // the build's layout: one sorted run per touched cell
      writeCells(indexed, annPath(channel), SaveMode.Append)
      // drift accounting: appends route with BUILD-time centroids, so
      // cell geometry degrades as the appended fraction grows — past
      // the measured-safe bound (AnnAppendDriftSpec) the caller must
      // rebuild, and silence here would hide a slow recall leak.
      // The fraction is computed ONCE from values already in hand —
      // this is the hot ingest path, and each readCounter is a driver
      // FS round-trip (an object-store GET at deployment scale)
      val appended = readCounter(channel, "_APPENDED") + n
      writeCounter(channel, "_APPENDED", appended)
      // stamp LAST: each replacement under _centroids moves its mtime
      // (a cache-key part), so a reader re-caching before the stamp
      // would re-cache once more after it
      bumpIndexGeneration(channel)
      val built = readCounter(channel, "_BUILT")
      val frac = if (built <= 0) 0.0 else appended.toDouble / built
      if (frac > GraftVectorDB.AppendRebuildFraction)
        log.warn(f"appendAnnIndex('$channel'): appended rows now $frac%.2fx " +
          f"the built corpus (> ${GraftVectorDB.AppendRebuildFraction}%.1fx) - " +
          "cell routing uses build-time centroids, so recall degrades from " +
          "here; rebuild with buildAnnIndex to re-fit the geometry")
    }
    n
  }

  /** Invalidate every session's cached serving state for a channel:
    * rewrite the `_STAMP` content tag (see [[cachedIndex]]) and drop
    * this JVM's entry directly. A UUID, not nanoTime: nanoTime is an
    * arbitrary-origin per-JVM counter, so two writers in DIFFERENT
    * JVMs could in principle write identical tags and leave another
    * session's cached file listing stale — the exact bug the content
    * tag exists to prevent. */
  private def bumpIndexGeneration(channel: String): Unit = {
    val stamp = new org.apache.hadoop.fs.Path(s"${annPath(channel)}/_centroids/_STAMP")
    AtomicDir.write(fsOf(stamp), stamp, java.util.UUID.randomUUID().toString)
    GraftVectorDB.routingCache.remove(
      new org.apache.hadoop.fs.Path(s"${annPath(channel)}/_centroids").toString)
  }

  /** Bookkeeping counters beside the routing table (`_BUILT` = rows at
    * the last build, `_APPENDED` = rows appended since): tiny text
    * files, absent == 0. */
  private def counterPath(channel: String, name: String) =
    new org.apache.hadoop.fs.Path(s"${annPath(channel)}/_centroids/$name")

  private def counterExists(channel: String, name: String): Boolean = {
    val p = counterPath(channel, name)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def readCounter(channel: String, name: String): Long = {
    val p = counterPath(channel, name)
    AtomicDir.readLong(fsOf(p), p)
  }

  private def writeCounter(channel: String, name: String, v: Long): Unit = {
    val p = counterPath(channel, name)
    AtomicDir.write(fsOf(p), p, v.toString)
  }

  /** Appended rows since the last build, as a fraction of the built
    * corpus (0.0 for a fresh or never-built index). The drift gauge:
    * appended rows route with build-time centroids, so this is the
    * knob the rebuild policy reads. */
  def annAppendFraction(channel: String): Double = {
    val built = readCounter(channel, "_BUILT")
    if (built <= 0) 0.0
    else readCounter(channel, "_APPENDED").toDouble / built
  }

  /** Rebuild policy: true once the appended fraction exceeds
    * [[GraftVectorDB.AppendRebuildFraction]] — the bound
    * AnnAppendDriftSpec measures recall against. [[appendAnnIndex]]
    * warns when this trips; a scheduled maintenance job should rebuild. */
  def annIndexNeedsRebuild(channel: String): Boolean =
    annAppendFraction(channel) > GraftVectorDB.AppendRebuildFraction

  /** ANN-index maintenance — [[compact]]'s twin for the index files:
    * [[appendAnnIndex]] adds a sorted run (about one file) per touched
    * cell per micro-batch forever, and at 100 TB the accumulating
    * small files are the operational killer (listing latency + one
    * task per tiny file). It also brings an index written before
    * [[writeCells]] (one file per input partition per cell) to the
    * one-run-per-cell layout. Rewrites every cell holding more than
    * `targetFiles` parquet files into `targetFiles` doc_name-sorted
    * files (restoring the row-group-skipping layout appends fragment)
    * via a dot-prefixed temp dir + atomic rename — O(touched cells):
    * untouched cells' files are neither read nor moved. Search results are invariant
    * and the generation stamp bumps so every session's cached serving
    * frame re-lists files. Single-writer contract, same as compact().
    * Returns rows rewritten. */
  def compactAnnIndex(channel: String, targetFiles: Int = 1,
      splitSkewedPast: Double = Double.PositiveInfinity): Long = withWriterLease("compactAnnIndex") {
    require(annIndexBuilt(channel),
      s"no ANN index for '$channel' — run buildAnnIndex first")
    val root = new org.apache.hadoop.fs.Path(annPath(channel))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val recovered = recoverAnnIndex(fs, root)
    // optional occupancy rebalance rides the same maintenance entry:
    // split FIRST so the freshly-written sub-cells (1 file each) need
    // no compaction and the superseded hot cell is never rewritten
    if (!splitSkewedPast.isPosInfinity) splitHotCells(channel, splitSkewedPast)
    var rewritten = 0L
    fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .foreach { st =>
        val nFiles = fs.listStatus(st.getPath)
          .count(f => f.getPath.getName.endsWith(".parquet"))
        if (nFiles > targetFiles) {
          val cellDir = st.getPath
          val tmp = new org.apache.hadoop.fs.Path(root,
            s".compact_tmp_${cellDir.getName}")
          val old = new org.apache.hadoop.fs.Path(root,
            s".compact_old_${cellDir.getName}")
          // reading the cell dir directly excludes the cell partition
          // column — exactly what the rewritten files must contain
          val cur = spark.read.parquet(cellDir.toString)
          val n = cur.count() // footer-stats count, no data scan
          val laid =
            if (targetFiles == 1) cur.repartition(1)
            else cur.repartitionByRange(targetFiles, $"doc_name", $"row_id")
          laid.sortWithinPartitions("doc_name", "row_id")
            .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
          AtomicDir.swap(fs, tmp, cellDir, old)
          rewritten += n
        }
      }
    // bump on RECOVERY too, not just rewrites: the crashed compaction
    // never stamped a new generation, so a session that listed files
    // during the orphaned window (cell dir absent lists fine) holds a
    // cache whose key still matches after the restore — without the
    // bump it would silently serve without the restored cell forever
    if (rewritten > 0 || recovered) bumpIndexGeneration(channel)
    rewritten
  }

  /** Per-cell row counts read from parquet file FOOTERS — driver
    * metadata I/O only: no Spark job, no data scan, O(files) like the
    * drift counters. The occupancy gauge for routing-skew detection:
    * routing centroids never refit between rebuilds, so a hot key
    * range concentrates appends into one cell and that cell's probe
    * scan comes to dominate p99 search latency at scale. */
  def annCellHistogram(channel: String): Map[Int, Long] = {
    require(annIndexBuilt(channel),
      s"no ANN index for '$channel' — run buildAnnIndex first")
    val root = new org.apache.hadoop.fs.Path(annPath(channel))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map { st =>
        val n = fs.listStatus(st.getPath)
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(f, spark.sparkContext.hadoopConfiguration)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }.sum
        st.getPath.getName.stripPrefix("cell=").toInt -> n
      }.toMap
  }

  /** Occupancy skew: hottest cell / mean non-empty cell (1.0 =
    * perfectly balanced; 0.0 = empty index). */
  def annCellSkew(channel: String): Double = {
    val occ = annCellHistogram(channel).values.filter(_ > 0)
    if (occ.isEmpty) 0.0 else occ.max.toDouble * occ.size / occ.sum
  }

  /** Skew gauge with the warn the maintenance policy reads — the
    * occupancy twin of [[annIndexNeedsRebuild]]: true once the hottest
    * cell exceeds [[GraftVectorDB.CellSkewRatio]] × the mean, the
    * point where one probe scan dominates latency and
    * [[splitHotCells]] should run. */
  def annIndexSkewed(channel: String): Boolean = {
    val s = annCellSkew(channel)
    val skewed = s > GraftVectorDB.CellSkewRatio
    if (skewed)
      log.warn(f"ANN index '$channel': hottest cell is $s%.1fx the mean occupancy " +
        f"(> ${GraftVectorDB.CellSkewRatio}%.1fx) - one probe scan dominates " +
        "search latency; run splitHotCells (or compactAnnIndex with " +
        "splitSkewedPast) to rebalance without a rebuild")
    skewed
  }

  /** Split every cell hotter than `ratio` × the mean occupancy into
    * two sub-cells — O(touched cells), no rebuild: the hot cell's rows
    * (and ONLY its rows) are re-fit into 2 sub-centroids (bounded
    * sample + driver Lloyd, the buildAnnIndex fit machinery), rewritten
    * into two fresh cell dirs, and the routing table amendment commits
    * as ONE atomic file rename (`_centroids/_splits.vN` — remove the
    * hot cell's centroid, append the two sub-centroids). Probes of
    * other cells are unchanged; full-probe searches remain exhaustive
    * because the routing table always references exactly the live
    * cells.
    *
    * Crash contract (single-writer, like all maintenance): before the
    * commit rename the staged sub-cell dirs are UNREFERENCED by the
    * routing table — invisible to every probe (`cell.isin(routing)`)
    * — and the source cell still serves; after it, the source dir is
    * unreferenced and the sub-cells serve. Either way results are
    * complete at every instant, and [[dropUnreferencedCells]] (run on
    * every maintenance entry) reclaims the dead side. Returns the cell
    * ids that were split. */
  def splitHotCells(channel: String,
      ratio: Double = GraftVectorDB.CellSkewRatio): Seq[Int] = withWriterLease("splitHotCells") {
    require(annIndexBuilt(channel),
      s"no ANN index for '$channel' — run buildAnnIndex first")
    val root = new org.apache.hadoop.fs.Path(annPath(channel))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverAnnIndex(fs, root)
    dropUnreferencedCells(channel, fs, root)
    // iterate: a bisected hot cell's halves can still sit above the
    // ratio (a 16× cell needs two rounds) — loop until balanced, with
    // a bound so a pathological distribution (all rows one point, thus
    // unsplittable) cannot spin
    val all = scala.collection.mutable.ArrayBuffer.empty[Int]
    // cells whose bisection could not separate rows THIS call (all
    // coincident vectors): re-attempting them every round would restage
    // and abort the same full-size rewrite up to MaxSplitRounds times
    val unsplittable = scala.collection.mutable.Set.empty[Int]
    var rounds = 0
    var progressed = true
    while (progressed && rounds < GraftVectorDB.MaxSplitRounds) {
      val occ = annCellHistogram(channel).filter(_._2 > 0)
      if (occ.isEmpty) return all.toSeq
      val mean = occ.values.sum.toDouble / occ.size
      // a cell needs at least 4 rows for a meaningful 2-means refit
      val hot = occ.filter { case (c, n) =>
          n > ratio * mean && n >= 4 && !unsplittable.contains(c) }
        .keys.toSeq.sorted
      // a split either COMMITS (sub-cells strictly smaller — progress
      // by construction) or aborts with nothing staged or amended: a
      // coincident-vector cell can no longer commit a permanent empty
      // twin centroid into the routing table on every maintenance run
      val results = hot.map(h => h -> splitCell(channel, h, fs, root))
      results.foreach {
        case (h, Some(_)) => all += h
        case (h, None) =>
          unsplittable += h
          log.warn(s"splitHotCells('$channel'): cell $h cannot be split " +
            s"(occupancy ${occ(h)} but <2 distinct vectors) — skipping")
      }
      progressed = results.exists(_._2.isDefined)
      rounds += 1
      if (progressed)
        log.info(s"splitHotCells('$channel') round $rounds: split cells " +
          s"${results.collect { case (h, Some(_)) => h }.mkString(",")} " +
          s"(occupancy ${hot.map(occ).mkString(",")} vs mean $mean%.1f)")
    }
    if (all.nonEmpty) bumpIndexGeneration(channel)
    all.toSeq
  }

  /** One cell's split: stage two sub-cell dirs, commit the routing
    * amendment atomically, roll the superseded source dir forward.
    * Returns the two sub-cells' row counts (footer stats) — or None
    * WITHOUT committing (or leaving) anything when the cell cannot
    * make progress: a coincident-vector cell (all rows one point)
    * would otherwise re-emerge at full size under a fresh id plus a
    * permanently EMPTY twin centroid in the routing table — repeated
    * scheduled maintenance would accumulate empty cells without bound,
    * growing the amendment log and displacing useful cells from probe
    * sets. */
  private def splitCell(channel: String, h: Int,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[(Long, Long)] = {
    val ci = cachedIndex(channel)
    val cellDir = new org.apache.hadoop.fs.Path(root, s"cell=$h")
    val cur = spark.read.parquet(cellDir.toString)
    // bounded deterministic sample of THIS cell only + driver 2-means
    val sample = AnnIndex.sampleVectors(cur.select($"row_id", $"v"), $"row_id")
    // pre-check before ANY write: 2-means over <2 distinct points
    // yields a duplicate centroid and a one-sided assignment
    if (sample.map(_.toSeq).distinct.lengthCompare(2) < 0) return None
    val subs = AnnIndex.routingBooks(
      AnnIndex.centroidsFromSample(spark, sample, 2))
    // fresh ids: the amendment history only ever appends new ids, so
    // max+1/max+2 can never collide with a live or superseded cell
    val maxId = ci.books.map(_._1).max
    val books2 = Array((maxId + 1, subs(0)._2), (maxId + 2, subs(1)._2))
    val assigned = cur.withColumn("cell2", AnnIndex.cellOf(books2, $"v"))
    books2.foreach { case (id, _) =>
      val tmp = new org.apache.hadoop.fs.Path(root, s".compact_tmp_cell=$id")
      assigned.filter($"cell2" === id).drop("cell2")
        .repartition(1).sortWithinPartitions("doc_name", "row_id")
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      AtomicDir.swap(fs, tmp, new org.apache.hadoop.fs.Path(root, s"cell=$id"),
        new org.apache.hadoop.fs.Path(root, s".compact_old_cell=$id"))
    }
    // the staged dirs are UNREFERENCED (invisible to every probe) until
    // the amendment commits — so an abort here leaves no trace beyond
    // dirs dropUnreferencedCells reclaims, and we reclaim them eagerly
    val Seq(na, nb) = books2.toSeq.map { case (id, _) =>
      spark.read.parquet(
        new org.apache.hadoop.fs.Path(root, s"cell=$id").toString).count()
    }
    if (na == 0L || nb == 0L) {
      // the sample looked separable but the full cell was not (e.g.
      // duplicates dominating beyond the sample) — ABORT: committing
      // would put a permanent empty cell in the routing table
      books2.foreach { case (id, _) =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"cell=$id"), true) }
      return None
    }
    // COMMIT: one atomic rename of the amendment file
    val prior = GraftVectorDB.readSplits(fs,
      new org.apache.hadoop.fs.Path(s"${annPath(channel)}/_centroids"))._2
    GraftVectorDB.writeSplits(fs,
      new org.apache.hadoop.fs.Path(s"${annPath(channel)}/_centroids"),
      prior ++ Seq(GraftVectorDB.SplitOp("R", h, Array.empty[Double])) ++
        books2.map { case (id, v) => GraftVectorDB.SplitOp("A", id, v) })
    // roll forward: the source cell is now unreferenced — reclaim it
    fs.delete(cellDir, true)
    Some((na, nb))
  }

  /** Reclaim cell dirs the CURRENT routing table does not reference —
    * they are invisible to every probe (partition scans filter on the
    * routing table's cell ids): either a committed split's superseded
    * source cell or an uncommitted split's staged outputs. Never
    * touches a referenced dir, so it can never delete serving data. */
  private def dropUnreferencedCells(channel: String,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    val live = cachedIndex(channel).books.map(_._1).toSet
    fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .filterNot(st => live.contains(st.getPath.getName.stripPrefix("cell=").toInt))
      .foreach { st =>
        log.warn(s"ANN index '$channel': reclaiming unreferenced ${st.getPath} " +
          "(leftover of an interrupted split)")
        fs.delete(st.getPath, true)
      }
  }

  /** Crash recovery ([[AtomicDir.recover]]) for one channel's index:
    * the per-cell swaps of [[compactAnnIndex]], [[splitHotCells]] and
    * the delete paths, the small and versioned files under
    * `_centroids`, and the per-file delete swaps inside each cell.
    * Returns whether any cell was restored. */
  private def recoverAnnIndex(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Boolean = {
    val recovered = AtomicDir.recover(fs, root, ".compact_old_", Seq(".compact_tmp_"))
    AtomicDir.recover(fs, new org.apache.hadoop.fs.Path(root, "_centroids"), ".old_",
      Seq("_splits.v", "_docranges.v", "_STAMP", "_BUILT", "_APPENDED", "_DELETED")
        .map(AtomicDir.stagedPrefix))
    fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .foreach(st => recoverFileSwaps(fs, st.getPath))
    recovered
  }

  /** Document deletion — the takedown/GDPR lifecycle op a store
    * operated for years needs, WITHOUT a full rebuild:
    *
    *  - [[delete]] (by name, the common takedown shape) is
    *    FILE-granular: parquet footers identify exactly which
    *    doc_name-sorted files can hold a victim, and only those files
    *    rewrite (per-file [[AtomicDir.swap]]) —
    *    O(touched files) regardless of store size; untouched files are
    *    neither read nor moved.
    *  - [[deleteWhere]] (arbitrary predicate) rewrites the touched
    *    content_type partitions (per-partition anti-join and swap, as
    *    `compact()` does) — general but
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
    recoverCompact()
    // sidecar tombstones FIRST (fail-open — see GenSidecar)
    nearDup.tombstone(names.toDF("doc_name"))
    lexical.tombstone(names.toDF("doc_name"))
    // ONE pruned scan finds the touched partitions + counts: doc_name
    // pushes to parquet, and the sorted layout makes it row-group-skipping
    val touched = store.filter($"doc_name".isin(names: _*))
      .groupBy($"content_type").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    touched.keys.toSeq.sorted.foreach { ct =>
      deleteNamesFromDir(fs,
        new org.apache.hadoop.fs.Path(s"$storePath/content_type=$ct"), names,
        sortCols = Seq("doc_name", "page_num"))
    }
    // stale FileStatus entries (same path, new length) must not serve
    if (touched.nonEmpty) spark.catalog.refreshByPath(storePath)
    // index cleanup ALWAYS runs for EVERY registered channel — a crash
    // between the store pass and this point converges by re-running
    channelNames.filter(annIndexBuilt)
      .foreach(ch => deleteNamesFromAnnIndex(ch, names))
    touched.values.sum
  }

  /** FILE-granular delete within one sorted parquet dir (a store
    * content_type partition or an index cell): the dir's files are
    * doc_name-sorted with row-group min/max stats, so the footers —
    * driver metadata I/O — identify exactly which files can hold a
    * victim; only THOSE files rewrite. At 100 TB this is the difference
    * between a takedown costing O(touched files) and rewriting the
    * whole partition (≈ the corpus for the text channel).
    *
    * The rewrite is ONE Spark job for ALL touched files of the dir
    * (rows tagged with their source file via `input_file_name`, one
    * output file per source via a partitioned write) — a takedown
    * touching hundreds of files costs one cluster-parallel job, not
    * hundreds of sequential driver-paced single-file jobs (the round-6
    * serialization). Each output then swaps in over its source file
    * ([[AtomicDir.swap]], aside `.delete_old_<name>`), and an
    * all-rows-deleted file is replaced by a ZERO-ROW file rather than
    * removed, so a missing live file is always unambiguous crash
    * state, never a completed delete. `sortCols` restores the dir's sorted layout (store
    * partitions: doc_name+page_num; index cells: doc_name+row_id) —
    * the batched read does not preserve per-file row order the way the
    * old single-file read did. Returns rows removed. */
  private def deleteNamesFromDir(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, names: Seq[String],
      sortCols: Seq[String]): Long = {
    recoverFileSwaps(fs, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val sortedNames = names.sorted.toArray
    def footerRows(p: org.apache.hadoop.fs.Path): Long = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }
    val touched = fs.listStatus(dir)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .filter(f => GraftVectorDB.fileTouchesNames(f, sortedNames, conf))
      .map(_.getPath).sortBy(_.getName)
    if (touched.isEmpty) return 0L
    val before = touched.map(footerRows).sum
    // one job: every touched file's survivors, tagged by source file
    // (file NAMES are unique within the dir — input_file_name returns
    // the full URI, whose encoding is not worth depending on) and laid
    // out one output file per source (repartition on the tag puts each
    // source's rows in one task; the partitioned write splits by tag)
    val fileIdx = touched.map(_.getName).zipWithIndex.toMap
    val tmp = new org.apache.hadoop.fs.Path(dir, ".delete_tmp_batch")
    spark.read.parquet(touched.map(_.toString): _*)
      .withColumn("__f", element_at(typedLit(fileIdx),
        substring_index(input_file_name(), "/", -1)))
      .filter(!$"doc_name".isin(names: _*))
      .repartition($"__f")
      .sortWithinPartitions(($"__f" +: sortCols.map(col)): _*)
      .write.mode(SaveMode.Overwrite).partitionBy("__f").parquet(tmp.toString)
    var removed = before
    touched.foreach { live =>
      val k = fileIdx(live.getName)
      val outDir = new org.apache.hadoop.fs.Path(tmp, s"__f=$k")
      val replacement =
        if (fs.exists(outDir))
          fs.listStatus(outDir).map(_.getPath)
            .find(_.getName.endsWith(".parquet"))
            .getOrElse(throw new java.io.IOException(
              s"deleteNamesFromDir: no replacement part file under $outDir"))
        else {
          // every row of this file was a victim: stage a ZERO-ROW
          // replacement (schema from the original's footer — one tiny
          // limit(0) job) so the live file never goes missing
          val empty = new org.apache.hadoop.fs.Path(tmp, s"__empty_$k")
          spark.read.parquet(live.toString).limit(0).coalesce(1)
            .write.mode(SaveMode.Overwrite).parquet(empty.toString)
          fs.listStatus(empty).map(_.getPath)
            .find(_.getName.endsWith(".parquet"))
            .getOrElse(throw new java.io.IOException(
              s"deleteNamesFromDir: no zero-row part file under $empty"))
        }
      removed -= footerRows(replacement)
      AtomicDir.swap(fs, replacement, live,
        new org.apache.hadoop.fs.Path(dir, s".delete_old_${live.getName}"))
    }
    fs.delete(tmp, true)
    removed
  }

  /** Crash recovery for [[deleteNamesFromDir]]'s per-file swaps. */
  private def recoverFileSwaps(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Unit =
    AtomicDir.recover(fs, dir, ".delete_old_", Seq(".delete_tmp_"))

  /** Name-list index cleanup, file-granular: the touched CELLS come
    * from one column-pruned, row-group-skipping scan; within each,
    * only footer-intersecting files rewrite. */
  private def deleteNamesFromAnnIndex(channel: String, names: Seq[String]): Long = {
    val root = new org.apache.hadoop.fs.Path(annPath(channel))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val recovered = recoverAnnIndex(fs, root)
    val ci = cachedIndex(channel)
    val touchedCells = ci.index.filter($"doc_name".isin(names: _*))
      .select($"cell").distinct().collect().map(_.getInt(0)).sorted
    var removed = 0L
    touchedCells.foreach { c =>
      removed += deleteNamesFromDir(fs,
        new org.apache.hadoop.fs.Path(root, s"cell=$c"), names,
        sortCols = Seq("doc_name", "row_id"))
    }
    if (touchedCells.nonEmpty || recovered) bumpIndexGeneration(channel)
    if (removed > 0)
      writeCounter(channel, "_DELETED", readCounter(channel, "_DELETED") + removed)
    removed
  }

  def deleteWhere(cond: Column): Long = withWriterLease("deleteWhere") {
    recoverCompact() // restore any prior rewrite's crash leftovers first
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
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    touched.keys.toSeq.sorted.foreach { ct =>
      val partDir = new org.apache.hadoop.fs.Path(s"$storePath/content_type=$ct")
      val tmp = new org.apache.hadoop.fs.Path(
        s"$storePath/.compact_tmp_content_type=$ct")
      val old = new org.apache.hadoop.fs.Path(
        s"$storePath/.compact_old_content_type=$ct")
      val nFiles = math.max(1, fs.listStatus(partDir)
        .count(_.getPath.getName.endsWith(".parquet")))
      // the partition read excludes content_type — restore it so the
      // predicate can reference it, drop it again before the write
      val remaining = spark.read.parquet(partDir.toString)
        .withColumn("content_type", lit(ct))
        .filter(keep).drop("content_type")
      // preserve the doc_name-sorted layout (and file count) location
      // filters' row-group skipping depends on
      remaining.repartitionByRange(nFiles, $"doc_name", $"page_num")
        .sortWithinPartitions("doc_name", "page_num")
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      AtomicDir.swap(fs, tmp, partDir, old)
    }
    // index cleanup ALWAYS runs for EVERY registered channel (see
    // scaladoc: rerun-to-converge after a crash between the store
    // rewrite and this point)
    channelNames.filter(annIndexBuilt)
      .foreach(ch => deleteFromAnnIndex(ch, hit, keep))
    touched.values.sum
  }

  /** Drop matching rows from one channel's ANN index: ONE column-pruned
    * scan finds the touched cells, each touched cell rewrites via the
    * compactAnnIndex swap protocol (O(touched cells) — untouched cells'
    * files are neither read nor moved), generation bumps so every
    * session's cached serving frame re-lists files. */
  private def deleteFromAnnIndex(channel: String, hit: Column, keep: Column): Long = {
    val root = new org.apache.hadoop.fs.Path(annPath(channel))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val recovered = recoverAnnIndex(fs, root)
    val ci = cachedIndex(channel)
    val touchedCells = ci.index.filter(hit).select($"cell").distinct()
      .collect().map(_.getInt(0)).sorted
    var removed = 0L
    touchedCells.foreach { c =>
      val cellDir = new org.apache.hadoop.fs.Path(root, s"cell=$c")
      val tmp = new org.apache.hadoop.fs.Path(root, s".compact_tmp_cell=$c")
      val old = new org.apache.hadoop.fs.Path(root, s".compact_old_cell=$c")
      val cur = spark.read.parquet(cellDir.toString)
      val before = cur.count() // footer-stats count, no data scan
      // single doc_name-sorted file per rewritten cell — the layout
      // compactAnnIndex restores (a delete is a compaction opportunity)
      cur.filter(keep).repartition(1)
        .sortWithinPartitions("doc_name", "row_id")
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      AtomicDir.swap(fs, tmp, cellDir, old)
      removed += before - spark.read.parquet(cellDir.toString).count()
    }
    if (touchedCells.nonEmpty || recovered) bumpIndexGeneration(channel)
    if (removed > 0)
      writeCounter(channel, "_DELETED", readCounter(channel, "_DELETED") + removed)
    removed
  }

  /** The channel REGISTRY — a training-data store has N embedding
    * spaces (text, image, audio, video, code…), not a hardcoded two:
    * every lifecycle op (build/append/search/delete/maintain) resolves
    * channels here, so a registered space gets the whole surface for
    * free. The built-in entries are the reference's dual text/image
    * spaces (run_text_search / run_image_search,
    * vector_db.py:698-759). Insertion-ordered: delete/maintain sweeps
    * iterate deterministically. */
  private val channels = scala.collection.mutable.LinkedHashMap(
    GraftVectorDB.builtinChannels.map(c => c.name -> c): _*)

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
    val claimed = channels.values.flatMap(_.contentTypes).toSet
    val overlap = c.contentTypes.filter(claimed)
    require(overlap.isEmpty,
      s"channel '${c.name}' claims content types already owned: ${overlap.mkString(",")}")
    require(c.encodeLocal("dim probe").length == c.dim,
      s"channel '${c.name}': encodeLocal produces ${c.encodeLocal("dim probe").length} " +
        s"dims, declared ${c.dim}")
    channels.put(c.name, c)
  }

  private def channelDef(channel: String): GraftVectorDB.ChannelDef =
    channels.getOrElse(channel, throw new IllegalArgumentException(
      s"unknown ANN channel '$channel' (${channels.keys.mkString(" | ")})"))

  /** The one channel→predicate mapping, shared by build and append so
    * appended rows can never route differently from built rows. */
  private def channelFilter(df: DataFrame, channel: String): DataFrame =
    df.filter($"content_type".isin(channelDef(channel).contentTypes: _*))

  private def channelRows(channel: String): DataFrame = channelFilter(store, channel)

  /** Approximate text search against the ANN index: the query routes
    * to its `nProbe` nearest cells (a centroid-table-sized driver
    * computation) and ONLY those cells' files are scanned — the
    * partition-pruned twin of [[search]]'s full-channel scan, the path
    * that keeps p99 search latency flat while the store grows to
    * 100 TB. Same output contract as [[search]]; `location` applies
    * get_search_range's folder-prefix scope (vector_db.py:673-682)
    * INSIDE the pruned scan — metadata-filtered ANN is the most common
    * vector-db query shape, and falling back to the exact full-scan
    * path just to filter would forfeit the index.
    *
    * Serving-path cost: ONE Spark job (the pruned-scan top-k). The
    * routing table, index frame, and parquet schema are cached per
    * build generation (the `_centroids` mtime the build's rename
    * stamps — a driver metadata call, no job, invalidated by rebuild);
    * the query embeds driver-side ([[VectorStore.embedTextLocal]]);
    * rank numbering attaches to the ≤ topN collected rows on the
    * driver. GraftVectorDBSpec pins the per-search job count. */
  def searchAnn(queryText: String, topN: Int = 5,
      nProbe: Int = AnnIndex.AutoNProbe, location: Option[String] = None): DataFrame =
    searchAnnChannel(queryText, "text", topN, nProbe, location)

  /** Image-space twin of [[searchAnn]] over the `image`-channel index
    * (build with `buildAnnIndex(channel = "image")`): the query content
    * encodes with the image-space hash family, mirroring
    * [[searchImage]]'s exact scan. */
  def searchAnnImage(queryContent: String, topN: Int = 5,
      nProbe: Int = AnnIndex.AutoNProbe, location: Option[String] = None): DataFrame =
    searchAnnChannel(queryContent, "image", topN, nProbe, location)

  /** ANN search over ANY registered channel — the generic form of
    * [[searchAnn]]/[[searchAnnImage]] (same pruned-scan serving path,
    * same probe escalation). */
  def searchAnnIn(channel: String, query: String, topN: Int = 5,
      nProbe: Int = AnnIndex.AutoNProbe, location: Option[String] = None): DataFrame =
    searchAnnChannel(query, channel, topN, nProbe, location)

  /** IVF+PQ search over ANY registered channel — the generic form of
    * [[searchAnnPq]]/[[searchAnnPqImage]]. */
  def searchAnnPqIn(channel: String, query: String, topN: Int = 5,
      nProbe: Int = AnnIndex.AutoNProbe, shortlist: Int = AnnIndex.AutoShortlist,
      location: Option[String] = None): DataFrame =
    searchAnnPqChannel(query, channel, topN, nProbe, shortlist, location)

  /** The channel's routing table + resolved index frame, cached per
    * build generation. Generation = the `_centroids` mtime (rebuilds
    * swap via rename, which always moves it) plus the append stamp's
    * content plus the split-amendment version. The staleness check is
    * a handful of driver FS metadata calls and two tiny file reads
    * (stamp + amendment log) — no Spark job, no parquet read on the
    * warm path; appendAnnIndex additionally drops this JVM's entry
    * directly, so a same-session writer never even waits on the tag. */
  private def cachedIndex(channel: String): GraftVectorDB.CachedAnnIndex = {
    channelDef(channel) // unknown names fail with the registry's error, not a path error
    val cDir = new org.apache.hadoop.fs.Path(s"${annPath(channel)}/_centroids")
    val fs = cDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a clear contract error beats the raw FileNotFoundException the
    // getFileStatus below would surface for a never-built index
    // (annIndexBuilt first rolls back a crashed rebuild swap, so
    // serving self-heals instead of failing until a manual rebuild)
    if (!annIndexBuilt(channel))
      throw new IllegalStateException(
        s"ANN index '$channel' has not been built (no ${annPath(channel)}/_centroids) — " +
          s"run buildAnnIndex(channel = \"$channel\") first")
    // generation = build-swap mtime + the append stamp's CONTENT (a
    // unique tag string): appends add files inside existing cell dirs
    // (root mtime does not move) and stamp mtime alone has filesystem
    // tick granularity — two appends in one tick would leave cached
    // file listings stale, silently dropping the second batch
    val stampTag = AtomicDir.read(fs, new org.apache.hadoop.fs.Path(cDir, "_STAMP"))
      .getOrElse("")
    // the split-amendment version rides the generation key: a split's
    // atomic commit (a new _splits.vN) must invalidate cached routing
    // just like a rebuild or append does
    val (splitsTag, splitOps) = GraftVectorDB.readSplits(fs, cDir)
    val gen = s"${fs.getFileStatus(cDir).getModificationTime}:$stampTag:$splitsTag"
    val key = cDir.toString
    Option(GraftVectorDB.routingCache.get(key)) match {
      case Some(c) if c.gen == gen && (c.index.sparkSession eq spark) => c
      case _ =>
        // geometry-aware table read: an imi `_centroids` persists the
        // two half-space codebooks (m, k, cv) — expand the product
        // driver-side into the flat (cell = i·K + j, c₁ᵢ ⊕ c₂ⱼ) table
        // the whole serving machinery consumes. Exact: pair-sum
        // ranking ≡ concatenated-centroid L2 (AnnIndex.imi), and the
        // separable argmin keeps append-time assignment consistent
        // with the build's PqEncode code pairs. Past ~10⁵ cells the
        // production reader would rank via half-score sums instead of
        // materializing K² rows — below it this expansion is free.
        val geomP = new org.apache.hadoop.fs.Path(cDir, "_GEOMETRY")
        val baseBooks = AtomicDir.read(fs, geomP).map(_.trim) match {
          case Some(tag) =>
            require(tag.startsWith("imi:"),
              s"unknown ANN geometry marker '$tag' at $geomP")
            val k1 = tag.stripPrefix("imi:").toInt
            val hb = AnnIndex.readParts(spark, cDir.toString).collect()
              .map(r => (r.getAs[Int]("m"), r.getAs[Int]("k"),
                r.getAs[Seq[Double]]("cv").toArray))
              .groupBy(_._1).toArray.sortBy(_._1)
              .map(_._2.sortBy(_._2).map(_._3))
            (for (i <- hb(0).indices; j <- hb(1).indices)
              yield (i * k1 + j, hb(0)(i) ++ hb(1)(j))).toArray
          case None => AnnIndex.routingBooks(AnnIndex.readParts(spark, cDir.toString))
        }
        val books = GraftVectorDB.applySplits(baseBooks, splitOps)
        // an index persisted before PQ landed has no _codebooks —
        // it stays servable on the plain probe path; only searchAnnPq
        // demands a rebuild
        val cbPath = new org.apache.hadoop.fs.Path(s"${annPath(channel)}/_codebooks")
        val pqBooks =
          if (fs.exists(cbPath)) AnnIndex.readCodebooks(spark, cbPath.toString)
          else Array.empty[Array[Array[Double]]]
        // resolve the index frame once: schema inference + file listing
        // happen here, not per search
        val idx = spark.read.parquet(annPath(channel))
        // prefix→cell routing sidecar (may be absent: legacy index) —
        // split-removed parents linger harmlessly (never queried) and
        // split children are absent (always eligible)
        val docRanges = GraftVectorDB.readDocRanges(fs, cDir)
        // footer-stats count, once per generation: sizes the adaptive
        // PQ shortlist (and nothing else) — no data scan
        val nRows = idx.count()
        val c = GraftVectorDB.CachedAnnIndex(gen, books, pqBooks, idx,
          docRanges, nRows)
        GraftVectorDB.routingCache.put(key, c)
        c
    }
  }

  /** The channel's driver-side query encoder (the embedTextLocal /
    * embedImageLocal seam — property-tested bit-identical to the
    * distributed embedders), resolved through the registry. */
  private def embedLocal(channel: String, query: String): Array[Double] =
    channelDef(channel).encodeLocal(query)

  /** Rank probe cells for one query vector — driver arithmetic over
    * the routing table. Uses the ASSIGNMENT metric (L2 argmin as
    * dot − |c|²/2), so a query's own cell always ranks first. */
  private def rankCells(ci: GraftVectorDB.CachedAnnIndex,
      qv: Array[Double], nProbe: Int): Seq[Int] =
    rankAmong(ci.books, qv, nProbe)

  private def rankAmong(books: Array[(Int, Array[Double])],
      qv: Array[Double], nProbe: Int): Seq[Int] =
    books
      .map { case (cell, c) =>
        var d = 0.0; var i = 0
        while (i < c.length) { d += qv(i) * c(i); i += 1 }
        (cell, d - c.map(x => x * x).sum / 2) }
      .sortBy { case (cell, d) => (-d, cell) }
      .take(nProbe).map(_._1).toSeq

  /** Can this cell hold a row matching EVERY prefix in scope? The
    * sidecar's [min, max] is a superset of the cell's live doc_names
    * (build exact, appends widen-first, deletes only shrink content),
    * so `false` is a proof — skipping the cell cannot lose a row. */
  private def cellEligible(ci: GraftVectorDB.CachedAnnIndex, cell: Int,
      prefixes: Seq[String]): Boolean =
    prefixes.forall(p => ci.docRanges.get(cell).forall {
      case (mn, mx) => GraftVectorDB.rangeMayContainPrefix(mn, mx, p) })

  /** The scope-eligible cell set — what escalation probes instead of
    * ALL cells: a multi-tenant narrow scope re-probes only the cells
    * whose doc_name range can intersect it. */
  private[graft] def eligibleCells(ci: GraftVectorDB.CachedAnnIndex,
      prefixes: Seq[String]): Seq[Int] =
    if (prefixes.isEmpty || ci.docRanges.isEmpty) ci.books.map(_._1).toSeq
    else ci.books.map(_._1).filter(c => cellEligible(ci, c, prefixes)).toSeq

  /** Spec hook: the eligible set for a channel + scope without running
    * a search. */
  private[graft] def eligibleCellsOf(channel: String,
      prefixes: Seq[String]): Seq[Int] =
    eligibleCells(cachedIndex(channel), prefixes)

  /** [[rankCells]] restricted to scope-eligible cells: a scoped query
    * spends its nProbe budget on cells that can actually hold in-scope
    * rows, so a narrow tenant scope resolves in its first pass instead
    * of under-filling and paying a full re-probe. */
  private def rankCellsScoped(ci: GraftVectorDB.CachedAnnIndex,
      qv: Array[Double], nProbe: Int, prefixes: Seq[String]): Seq[Int] =
    if (prefixes.isEmpty || ci.docRanges.isEmpty) rankAmong(ci.books, qv, nProbe)
    else rankAmong(ci.books.filter(b => cellEligible(ci, b._1, prefixes)),
      qv, nProbe)

  /** Embed the query and rank probe cells — all driver arithmetic.
    * A `location` scope restricts the ranking to scope-eligible cells
    * (see [[rankCellsScoped]]). */
  private def annProbe(query: String, channel: String, nProbe: Int,
      location: Option[String] = None)
      : (GraftVectorDB.CachedAnnIndex, Array[Double], Double, Seq[Int]) = {
    val ci = cachedIndex(channel)
    val qv = embedLocal(channel, query)
    val qnrm = math.sqrt(qv.map(x => x * x).sum)
    // AutoNProbe (the default) resolves against the LIVE cell count —
    // the probe budget scales with the routing table it ranks over
    // (see AnnIndex.autoNProbe for the measured decade decay it fixes)
    val np = AnnIndex.resolveNProbe(nProbe, ci.books.length)
    (ci, qv, qnrm, rankCellsScoped(ci, qv, np, location.toSeq))
  }

  /** Batch ANN search — the batch twin of the one-job serving path:
    * [[searchAll]] scans the FULL channel for N queries, and N warm
    * [[searchAnn]] calls run N pruned scans; this unions the N
    * queries' probe sets into ONE partition-pruned scan. Each query
    * scores only its own probed cells (a broadcast equi-join of the
    * driver-computed (q_id, cell, qv) probe list against the scan), so
    * per-query results are identical to N × [[searchAnn]]
    * (spec-pinned), while each probed cell's files are read once no
    * matter how many queries probe them; the per-query top-k is the
    * payload-carrying [[graft.functions.expressions.TopKRows]]
    * aggregate keyed by q_id, so ≤ topN rows per query per partition
    * reach the shuffle WITH their metadata. Output contract =
    * [[searchAll]].
    *
    * Per-query probe escalation matches [[searchAnn]]'s: queries whose
    * top-k under-fills while unprobed cells remain (the sparse-scope
    * case) re-probe EVERY cell in ONE second batch pass scoped to just
    * that subset — one query's sparse scope never re-scans for the
    * whole batch, and a dense batch stays one job (spec-pinned,
    * AnnSparseScopeSpec). Escalated per-query results equal the
    * escalated [[searchAnn]] singles.
    *
    * PER-QUERY scope: an optional `q_loc` column on the query frame
    * scopes each query to its own folder prefix, exactly as
    * [[searchAll]] (the call-level `location` always applies; a
    * non-null `q_loc` narrows it per query) — each query's results
    * equal the single-query [[searchAnn]] at its effective scope,
    * escalation included. */
  def searchAllAnn(queries: DataFrame, topN: Int = 5,
      nProbe: Int = AnnIndex.AutoNProbe, location: Option[String] = None,
      channel: String = "text"): DataFrame = {
    val (ci, qs) = batchAnnQueries(queries, "searchAllAnn", channel)
    val np = AnnIndex.resolveNProbe(nProbe, ci.books.length)
    val first = batchAnnTopKOf(ci, batchProbeRows(ci, qs, np, channel, location),
      topN, location, channel).collect()
    val cells = ci.books.length
    val rows =
      if (np >= cells) first
      else {
        val filled = first.groupBy(_.getAs[Long]("q_id"))
        // under-filled AND with eligible cells left unprobed: a query
        // whose first pass already covered its scope-eligible set
        // (routing sidecar) has nothing more to probe
        val under = qs.filter { case (id, _, loc) =>
          filled.get(id).forall(_.length < topN) &&
            np < eligibleCells(ci, location.toSeq ++ loc.toSeq).length }
        if (under.isEmpty) first
        else {
          // ESCALATION, batched: the under-filled subset re-probes its
          // scope-eligible cells in ONE extra pruned-scan job; every
          // other query's first-pass rows stand untouched
          val underIds = under.map(_._1).toSet
          first.filterNot(r => underIds(r.getAs[Long]("q_id"))) ++
            batchAnnTopKOf(ci, batchProbeRows(ci, under, cells, channel, location),
              topN, location, channel).collect()
        }
      }
    // (q_id, rnk) ordering is driver work over ≤ N×topN rows — a Spark
    // orderBy on this local frame would pay a range-exchange's sampling
    // jobs for nothing
    rows.map { r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("rnk"), r.getAs[Double]("sim_r"),
        r.getAs[String]("doc_name"), r.getAs[Long]("page_num"),
        r.getAs[String]("content_type"), r.getAs[String]("content_id"),
        r.getAs[String]("content_raw"), r.getAs[String]("channel"))
    }.toSeq.sortBy(t => (t._1, t._2))
      .toDF("q_id", "rnk", "sim_r", "doc_name", "page_num",
        "content_type", "content_id", "content_raw", "channel")
  }

  /** Collect + validate a batch-ANN query frame — shared by
    * [[searchAllAnn]] and the spec-facing [[annAllScanPlan]]. Each
    * entry is (q_id, q_text, per-query scope) — the scope comes from
    * an optional `q_loc` column (None when the column is absent or the
    * row is null). */
  private def batchAnnQueries(queries: DataFrame, op: String,
      channel: String): (GraftVectorDB.CachedAnnIndex, Seq[(Long, String, Option[String])]) = {
    val ci = cachedIndex(channel)
    val hasLoc = queries.columns.contains("q_loc")
    // the query batch is serving-sized: embed + rank cells driver-side,
    // exactly the per-query annProbe arithmetic
    val qs = queries.select(col("q_id").cast("long").as("q_id") +: col("q_text") +:
        (if (hasLoc) Seq(col("q_loc").cast("string")) else Nil): _*)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[String]("q_text"),
        if (hasLoc) Option(r.getAs[String]("q_loc")) else None)).toSeq
    require(qs.length <= GraftVectorDB.MaxBatchQueries,
      s"$op: ${qs.length} queries exceeds the per-call bound " +
        s"(${GraftVectorDB.MaxBatchQueries}) — the (q_id, cell, qv) probe " +
        "broadcast grows with the batch; chunk the query set and union the results")
    // duplicate q_ids would merge two queries' scores into one top-k
    // group and silently corrupt both result sets — fail loudly
    require(qs.map(_._1).distinct.length == qs.length,
      s"$op: q_id values must be unique (after cast to long)")
    (ci, qs)
  }

  private def batchProbeRows(ci: GraftVectorDB.CachedAnnIndex,
      qs: Seq[(Long, String, Option[String])], nProbe: Int, channel: String,
      location: Option[String])
      : Seq[(Long, Seq[Double], Double, Int, String)] = {
    val np = AnnIndex.resolveNProbe(nProbe, ci.books.length)
    qs.flatMap { case (id, text, loc) =>
      val qv = embedLocal(channel, text)
      val qnrm = math.sqrt(qv.map(x => x * x).sum)
      // each query's probe budget is spent on ITS scope-eligible cells
      // (call-level location ∩ per-query q_loc) — the multi-tenant
      // batch shape probes each tenant's cells, not the union of all
      rankCellsScoped(ci, qv, np, location.toSeq ++ loc.toSeq)
        .map(cell => (id, qv.toSeq, qnrm, cell, loc.orNull))
    }
  }

  /** The lazy batch top-k frame behind [[searchAllAnn]] — ONE scan of
    * the UNION of probed cells (partition-pruned); the equi-join on
    * cell scopes each query to its own probe set, and a non-null
    * per-query `q_loc` prefix filters in the same codegen'd stage
    * (before the top-k, so a scope can never be crowded out). */
  private def batchAnnTopKOf(ci: GraftVectorDB.CachedAnnIndex,
      probeRows: Seq[(Long, Seq[Double], Double, Int, String)], topN: Int,
      location: Option[String], channel: String): DataFrame = {
    val unionCells = probeRows.map(_._4).distinct
    val anyLoc = probeRows.exists(_._5 != null)
    val qFrame = probeRows.toDF("q_id", "qv", "qnrm", "cell", "q_loc")
    val pruned = locScoped(ci.index.filter($"cell".isin(unionCells: _*)), location)
    val joined0 = pruned.join(broadcast(qFrame), "cell")
    val pairs = (if (anyLoc)
        joined0.filter($"q_loc".isNull || $"doc_name".startsWith($"q_loc"))
      else joined0)
      .select($"q_id",
        round(cosine($"qv", $"v", $"qnrm", $"nrm"), 4).as("sim_r"),
        $"row_id",
        struct($"doc_name", $"page_num", $"content_type", $"content_id",
          $"content_raw").as("meta"))
    batchTopK(pairs, topN, channel)
  }

  /** The lazy batch-ANN plan (first pass, no escalation) — exposed so
    * specs can assert the single pruned scan and the probe-set union,
    * the batch twin of [[annScanPlan]]. */
  private[graft] def annAllScanPlan(queries: DataFrame, topN: Int,
      nProbe: Int, location: Option[String] = None,
      channel: String = "text"): DataFrame = {
    val (ci, qs) = batchAnnQueries(queries, "annAllScanPlan", channel)
    batchAnnTopKOf(ci, batchProbeRows(ci, qs, nProbe, channel, location),
      topN, location, channel)
  }

  /** The lazy pruned-scan top-k frame behind [[searchAnn]] — exposed
    * package-private so specs can assert the partition pruning on the
    * un-executed plan. */
  private[graft] def annScanPlan(query: String, channel: String,
      topN: Int, nProbe: Int, location: Option[String] = None): DataFrame = {
    val (ci, qv, qnrm, probed) = annProbe(query, channel, nProbe, location)
    // the query vector inlines as a LITERAL into the scan projection —
    // no join side, no broadcast stage: the whole search is one
    // pruned-scan job even under AQE. The location predicate (the
    // reference's get_search_range, vector_db.py:673-682) lands INSIDE
    // the pruned scan: StartsWith pushes to parquet as a >= / <
    // range filter, and index files are SORTED by doc_name within each
    // cell (build/append), so row-group min/max stats turn the filter
    // into a skipping scan rather than a post-scan sieve.
    val pruned = ci.index
      .filter($"cell".isin(probed: _*)) // prunes partitions at the scan
    locScoped(pruned, location)
      .select(round(cosine(typedLit(qv.toSeq), $"v", lit(qnrm), $"nrm"), 4).as("sim_r"),
        $"doc_name", $"page_num", $"content_type", $"content_id", $"content_raw",
        $"row_id")
      .orderBy($"sim_r".desc, $"row_id")
      .limit(topN)
  }

  private def searchAnnChannel(query: String, channel: String,
      topN: Int, nProbe: Int, location: Option[String] = None): DataFrame = {
    // ONE job: TakeOrderedAndProject over the pruned scan (the local
    // query relation broadcasts driver-side, no extra job)
    val first = annScanPlan(query, channel, topN, nProbe, location).collect()
    // PROBE ESCALATION — the sparse-scope guard: a location filter
    // (get_search_range's exact-file case, vector_db.py:673-682) can
    // concentrate the whole scope in cells the query's nProbe ranking
    // never probes, under-filling the top-k even though in-scope rows
    // exist; an under-filled UNFILTERED search means the probed cells
    // genuinely hold fewer than topN rows while others may hold more.
    // Either way one full-probe pass (still partition-pruned serving
    // machinery, now over every cell) returns exactly the filtered
    // exact scan's answer — escalation ≡ exact is the spec'd contract
    // (AnnSparseScopeSpec). Dense scopes never pay it: the warm path
    // stays one job (spec-pinned).
    val hits =
      if (first.length >= topN) first
      else {
        // escalation probes only the SCOPE-ELIGIBLE cells: the routing
        // sidecar proves no other cell can hold an in-scope row, so a
        // narrow tenant scope re-probes its own cells, not the world —
        // and a scope outside every cell's range escalates to nothing
        // (zero extra work), still ≡ the (empty) exact filtered scan
        val ciL = cachedIndex(channel)
        val eligible = eligibleCells(ciL, location.toSeq).length
        if (AnnIndex.resolveNProbe(nProbe, ciL.books.length) >= eligible) first
        else annScanPlan(query, channel, topN, eligible, location).collect()
      }
    // rank numbering over the ≤ topN collected rows is driver work
    hits.zipWithIndex.map { case (r, i) =>
      ((i + 1).toLong, r.getAs[Double]("sim_r"), r.getAs[String]("doc_name"),
        r.getAs[Long]("page_num"), r.getAs[String]("content_type"),
        r.getAs[String]("content_id"), r.getAs[String]("content_raw"), channel)
    }.toSeq.toDF("rnk", "sim_r", "doc_name", "page_num",
      "content_type", "content_id", "content_raw", "channel")
  }

  /** IVF+PQ search against the store index — the composition that
    * holds up at 100 TB: the shortlist pass reads ONLY the narrow
    * columns (row_id, nrm, 16-byte codes) of the probed cells — the
    * partition-pruned, column-pruned scan whose bytes-per-row stay
    * constant no matter how fat the records get — and the exact
    * re-rank fetches just the ≤ `shortlist` winners' vectors+metadata
    * by row_id. Matches the reference's return_similar ranking
    * (vector_db.py:684-696) with [[searchAnn]]'s output contract.
    * Exactness: `nProbe = cells` + `shortlist ≥ channel rows`
    * reproduces [[search]] verbatim (GraftVectorDBSpec). Two Spark
    * jobs per warm search (ADC shortlist + fetch), spec-pinned. */
  def searchAnnPq(queryText: String, topN: Int = 5,
      nProbe: Int = AnnIndex.AutoNProbe,
      shortlist: Int = AnnIndex.AutoShortlist,
      location: Option[String] = None): DataFrame =
    searchAnnPqChannel(queryText, "text", topN, nProbe, shortlist, location)

  /** Image-space twin of [[searchAnnPq]]. */
  def searchAnnPqImage(queryContent: String, topN: Int = 5,
      nProbe: Int = AnnIndex.AutoNProbe,
      shortlist: Int = AnnIndex.AutoShortlist,
      location: Option[String] = None): DataFrame =
    searchAnnPqChannel(queryContent, "image", topN, nProbe, shortlist, location)

  /** The lazy ADC-shortlist frame behind [[searchAnnPq]] — exposed so
    * specs can assert partition pruning AND column pruning (the scan
    * must not read `v` or `content_raw`). */
  private[graft] def annPqShortlistPlan(query: String, channel: String,
      nProbe: Int, shortlist: Int,
      location: Option[String] = None): DataFrame = {
    val (ci, qv, _, probed) = annProbe(query, channel, nProbe, location)
    annPqShortlistOf(ci, qv, probed, shortlist, location)
  }

  private def annPqShortlistOf(ci: GraftVectorDB.CachedAnnIndex,
      qv: Array[Double], probed: Seq[Int], shortlist: Int,
      location: Option[String]): DataFrame = {
    require(ci.pqBooks.nonEmpty,
      "this ANN index predates PQ codes (no _codebooks) — rebuild with " +
        "buildAnnIndex, or use searchAnn (which needs none)")
    val dts = AnnIndex.adcTablesLocal(ci.pqBooks, qv)
    // ADC score = Σ_m dt[m][codes[m]] / nrm, with the per-query tables
    // inlined as literals — a narrow codegen'd projection over the
    // pruned scan, no join
    val score = dts.toSeq.zipWithIndex.map { case (dt, m) =>
      element_at(typedLit(dt.toSeq), element_at($"codes", m + 1) + 1)
    }.reduce(_ + _) / $"nrm"
    // the location filter belongs HERE, not after the shortlist:
    // post-shortlist filtering would let out-of-scope rows crowd the
    // bounded shortlist and silently shrink in-scope recall. Cost: the
    // ADC scan reads doc_name alongside (row_id, nrm, codes) when a
    // location is set — still none of v/content, and doc_name-sorted
    // cells make it a row-group-skipping read.
    locScoped(ci.index.filter($"cell".isin(probed: _*)), location)
      .select($"row_id", score.as("adc"))
      .orderBy($"adc".desc, $"row_id")
      .limit(shortlist)
  }

  private def searchAnnPqChannel(query: String, channel: String,
      topN: Int, nProbe: Int, shortlist0: Int,
      location: Option[String] = None): DataFrame = {
    // ONE probe computation (cache check, embed, cell ranking) shared
    // by both phases — annProbe twice could even straddle a generation
    val (ci, qv, qnrm, probed0) = annProbe(query, channel, nProbe, location)
    // AutoShortlist (the default) scales the ADC shortlist with what
    // it selects FROM — a fixed 100 is 0.2% of the scanned rows at
    // sf10 and measured recall@5 drops to 0.82 there
    val shortlist =
      if (shortlist0 > 0) shortlist0
      else AnnIndex.autoShortlist(ci.rows, ci.books.length,
        AnnIndex.resolveNProbe(nProbe, ci.books.length))
    // job 1: ADC shortlist over (row_id, nrm, codes) of probed cells
    val ids0 = annPqShortlistOf(ci, qv, probed0, shortlist, location)
      .collect().map(_.getAs[Long]("row_id"))
    // PROBE ESCALATION, as in [[searchAnnChannel]]: fewer than topN
    // shortlisted rows means the probed cells cannot fill the result —
    // a location scope concentrated in unprobed cells (the sparse-scope
    // case), or genuinely tiny probed cells. Re-probe everything: the
    // ADC scan stays location-scoped, so the escalated result equals
    // the exact filtered search's top-k (spec-pinned). The filled path
    // never pays it — warm searchAnnPq stays two jobs (spec-pinned).
    // scope-eligible cells only (routing sidecar): a narrow scope's
    // escalation is a targeted probe, not a full re-probe
    val eligible = eligibleCells(ci, location.toSeq)
    val escalate = ids0.length < topN && probed0.length < eligible.length
    val probed = if (escalate) eligible else probed0
    val ids =
      if (escalate) annPqShortlistOf(ci, qv, probed, shortlist, location)
        .collect().map(_.getAs[Long]("row_id"))
      else ids0
    // job 2: fetch ONLY the shortlisted rows' vectors + metadata (the
    // same cell pruning; the row_id predicate evaluates post-scan for
    // lists past parquet's in-filter pushdown threshold, which is fine
    // — cell pruning already bounds the read and rows are narrow; an
    // UNTRUNCATED shortlist — the exhaustive audit config — covers the
    // whole scan, so the id filter is skipped as a no-op)
    val fetched = fetchShortlist(ci, probed, ids.toSeq, location,
      ids.length < shortlist).collect()
    // exact re-rank of ≤ shortlist rows is driver arithmetic, same
    // rounded-cosine metric as the distributed path — shared with the
    // batch twin via pqExactReRank
    pqExactReRank(fetched.toSeq, qv, qnrm, topN)
      .zipWithIndex.map { case ((s, r), i) =>
        ((i + 1).toLong, s, r.getAs[String]("doc_name"),
          r.getAs[Long]("page_num"), r.getAs[String]("content_type"),
          r.getAs[String]("content_id"), r.getAs[String]("content_raw"), channel)
      }.toDF("rnk", "sim_r", "doc_name", "page_num",
        "content_type", "content_id", "content_raw", "channel")
  }

  /** Store maintenance: streaming ingest appends a file per micro-batch
    * — at 100 TB the accumulating small-file count is the operational
    * killer (file-listing latency + one task per tiny file). Rewrites
    * one content_type partition into `targetFiles` range-partitioned
    * files sorted by (doc_name, page_num), so parquet row-group min/max
    * stats keep supporting location-filtered skipping; `zOrdered=true`
    * interleaves (doc_name-hash, page_num) bits instead, bounding BOTH
    * dimensions per file (the layout ZOrderSpec proves prunes). The
    * rewrite lands in a dot-prefixed temp dir (invisible to concurrent
    * reads) and swaps in via rename; rows and search results are
    * invariant (GraftVectorDBSpec). Returns the rows rewritten. */
  def compact(contentType: String, targetFiles: Int = 1,
      zOrdered: Boolean = false): Long = withWriterLease("compact") {
    recoverCompact() // restore any prior compaction's crash leftovers first
    val partDir = s"$storePath/content_type=$contentType"
    val tmpDir = s"$storePath/.compact_tmp_content_type=$contentType"
    val oldDir = s"$storePath/.compact_old_content_type=$contentType"
    // reading the partition dir directly excludes the content_type
    // column — exactly what the rewritten files must contain
    val cur = spark.read.parquet(partDir)
    val n = cur.count()
    val keys =
      if (zOrdered) Seq(zValue16(
        pmod(xxhash64($"doc_name"), lit(65536)).cast("int"),
        pmod($"page_num", lit(65536)).cast("int")))
      else Seq($"doc_name", $"page_num")
    cur.withColumn("__k", keys.head)
      .repartitionByRange(targetFiles, (col("__k") +: keys.tail): _*)
      .sortWithinPartitions((col("__k") +: keys.tail): _*)
      .drop("__k")
      .write.mode(SaveMode.Overwrite).parquet(tmpDir)
    // the store path's OWN filesystem: a store on s3a/hdfs with a
    // different fs.defaultFS would otherwise rename nothing.
    // CONCURRENCY CONTRACT: maintenance assumes a single writer — run
    // compact() with streaming ingest stopped (an append landing
    // between the renames would be lost); readers in the swap window
    // see the partition briefly absent, not corrupt.
    val part = new org.apache.hadoop.fs.Path(partDir)
    AtomicDir.swap(fsOf(part), new org.apache.hadoop.fs.Path(tmpDir), part,
      new org.apache.hadoop.fs.Path(oldDir))
    n
  }

  /** Crash recovery ([[AtomicDir.recover]]) for the store's partition
    * swaps ([[compact]], [[deleteWhere]]) and, inside each partition,
    * [[delete]]'s per-file swaps. Pre-r6 asides lack the
    * `content_type=` segment (`.compact_old_<ct>`); the live-name
    * mapping restores those too. */
  private def recoverCompact(): Unit = {
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = fsOf(root)
    AtomicDir.recover(fs, root, ".compact_old_", Seq(".compact_tmp_"),
      ct => if (ct.startsWith("content_type=")) ct else s"content_type=$ct")
    if (fs.exists(root))
      fs.listStatus(root)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("content_type="))
        .foreach(st => recoverFileSwaps(fs, st.getPath))
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

  /** Whether a sorted parquet file can hold any of the (sorted) victim
    * names — per row group, the doc_name column chunk's min/max stats
    * (parquet truncates stats to BOUNDS, so containment stays safe);
    * missing stats degrade to "touched" (rewrite, never skip). Driver
    * metadata I/O only. */
  private[graft] def fileTouchesNames(f: org.apache.hadoop.fs.FileStatus,
      sortedNames: Array[String], conf: org.apache.hadoop.conf.Configuration): Boolean = {
    import scala.jdk.CollectionConverters._
    val nameBytes = sortedNames.map(_.getBytes("UTF-8"))
    def cmp(a: Array[Byte], b: Array[Byte]) = java.util.Arrays.compareUnsigned(a, b)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getBlocks.asScala.exists { block =>
      block.getColumns.asScala.find(_.getPath.toDotString == "doc_name") match {
        case Some(c) =>
          val st = c.getStatistics
          if (st == null || !st.hasNonNullValue) true // no stats: must rewrite
          else {
            val mn = st.getMinBytes
            val mx = st.getMaxBytes
            nameBytes.exists(v => cmp(mn, v) <= 0 && cmp(v, mx) <= 0)
          }
        case None => true // column absent from footer: must rewrite
      }
    } finally r.close()
  }

  /** One routing-table amendment: op "R" removes a cell's centroid,
    * op "A" appends one — the split log persisted at
    * `_centroids/_splits.vN` (text; one atomic rename per version, so
    * a reader sees either the old amendment history or the new one,
    * never a torn mix). */
  private[operators] final case class SplitOp(op: String, cell: Int,
      cv: Array[Double])

  /** Highest-version amendment file in the routing dir: (version tag
    * for the cache generation, parsed ops). ("", Nil) when no split
    * has ever committed. */
  private[operators] def readSplits(fs: org.apache.hadoop.fs.FileSystem,
      cDir: org.apache.hadoop.fs.Path): (String, Seq[SplitOp]) =
    AtomicDir.readLatest(fs, cDir, "_splits.v").fold(("", Seq.empty[SplitOp])) {
      case (name, text) => name -> text.split("\n").filter(_.nonEmpty).map { line =>
        val parts = line.split(",", 3)
        SplitOp(parts(0), parts(1).toInt,
          if (parts.length < 3 || parts(2).isEmpty) Array.empty[Double]
          else parts(2).split(" ").map(java.lang.Double.parseDouble))
      }.toSeq
    }

  /** Commit a new amendment history as the next `_splits.vN`. Doubles
    * serialize via Double.toString (exact round-trip through
    * parseDouble). */
  private[operators] def writeSplits(fs: org.apache.hadoop.fs.FileSystem,
      cDir: org.apache.hadoop.fs.Path, ops: Seq[SplitOp]): Unit =
    AtomicDir.commitVersion(fs, cDir, "_splits.v", ops.map(o =>
      s"${o.op},${o.cell},${o.cv.map(_.toString).mkString(" ")}").mkString("\n"))

  /** The base routing table with the amendment history applied, in
    * cell-id order (deterministic probe tie-breaks). */
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

  /** One ANN index generation's serving state: routing table, PQ
    * codebooks, resolved index frame, and the prefix→cell routing
    * sidecar (per-cell doc_name [min, max]; empty = no sidecar, every
    * cell eligible for every scope). */
  private[operators] final case class CachedAnnIndex(gen: String,
      books: Array[(Int, Array[Double])],
      pqBooks: Array[Array[Array[Double]]],
      index: DataFrame,
      docRanges: Map[Int, (String, String)] = Map.empty,
      rows: Long = 0L)

  // ---- prefix→cell routing sidecar ------------------------------------
  // `_centroids/_docranges.vN`: one line per cell, `cell\tb64(min)\tb64(max)`
  // of the cell's doc_name range. Written whole at build (inside the
  // staged dir, so it swaps in atomically with the index) and WIDENED
  // before every append's data commit — widening first means a crash
  // between the two steps leaves ranges wider than the data, which can
  // never prune a live row. Cells without an entry (legacy index,
  // split children) are always treated as eligible. All comparisons
  // are unsigned UTF-8 byte order — the ordering Spark's string
  // min/max and StartsWith use — so the pruning proof matches the
  // filter the scan actually runs.

  private def u8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def cmpU8(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** The unsigned-byte-order smaller / larger of two strings — the
    * merge operation append-widening uses, consistent with Spark's
    * own min/max on strings. */
  private[operators] def minU8(a: String, b: String): String =
    if (cmpU8(u8(a), u8(b)) <= 0) a else b
  private[operators] def maxU8(a: String, b: String): String =
    if (cmpU8(u8(a), u8(b)) >= 0) a else b

  /** Can a doc_name inside [mn, mx] (byte order) start with `prefix`?
    * Strings with the prefix occupy [p, upper(p)) where upper
    * increments p's last non-0xFF byte — the cell is skippable iff
    * its whole range falls outside that window. */
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

  private[operators] def readDocRanges(fs: org.apache.hadoop.fs.FileSystem,
      cDir: org.apache.hadoop.fs.Path): Map[Int, (String, String)] = {
    val dec = java.util.Base64.getDecoder
    AtomicDir.readLatest(fs, cDir, "_docranges.v").fold(Map.empty[Int, (String, String)]) {
      case (_, text) => text.split("\n").filter(_.nonEmpty).flatMap { l =>
        l.split("\t") match {
          case Array(c, mn, mx) => c.toIntOption.map(_ ->
            (new String(dec.decode(mn), "UTF-8"),
              new String(dec.decode(mx), "UTF-8")))
          case _ => None
        }
      }.toMap
    }
  }

  private[operators] def writeDocRanges(fs: org.apache.hadoop.fs.FileSystem,
      cDir: org.apache.hadoop.fs.Path,
      ranges: Map[Int, (String, String)]): Unit = {
    val enc = java.util.Base64.getEncoder
    AtomicDir.commitVersion(fs, cDir, "_docranges.v",
      ranges.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
        s"$c\t${enc.encodeToString(u8(mn))}\t${enc.encodeToString(u8(mx))}"
      }.mkString("\n"))
  }

  /** Serving-path cache keyed by index path. Generation couples the
    * `_centroids` mtime (a rebuild's rename swap always moves it) with
    * the append stamp's content, so rebuilds AND appends invalidate;
    * entries are tiny (≤ cells routing rows + codebooks + a lazy
    * frame). Keyed by absolute path — safe across db instances. */
  private[graft] val routingCache =
    new java.util.concurrent.ConcurrentHashMap[String, CachedAnnIndex]

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
