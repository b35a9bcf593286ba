package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Streaming curation — the documents-side twin of [[EventStreams]]:
  * the corpus arrives as an unbounded file stream (nightly crawl
  * drops, not a static table) and flows through the SAME gate the
  * batch pipeline runs.
  *
  * The lambda split, stated explicitly: the STATELESS half of the
  * curation gate (lang-id + quality floor, one narrow pass shared
  * verbatim with `TextAnalysis.curate` via `scoreDocs`) and EXACT
  * content-hash dedup run in-stream; near-dup LSH stays a batch
  * compaction job over the accumulated store — banding needs the
  * corpus-wide shingle frames, which no bounded stream state can hold.
  * Cross-restart / cross-batch dedup is the store's content-hash
  * anti-join (StreamingIngestSpec proves replay-idempotence); the
  * in-stream `dropDuplicates` here only collapses duplicates within
  * the stream itself.
  */
object DocStreams {

  /** File-stream source over a directory of documents parquet (schema
    * inferred from a batch read, as the file source requires). */
  def loadDocumentsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    spark.readStream.schema(schema).parquet(dir)
  }

  /** The curation gate as a stream transform: score (shared with
    * batch), language + quality floor, first-wins content-hash dedup.
    * Works unchanged on a batch frame — [[curateBatch]] IS this
    * function applied to a static read (the parity the spec pins).
    *
    * STATE CONTRACT: `dropDuplicates` without a watermark keys state
    * on every hash ever seen — global exact dedup inherently holds the
    * distinct-hash set somewhere, and on a months-long query that
    * somewhere must not be the state store. Production bounds it by
    * splitting the horizon: [[curateGateBounded]] dedups in-state only
    * within a watermark window, and anything older is caught by the
    * store's content-hash anti-join at ingest
    * (GraftVectorDB.ingestRecords / StreamingIngestSpec). */
  def curateGate(docs: DataFrame): DataFrame =
    curateGate(docs, gopherRules = false, c4Rules = false)

  /** [[curateGate]] with the gopher/C4 filter batteries as leading
    * gates — both are STATELESS narrow expressions
    * (TextAnalysis.gopherSignals / c4Signals, the same units the
    * batch [[TextAnalysis.curate]] composes), so they apply to a
    * streaming frame unchanged: no state, no watermark interaction,
    * the whole gate stays one projection ahead of the dedup. */
  def curateGate(docs: DataFrame, gopherRules: Boolean,
      c4Rules: Boolean): DataFrame = {
    import docs.sparkSession.implicits._
    scoredGated(docs, gopherRules, c4Rules)
      // project BEFORE the stateful dedup: the state store then keys
      // and carries exactly the output row (and the streaming planner
      // requires the dedup child schema to be the final one)
      .select($"file_hash", $"lang_pred", $"n_tokens", $"quality_r")
      .dropDuplicates("file_hash")
  }

  /** Bounded-state variant: `arrivalCol` (an event-time timestamp on
    * the incoming frame) is watermarked to `horizon`, and
    * `dropDuplicatesWithinWatermark` evicts dedup state older than the
    * horizon — the long-running-query shape; cross-horizon duplicates
    * are the store anti-join's job. */
  def curateGateBounded(docs: DataFrame, arrivalCol: String,
      horizon: String): DataFrame = {
    import docs.sparkSession.implicits._
    scoredGated(docs)
      .select($"file_hash", $"lang_pred", $"n_tokens", $"quality_r",
        col(arrivalCol).as("arrival"))
      .withWatermark("arrival", horizon)
      .dropDuplicatesWithinWatermark("file_hash")
      .select($"file_hash", $"lang_pred", $"n_tokens", $"quality_r")
  }

  private def scoredGated(docs: DataFrame, gopherRules: Boolean = false,
      c4Rules: Boolean = false): DataFrame = {
    import docs.sparkSession.implicits._
    val g1 =
      if (!gopherRules) docs
      else TextAnalysis.gopherSignals(docs).filter($"gopher_pass")
        .drop(TextAnalysis.GopherCols: _*)
    val g2 =
      if (!c4Rules) g1
      else TextAnalysis.c4Signals(g1, $"text").filter($"c4_keep")
        .drop(TextAnalysis.C4Cols: _*)
    TextAnalysis.scoreDocs(g2)
      .withColumn("file_hash", md5($"text"))
      .filter($"lang_pred".isin("en", "es") && $"quality_r" >= 0.25)
  }

  /** Batch twin on the same table, for stream-parity checks. */
  def curateBatch(spark: SparkSession, dir: String,
      gopherRules: Boolean = false, c4Rules: Boolean = false): DataFrame =
    curateGate(graft.Tables.load(spark, dir, "documents"),
      gopherRules, c4Rules)

  // ─────────── in-stream near-dup gate (round 11) ───────────
  //
  // The lambda split above deferred LSH near-dup to batch compaction;
  // this closes it IN-STREAM with Dedup.incrementalPairs' per-batch
  // shape: the micro-batch's band keys BROADCAST (bounded) against a
  // persisted band sidecar (scanned, never shuffled, never broadcast),
  // the collision residue verifies exactly (jaccard over xxhash64'd
  // shingles), and only survivors land — O(new) per micro-batch.
  // GraftVectorDB.ingestNearDup is the store-integrated big sibling
  // (tombstones, generations, index routing); this is the standalone
  // curation-pipeline form that writes a curated corpus directory.

  /** Curation stream SINK with the near-dup leg closed in-stream:
    * every micro-batch runs the stateless gate, first-wins exact
    * dedup (in-batch AND against everything already landed — replay /
    * restart idempotent by content hash), then the incremental
    * near-dup check against `outDir`'s band sidecar; survivors land
    * in `outDir/docs`, their bands + shingle sets append to the
    * sidecar so they anchor every later batch. AvailableNow drains
    * and stops — the nightly-crawl shape. */
  def curateStreamNearDup(docs: DataFrame, outDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => { curateNearDupBatch(b.toDF(), outDir); () })
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Intra-batch verified near-dup pairs past this are a corpus-scale
    * dedup job, not an ingest batch — fail loudly (the
    * GraftVectorDB.MaxIntraPairs discipline). */
  val MaxIntraPairs = 2000000

  private def readOrEmpty(spark: SparkSession, path: String,
      empty: => DataFrame): DataFrame = {
    // a dir not landed yet is checked for, not read: a read of a
    // missing path logs a FileNotFoundException stack trace first
    val p = new org.apache.hadoop.fs.Path(path)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) empty
    else try spark.read.parquet(path)
    catch {
      // the path exists but holds no data files yet
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => empty
    }
  }

  /** The lazy corpus-check frame behind [[curateNearDupBatch]]:
    * sidecar bands scanned against the BROADCAST batch bands, the
    * collision residue verified exactly against the sidecar sets.
    * Exposed so the boundedness pin can inspect the analyzed plan —
    * every forced broadcast must be batch-derived; the sidecar (which
    * grows with everything ever landed) is scanned, never shuffled
    * on its own, never broadcast. */
  private[graft] def sidecarDropPlan(spark: SparkSession, outDir: String,
      bands: DataFrame, sets: DataFrame): DataFrame = {
    import spark.implicits._
    readOrEmpty(spark, s"$outDir/neardup/bands",
        Seq.empty[(Long, Int, String)].toDF("doc_id", "band", "bkey"))
      .join(broadcast(bands.withColumnRenamed("doc_id", "new_id")),
        Seq("band", "bkey"))
      .select($"new_id", $"doc_id".as("base_id")).distinct()
      .join(broadcast(sets.select($"doc_id".as("new_id"), $"h".as("ha"))),
        "new_id")
      .join(readOrEmpty(spark, s"$outDir/neardup/sets",
          Seq.empty[(Long, Seq[Long])].toDF("doc_id", "h"))
        .select($"doc_id".as("base_id"), $"h".as("hb")), "base_id")
      .select($"new_id", graft.operators.Dedup.jaccard($"ha", $"hb").as("j_r"))
      .filter($"j_r" >= graft.operators.Dedup.JaccardThreshold)
      .select($"new_id").distinct()
  }

  /** One micro-batch through the full curation + near-dup gate;
    * returns rows landed. Also the BATCH twin — running it over a
    * static frame gives the stream's cumulative output, the parity
    * DocStreamsSpec pins. */
  def curateNearDupBatch(batch: DataFrame, outDir: String): Long = {
    val spark = batch.sparkSession
    import spark.implicits._
    import graft.functions.TextFunctions.{tokens, shingles}
    import graft.operators.Dedup
    val docsPath = s"$outDir/docs"
    val bandsPath = s"$outDir/neardup/bands"
    val setsPath = s"$outDir/neardup/sets"
    // 1) stateless gate + first-wins exact dedup WITHIN the batch
    val gated = scoredGated(batch)
      .select($"doc_id", $"text", $"file_hash", $"lang_pred",
        $"n_tokens", $"quality_r")
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy($"file_hash").orderBy($"doc_id")))
      .filter($"rn" === 1).drop("rn")
    // 2) exact dedup against everything already LANDED — boundedness
    // inverted exactly like the store ingest (GraftVectorDB
    // .freshAgainstStore): landed hashes scanned + semi-joined to the
    // BROADCAST batch hash set, never shuffled or broadcast themselves
    val collisions = readOrEmpty(spark, docsPath,
        Seq.empty[String].toDF("file_hash"))
      .select($"file_hash")
      .join(broadcast(gated.select($"file_hash").distinct()),
        Seq("file_hash"), "left_semi")
      .distinct()
    val fresh = graft.Tables.materialize(
      gated.join(broadcast(collisions), Seq("file_hash"), "left_anti"))
    try {
      // 3) shingle sets + band keys of the fresh batch (shingle-less
      // docs never enter the band space: empty-set signatures all
      // collide for a verify that cannot pass)
      val sets = graft.Tables.materialize(fresh.select($"doc_id",
          array_distinct(shingles(tokens($"text"), 2)).as("s"))
        .select($"doc_id", $"s", transform($"s", x => xxhash64(x)).as("h")))
      try {
        val bands = Dedup.bandKeys(spark,
            sets.filter(size($"s") > 0).select($"doc_id", $"s"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // 4) corpus check: sidecar bands scanned, batch bands broadcast
          val corpusDropped: Set[Long] =
            sidecarDropPlan(spark, outDir, bands, sets)
              .collect().map(_.getLong(0)).toSet
          // 5) intra-batch: band self-join (batch-sized), exact verify,
          // greedy keep-smallest sweep; corpus-dropped docs neither
          // survive nor anchor a batch drop
          val l = bands.select($"band", $"bkey", $"doc_id".as("a_id"))
          val r = bands.select($"band", $"bkey", $"doc_id".as("b_id"))
          val intraPairs = l.join(r, Seq("band", "bkey")).filter($"a_id" < $"b_id")
            .select($"a_id", $"b_id").distinct()
            .join(sets.select($"doc_id".as("a_id"), $"h".as("sa")), "a_id")
            .join(sets.select($"doc_id".as("b_id"), $"h".as("sb")), "b_id")
            .select($"a_id", $"b_id", Dedup.jaccard($"sa", $"sb").as("j_r"))
            .filter($"j_r" >= Dedup.JaccardThreshold)
            .select($"a_id", $"b_id")
            .collect().map(r0 => (r0.getLong(0), r0.getLong(1)))
          require(intraPairs.length <= MaxIntraPairs,
            s"curateNearDupBatch: ${intraPairs.length} intra-batch near-dup " +
              s"pairs exceed the gate bound ($MaxIntraPairs) — run " +
              "Dedup.minhashLsh/cluster on this corpus first")
          val neighbors = intraPairs.groupBy(_._2).map { case (b, ps) =>
            b -> ps.map(_._1).toSet }
          val kept = scala.collection.mutable.Set.empty[Long]
          val intraDropped = scala.collection.mutable.Set.empty[Long]
          (intraPairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted).foreach { id =>
            if (!corpusDropped(id)) {
              val anchored = neighbors.getOrElse(id, Set.empty)
                .exists(a => kept(a))
              if (anchored) intraDropped += id else kept += id
            }
          }
          val dropped = corpusDropped ++ intraDropped
          val survivors =
            if (dropped.isEmpty) fresh
            else fresh.join(broadcast(dropped.toSeq.toDF("doc_id")),
              Seq("doc_id"), "left_anti")
          val n = survivors.count()
          if (n > 0) {
            survivors.write.mode(org.apache.spark.sql.SaveMode.Append)
              .parquet(docsPath)
            // fail-open ordering (the ingestNearDup rule): sets before
            // bands — a crash between the two leaves docs with sets but
            // no routing entry (dup admitted later), never a rejection
            // against half-indexed state
            val keptIds = survivors.select($"doc_id")
            sets.join(broadcast(keptIds), "doc_id").select($"doc_id", $"h")
              .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(setsPath)
            bands.join(broadcast(keptIds), "doc_id")
              .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(bandsPath)
          }
          n
        } finally bands.unpersist(blocking = false)
      } finally graft.Tables.release(sets)
    } finally graft.Tables.release(fresh)
  }
}
