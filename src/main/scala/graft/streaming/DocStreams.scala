package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, NearDupSidecar, TextAnalysis}

/** Streaming curation — the documents-side twin of [[EventStreams]]:
  * the corpus arrives as an unbounded file stream (nightly crawl
  * drops, not a static table) and flows through the SAME gate the
  * batch pipeline runs.
  *
  * What runs in-stream: the STATELESS half of the curation gate
  * (lang-id + quality floor, one narrow pass shared verbatim with
  * `TextAnalysis.curate` via `scoreDocs`) and EXACT content-hash dedup
  * ([[curateGate]]; the in-stream `dropDuplicates` only collapses
  * duplicates within the stream itself, and cross-restart /
  * cross-batch dedup is the store's content-hash anti-join,
  * StreamingIngestSpec proves replay-idempotence). Near-dup LSH runs
  * in-stream too, in [[curateStreamNearDup]]: no bounded stream state
  * holds the corpus-wide shingle frames, so each micro-batch checks a
  * persisted MinHash sidecar instead ([[NearDupSidecar]]).
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

  // ─────────── in-stream near-dup gate ───────────
  //
  // Dedup.incrementalPairs' per-batch shape, in-stream: the
  // micro-batch's band keys BROADCAST (bounded) against a persisted
  // band sidecar (scanned, never shuffled, never broadcast), the
  // collision residue verifies exactly (jaccard over xxhash64'd
  // shingles), and only survivors land — O(new) per micro-batch. The
  // gate and the sidecar layout are GraftVectorDB.ingestNearDup's
  // ([[NearDupSidecar]]), keyed by the doc_id as a string; this
  // sidecar never sees a delete, and the survivors land in a curated
  // corpus directory rather than a store.

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
    * dedup job, not an ingest batch — the gate fails loudly. */
  val MaxIntraPairs: Int = NearDupSidecar.MaxIntraPairs

  /** One micro-batch through the full curation + near-dup gate;
    * returns rows landed. Also the BATCH twin — running it over a
    * static frame gives the stream's cumulative output, the parity
    * DocStreamsSpec pins. */
  def curateNearDupBatch(batch: DataFrame, outDir: String): Long = {
    val spark = batch.sparkSession
    import spark.implicits._
    val docsPath = s"$outDir/docs"
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
    // (a dir not landed yet is checked for, not read: a read of a
    // missing path logs a FileNotFoundException stack trace first)
    val landed = new org.apache.hadoop.fs.Path(docsPath)
    val collisions = (
        if (!landed.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(landed))
          Seq.empty[String].toDF("file_hash")
        else spark.read.schema("file_hash string").parquet(docsPath))
      .join(broadcast(gated.select($"file_hash").distinct()),
        Seq("file_hash"), "left_semi")
      .distinct()
    val fresh = graft.Tables.materialize(
      gated.join(broadcast(collisions), Seq("file_hash"), "left_anti"))
    try {
      // 3) the near-dup gate ([[NearDupSidecar.gate]], the store's):
      // corpus check against `outDir/neardup`, intra-batch sweep, then
      // the survivors land and append their entries
      val sidecar = new NearDupSidecar(spark, s"$outDir/neardup")
      val sets = graft.Tables.materialize(
        NearDupSidecar.setsOf(fresh, $"doc_id".cast("string")))
      try sidecar.gate(sets, Dedup.JaccardThreshold, "curateNearDupBatch") { verdict =>
        val dropped = verdict.dropped
        val survivors =
          if (dropped.isEmpty) fresh
          else fresh.join(broadcast(dropped.toSeq.toDF("doc_id")),
            Seq("doc_id"), "left_anti")
        val n = survivors.count()
        if (n > 0) {
          survivors.write.mode(org.apache.spark.sql.SaveMode.Append)
            .parquet(docsPath)
          sidecar.append(sets, verdict.bands, survivors.select($"doc_id"))
        }
        n
      } finally graft.Tables.release(sets)
    } finally graft.Tables.release(fresh)
  }
}
