package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams

/** Streaming/batch parity: the streaming operators over a bounded
  * file source must agree with their batch twins. */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  /** The file-stream source wants a directory; stage the single events
    * file into one. */
  private lazy val streamDir: String = {
    val dir = java.nio.file.Paths.get("target", "stream_src")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf, "events.parquet"),
      dir.resolve("events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir.toAbsolutePath.toString
  }

  private lazy val docStreamDir: String = {
    val dir = java.nio.file.Paths.get("target", "doc_stream_src")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf, "documents.parquet"),
      dir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir.toAbsolutePath.toString
  }

  test("streaming curation gate == batch gate (shared scoring, first-wins dedup)") {
    import graft.streaming.DocStreams
    val q = DocStreams.curateGate(DocStreams.loadDocumentsStream(spark, docStreamDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("st_curate_test").start()
    try {
      q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long, Double)] =
        df.select("file_hash", "lang_pred", "n_tokens", "quality_r").collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val got = rows(spark.table("st_curate_test"))
      val want = rows(DocStreams.curateBatch(spark, sf))
      assert(got.nonEmpty)
      assert(got == want)
      // the gate actually gated: fewer rows than the corpus
      assert(got.size < Tables.load(spark, sf, "documents").count())
    } finally q.stop()
  }

  test("streaming curation gate with gopherRules == batch (stateless battery gates)") {
    import graft.streaming.DocStreams
    val q = DocStreams.curateGate(
      DocStreams.loadDocumentsStream(spark, docStreamDir),
      gopherRules = true, c4Rules = false)
      .writeStream.outputMode("append")
      .format("memory").queryName("st_curate_gopher_test").start()
    try {
      q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long, Double)] =
        df.select("file_hash", "lang_pred", "n_tokens", "quality_r").collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val got = rows(spark.table("st_curate_gopher_test"))
      val want = rows(DocStreams.curateBatch(spark, sf, gopherRules = true))
      val open = rows(DocStreams.curateBatch(spark, sf))
      assert(got.nonEmpty && got == want)
      // the battery gate bites beyond the base gate (word-count floor
      // on the salad corpus), and the gated set nests inside the open
      assert(got.size < open.size && got.subsetOf(open))
    } finally q.stop()
  }

  test("in-stream near-dup gate: sidecar catches cross-batch near-dups; replay idempotent; batch parity") {
    import graft.streaming.DocStreams
    import spark.implicits._
    def rmRf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmRf)
      f.delete()
    }
    val src = "target/doc_nd_src"; val out = "target/doc_nd_out"
    val out2 = "target/doc_nd_out_batchtwin"
    Seq(src, out, out2, "target/doc_nd_ckpt", "target/doc_nd_ckpt2")
      .foreach(p => rmRf(new java.io.File(p)))
    new java.io.File(src).mkdirs()
    // gate-passing base docs: the ones the plain curation gate keeps
    val keptHashes = DocStreams.curateBatch(spark, sf)
      .select($"file_hash").collect().map(_.getString(0)).toSet
    val base = Tables.load(spark, sf, "documents")
      .withColumn("h", md5($"text")).filter($"h".isin(keptHashes.toSeq: _*))
      .select($"doc_id", $"text").orderBy($"doc_id").limit(30).collect()
    assert(base.length == 30)
    val batch1 = base.map(r => (r.getLong(0), r.getString(1))).toSeq
      .toDF("doc_id", "text")
    // batch 2: 10 near-dup variants of batch-1 docs + 2 exact replays
    val batch2 = (base.take(10).map(r =>
        (1000L + r.getLong(0), r.getString(1) + " tiny nudge")) ++
      base.slice(10, 12).map(r => (2000L + r.getLong(0), r.getString(1))))
      .toSeq.toDF("doc_id", "text")
    // the file source wants FILES in the dir, not nested write dirs
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"target/doc_nd_tmp_$name"
      rmRf(new java.io.File(tmp))
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(src, s"$name.parquet"))
    }
    stage(batch1, "b1")
    val schema = batch1.schema
    def run(ckpt: String): Unit =
      DocStreams.curateStreamNearDup(
        spark.readStream.schema(schema).parquet(src), out, ckpt)
        .awaitTermination()
    run("target/doc_nd_ckpt")
    val landed1 = spark.read.parquet(s"$out/docs")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(landed1 == base.map(_.getLong(0)).toSet,
      s"first batch must land whole: $landed1")
    // second micro-batch arrives; same checkpoint tracks offsets
    stage(batch2, "b2")
    run("target/doc_nd_ckpt")
    val landed2 = spark.read.parquet(s"$out/docs")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(landed2 == landed1,
      s"near-dup + exact-replay docs must all drop, got ${landed2 -- landed1}")
    // replay from a FRESH checkpoint over the same source: content-hash
    // guard against the landed output keeps the gate idempotent
    run("target/doc_nd_ckpt2")
    assert(spark.read.parquet(s"$out/docs").count() == landed1.size)
    // batch twin parity: one static pass over everything lands the
    // same doc set (greedy keep-smallest picks the same winners)
    DocStreams.curateNearDupBatch(batch1.unionByName(batch2), out2)
    val twin = spark.read.parquet(s"$out2/docs")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(twin == landed1, s"batch twin diverges: ${twin.diff(landed1)} / ${landed1.diff(twin)}")
  }

  test("in-stream near-dup gate plan: the sidecar is never force-broadcast (batch frames only)") {
    import spark.implicits._
    // reuse the sidecar the gate test built (runs in suite order; if
    // absent the plan still pins — the empty-frame path has the same
    // hint shape)
    val out = "target/doc_nd_out"
    val bands = Seq((1L, 0, "k")).toDF("doc_id", "band", "bkey")
    val sets = Seq((1L, Seq(1L, 2L))).toDF("doc_id", "shh")
    val plan = new graft.operators.NearDupSidecar(spark, s"$out/neardup")
      .corpusPlan(bands, sets)
      .queryExecution.analyzed
    val hints = plan.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h.child
    }
    assert(hints.nonEmpty, "the gate should broadcast its bounded batch frames")
    hints.foreach { c =>
      val readsSidecar = c.collectLeaves().exists(_.toString.contains("neardup"))
      assert(!readsSidecar,
        s"the sidecar grows with everything ever landed — it must never " +
          s"be force-broadcast:\n$c")
    }
  }

  test("bounded-state curation gate: watermarked dedup matches within the horizon") {
    import graft.streaming.DocStreams
    import org.apache.spark.sql.functions._
    // arrivals one second apart (500 docs ≈ 8.3 min), genuinely inside
    // the 1-hour horizon, so no row can be watermark-dropped even if
    // the source is split across triggers
    val stream = DocStreams.loadDocumentsStream(spark, docStreamDir)
      .withColumn("arrival",
        expr("timestamp_micros(1700000000000000 + doc_id * 1000000)"))
    val q = DocStreams.curateGateBounded(stream, "arrival", "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("st_curate_bounded_test").start()
    try {
      q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long, Double)] =
        df.select("file_hash", "lang_pred", "n_tokens", "quality_r").collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      // within one watermark horizon the bounded gate equals the global one
      assert(rows(spark.table("st_curate_bounded_test")) ==
        rows(DocStreams.curateBatch(spark, sf)))
    } finally q.stop()
  }

  test("windowed aggregation: streaming == batch") {
    val q = EventStreams.windowAggStream(Tables.loadEventsStream(spark, streamDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("st_window_test").start()
    try {
      q.processAllAvailable()
      val got = spark.table("st_window_test")
        .select("hour", "event_type", "n", "sum_value")
      val want = EventStreams.windowAggBatch(spark, sf)
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    } finally q.stop()
  }

  test("stream-static enrichment: streaming == batch") {
    val q = EventStreams.enrichStream(
        Tables.loadEventsStream(spark, streamDir),
        Tables.load(spark, sf, "customer"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("st_enrich_test").start()
    try {
      q.processAllAvailable()
      val got = spark.table("st_enrich_test")
        .select("c_mktsegment", "day", "n", "sum_value")
      val want = EventStreams.enrichBatch(spark, sf)
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    } finally q.stop()
  }

  test("streaming dedup emits one row per (user, type, minute)") {
    val q = EventStreams.dedupStream(Tables.loadEventsStream(spark, streamDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("st_dedup_test").start()
    try {
      q.processAllAvailable()
      val got = spark.table("st_dedup_test")
      val dups = got.groupBy("user_id", "event_type", "minute")
        .count().filter(col("count") > 1).count()
      assert(dups == 0)
      assert(got.count() == EventStreams.dedupBatch(spark, sf).count())
    } finally q.stop()
  }
}
