package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The end-to-end crawl-to-corpus pipeline — the composition a 100 TB
  * CommonCrawl user actually runs, wired from pieces this library
  * already verifies one-by-one:
  *
  *   warc bytes → transparent gzip/zstd ([[graft.functions.expressions.Inflate]])
  *   → WARC record walk ([[graft.functions.expressions.ParseWarc]])
  *   → charset-aware tolerant HTML ([[graft.functions.expressions.ParseHtml]],
  *     the capture's HTTP Content-Type as the transport hint)
  *   → main-content reassembly + boilerplate gate ([[DocParse]]'s split)
  *   → URL-level dedup keeper ([[Dedup.canonicalUrl]])
  *   → curation signals (lang-id markers, token count, quality floor —
  *     [[TextAnalysis.scoreDocs]], the SAME expressions tx_curate pins)
  *   → token-budget shard assignment ([[TextAnalysis.distributedCumSum]],
  *     the 100 TB-safe prefix sum tx_pack pins).
  *
  * Every stage is individually hash-checked elsewhere; this query
  * hash-checks the SEAMS — id flow, null handling, gate ordering —
  * which nothing else exercises end-to-end.
  *
  * Scale shape, one stage per shuffle and no others: the capture scan
  * is narrow through synth/inflate/parse, and page reassembly is
  * shuffle-FREE (higher-order array functions over ParseHtml's
  * co-located runs); ONE min(struct) partial aggregation over
  * canonical URL is the url-dedup shuffle (map-side combining, so a
  * hot recrawled url merges before the exchange); scoring is narrow;
  * the shard prefix sum is the two-pass bounded-collect formulation,
  * never a single-partition window. */
object CrawlPipeline {

  /** Pages whose chrome share exceeds this never become training
    * data (navigation/link-farm captures). */
  val BoilerMax = 0.5

  /** Same language/quality gate as [[TextAnalysis.curate]]. */
  val QualityFloor = 0.25
  val KeepLangs: Seq[String] = Seq("en", "es")

  /** Curated corpus from raw WARC captures. `captures` needs
    * (doc_id: long, payload: binary) — one capture file per row,
    * `.warc` / `.warc.gz` / `.warc.zst` all transparent. Output: one
    * row per kept page — canonical url, boilerplate share, language,
    * token count, quality, and its token-budget shard.
    *
    * The gate models are swappable exactly like [[TextAnalysis.curate]]'s:
    * `trainedLangId` replaces the marker-heuristic `lang_pred` with the
    * fitted classifier's per-row prediction, and `trainedQuality`
    * ANDs a learned probability floor onto the heuristic one — both
    * one narrow expression with broadcast weights, so the plan shape
    * is unchanged. The driver oracle pins the heuristic defaults;
    * CrawlPipelineSpec exercises the trained configs. */
  def fromCaptures(captures: DataFrame,
      trainedLangId: Option[LangIdClassifier.Model] = None,
      trainedQuality: Option[(LangIdClassifier.Model, Double)] = None)
      : DataFrame = {
    val spark = captures.sparkSession
    import spark.implicits._
    // r18: MATERIALIZE the scored+gated frame (narrow metadata columns,
    // no text) before the prefix sum. distributedCumSum executes its
    // input lineage TWICE (the range sampler is its own job, then the
    // persist's map stage) — un-materialized, that re-ran the
    // post-keeper scoring pass (tokenize + marker scans over the whole
    // kept corpus, a full corpus stage at 100 TB) a second time for
    // nothing (measured sf0.1: 3.6 -> 2.2 s). The scoped
    // minPartitionSize keeps AQE from coalescing the keeper's reduce
    // side below ~parallelism when the deduped METADATA is tiny but the
    // downstream scoring is CPU-bound (AQE sizes by bytes; the r17
    // plan ran the whole scoring stage in ONE task at sf0.1 — measured
    // 2.2 -> 1.4 s; at scale partitions sit far above the floor and the
    // setting is a no-op).
    val scored = withMinPartitionSize(spark) {
      Tables.materialize(scoredKept(captures, trainedLangId, trainedQuality))
    }
    // shard assignment: exact per-language running token totals via
    // the distributed prefix sum (cum is unique-keyed on
    // (lang_pred, doc_id), so shard ids are deterministic)
    val (cum, base) = TextAnalysis.distributedCumSum(
      scored, "lang_pred", "doc_id", "n_tokens")
    val out = Tables.materialize(cum.withColumn("shard_id",
      expr(s"(cum - n_tokens) div ${TextAnalysis.ShardBudget}"))
      .drop("cum"))
    base.unpersist(blocking = false)
    Tables.release(scored)
    out
  }

  /** Scoped AQE floor for keeper-then-CPU-heavy stages: AQE coalesces
    * reducers by BYTES, so a selective keeper over small metadata rows
    * collapses the following compute-bound stage (scoring, decode) to
    * one task at test scale. A 64 KB floor restores ~parallelism-many
    * reducers there while staying a no-op at corpus scale (real
    * partitions sit far above it). Applied around EAGER work only —
    * the conf is read at execution time. */
  private def withMinPartitionSize[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "64kb")
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Captures → deduped, scored, gated page rows — everything before
    * the shard prefix sum (which materializes, hiding the plan). The
    * production path; exposed so the spec can pin the keeper's PLAN
    * (a partial aggregation, never a window) on the exact frame
    * [[fromCaptures]] runs. */
  private[graft] def scoredKept(captures: DataFrame,
      trainedLangId: Option[LangIdClassifier.Model],
      trainedQuality: Option[(LangIdClassifier.Model, Double)]): DataFrame = {
    val spark = captures.sparkSession
    import spark.implicits._
    val pages = pageFrame(captures)
    // url-level dedup BEFORE scoring and content gates (the crawl
    // order: a page recrawled under tracking-param variants is ONE
    // page, and the keeper — lowest (doc_id, rec) — is decided before
    // any gate can disqualify it; scoring after the keeper means the
    // tokenize/classify cost is never paid on dropped duplicates).
    // The keeper is a min(struct) PARTIAL aggregation, not a
    // row_number window: a hot url (mega-recrawled page) combines its
    // captures map-side before the one url shuffle, where a window
    // would pin every capture of that url on a single task — the
    // dd_urls / tx_linededup keeper discipline. (doc_id, rec) is
    // unique per capture row, so the struct min is deterministic and
    // the output is hash-identical to the window formulation.
    val kept = pages
      .groupBy($"url")
      .agg(min(struct($"doc_id", $"rec", $"text", $"boiler_ratio")).as("k"))
      .select($"k.doc_id".as("doc_id"), $"url",
        $"k.text".as("text"), $"k.boiler_ratio".as("boiler_ratio"))
    gates(score(kept, trainedLangId, trainedQuality),
      trainedQuality.map(_._2).getOrElse(0.0))
      .select($"doc_id", $"url", $"boiler_ratio", $"lang_pred",
        $"n_tokens", $"quality_r")
  }

  /** The STATELESS half of the pipeline, shared verbatim by the batch
    * path and the streaming gate ([[crawlGate]]) — capture bytes to
    * UNSCORED page rows in ONE narrow pass, no shuffle at all: a
    * page's text runs are already co-located in [[graft.functions.expressions.ParseHtml]]'s
    * result array, so reassembly is higher-order array functions in
    * ARRAY (= document) order — never an explode + groupBy (the
    * earlier formulation paid a whole corpus shuffle to regroup rows
    * that started out together). Only text/html responses with at
    * least one text/boilerplate run count as PAGES (an empty-body
    * response must not occupy a canonical URL and knock the real page
    * out of the dedup); the record ordinal `rec` keeps two same-URL
    * responses in one capture apart. Scoring deliberately does NOT
    * happen here — both callers dedup first, so the per-row
    * tokenize/classify cost is never paid on rows the keeper drops.
    * Output: (doc_id, rec, url, text, boiler_ratio). */
  private[graft] def pageFrame(captures: DataFrame): DataFrame =
    pageRuns(captures).drop("rows")

  /** [[pageFrame]] plus the parsed run array itself — [[interleave]]
    * needs the DOM-ordered (text_block | image) sequence, everything
    * else prunes `rows` away (Catalyst column pruning, so the shared
    * formulation costs the text-only callers nothing). */
  private[graft] def pageRuns(captures: DataFrame): DataFrame = {
    val spark = captures.sparkSession
    import spark.implicits._
    import graft.functions.expressions.{Inflate, ParseHtml, ParseWarc}
    captures
      .select($"doc_id",
        posexplode(ParseWarc(Inflate($"payload"))).as(Seq("rec", "w")))
      .filter($"w.rec_type" === "response" &&
        $"w.mime".startsWith("text/html") && $"w.target_uri".isNotNull)
      .select($"doc_id", $"rec",
        Dedup.canonicalUrl($"w.target_uri").as("url"),
        ParseHtml($"w.body", $"w.mime").as("rows"))
      .select($"doc_id", $"rec", $"url", $"rows",
        array_join(transform(
          filter($"rows", r => r.getField("content_type") === "text_block"),
          r => r.getField("content_raw")), " ").as("text"),
        aggregate(
          filter($"rows", r => r.getField("content_type") === "text_block"),
          lit(0L), (acc, r) => acc + length(r.getField("content_raw")))
          .as("main_chars"),
        aggregate(
          filter($"rows", r => r.getField("content_type") === "boilerplate"),
          lit(0L), (acc, r) => acc + length(r.getField("content_raw")))
          .as("boiler_chars"))
      .filter($"main_chars" + $"boiler_chars" > 0) // run-less responses are not pages
      .withColumn("boiler_ratio", round($"boiler_chars".cast("double") /
        ($"boiler_chars" + $"main_chars"), 4))
      .drop("main_chars", "boiler_chars")
  }

  /** Curation signals over deduped page rows — [[TextAnalysis.scoreDocs]]
    * plus the trained configs' columns (one narrow expression each,
    * broadcast weights). Runs AFTER the url dedup in both callers. */
  private def score(pages: DataFrame,
      trainedLangId: Option[LangIdClassifier.Model],
      trainedQuality: Option[(LangIdClassifier.Model, Double)]): DataFrame = {
    import pages.sparkSession.implicits._
    val heuristic = TextAnalysis.scoreDocs(pages)
    val relabeled = trainedLangId.fold(heuristic)(m =>
      heuristic.withColumn("lang_pred", m.predict($"text")))
    trainedQuality.fold(relabeled.withColumn("q_prob", lit(1.0))) {
      case (m, _) => relabeled.withColumn("q_prob", m.probability($"text", "hi"))
    }
  }

  /** The content gates over a [[pageFrame]]: chrome ceiling, language
    * keep-list, heuristic quality floor, and — when a trained quality
    * model rode in — its probability floor (q_prob is a constant 1.0
    * otherwise, so a 0.0 floor is the no-op default). */
  private def gates(pages: DataFrame, qProbFloor: Double): DataFrame = {
    import pages.sparkSession.implicits._
    pages.filter($"boiler_ratio" <= BoilerMax &&
      $"lang_pred".isInCollection(KeepLangs) &&
      $"quality_r" >= QualityFloor && $"q_prob" >= lit(qProbFloor))
  }

  /** The crawl ingest as a STREAM transform — the lambda split stated
    * like [[graft.streaming.DocStreams]]: the stateless half
    * ([[pageFrame]], shared VERBATIM with the batch path) runs
    * in-stream, `dropDuplicates("url")` is the in-stream URL dedup,
    * and scoring + gates run on the deduped survivors — the SAME
    * dedup-before-gates order as the batch keeper, so a gated-out
    * first capture suppresses later recrawls of its url in both
    * paths (the only divergence left is first-ARRIVAL vs
    * lowest-(doc_id, rec) when duplicates differ in content). State
    * keys one row per distinct url; long-running queries bound it
    * with a watermark variant exactly like
    * DocStreams.curateGateBounded. Shard assignment stays a batch
    * compaction job — a global prefix sum has no bounded-state
    * streaming form. Works unchanged on a batch frame; the spec pins
    * stream/batch parity on the gate columns. */
  def crawlGate(captures: DataFrame,
      trainedLangId: Option[LangIdClassifier.Model] = None,
      trainedQuality: Option[(LangIdClassifier.Model, Double)] = None)
      : DataFrame = {
    import captures.sparkSession.implicits._
    gates(score(pageFrame(captures).dropDuplicates("url"),
      trainedLangId, trainedQuality),
      trainedQuality.map(_._2).getOrElse(0.0))
      .select($"doc_id", $"url", $"boiler_ratio", $"lang_pred",
        $"n_tokens", $"quality_r")
  }

  /** The IMAGE half of the crawl — the multimodal side of
    * run_image_search (vector_db.py:738-759) fed from the crawl
    * container instead of an upload form. Composes pieces this
    * library already verifies one-by-one and hash-checks their
    * SEAMS:
    *
    *   warc bytes → transparent decompression (all four codecs)
    *   → WARC record walk → TWO image sources: image-typed responses
    *     (by the capture's own Target-URI) and base64 data URIs
    *     embedded in text/html bodies (by page-url#imgN)
    *   → canonical-URL keeper (min-struct partial agg — the SAME
    *     discipline as [[fromCaptures]]) BEFORE any pixel work, so
    *     the decode cost is never paid on dropped raw variants
    *   → ONE real decode per kept image
    *     ([[graft.functions.expressions.PixelMeta]]: format, decoded
    *     dims, 32x32-DCT perceptual hash)
    *   → pixel-hash grouping (partial-agg count + join, the exact
    *     image-dedup ring at hamming 0 — the shared-logo mass a
    *     crawl actually carries; the near-dup ring over the same
    *     hash column is [[HammingPairs]], spec-covered).
    *
    * Output per kept image: (doc_id, url, src, n_raw, fmt, width,
    * height, px_group) — every column recomputable from md5(text)
    * by the DuckDB oracle, so the container flow, canonicalization,
    * keeper choice, REAL decode (the dims), and hash grouping all
    * hash-check. Scale shape: narrow scan → one url shuffle → narrow
    * decode → one tiny (ph, count) aggregate joined back. */
  def imageCorpus(captures: DataFrame): DataFrame = {
    val spark = captures.sparkSession
    import spark.implicits._
    // ONE decode per kept image, materialized (tens of bytes a row)
    // so the grouping join below never re-decodes
    val decoded = Tables.materialize(decodedImages(captures))
    // EXACT pixel-duplicate groups: partial-agg count on the decoded
    // raster digest, joined back (never a window — a mega-shared logo
    // must combine map-side, not pin one task). Exact because the
    // digest is of decoded PIXELS: byte-different re-encodings group,
    // near-dups (prefix-sharing rasters) stay apart — those are
    // HammingPairs' ring over the perceptual hash, not this stage's.
    val groups = decoded.groupBy($"px_md5").agg(count(lit(1)).as("px_group"))
    decoded.join(groups, "px_md5")
      .select($"doc_id", $"url", $"src", $"n_raw", $"fmt",
        $"width", $"height", $"px_group")
  }

  /** Captures → one DECODED row per kept image — everything before
    * the pixel-group stage (whose materialize hides the plan).
    * Exposed so the spec can pin the plan shape (min-struct keeper,
    * ONE decode above it, no window) on the exact frame
    * [[imageCorpus]] runs. */
  private[graft] def decodedImages(captures: DataFrame): DataFrame = {
    val spark = captures.sparkSession
    import spark.implicits._
    // url-level dedup BEFORE the decode — recrawled raw variants merge
    // map-side and their pixel work is never paid (plan-pinned)
    val kept = imageEntries(captures)
      .groupBy($"url")
      .agg(min(struct($"doc_id", $"rec", $"src", $"img")).as("k"),
        count(lit(1)).as("n_raw"))
      .select($"k.doc_id".as("doc_id"), $"url", $"k.src".as("src"),
        $"n_raw", $"k.img".as("img"))
    decodeKept(kept)
  }

  /** The STATELESS half of the image pipeline — captures to (doc_id,
    * rec, url, src, img) rows, shared verbatim by the batch path and
    * the streaming [[imageGate]] (the [[crawlGate]] lambda split).
    * BOTH image sources come out of ONE record pass: a union of two
    * filtered branches would scan `captures` twice — at crawl scale
    * that is the whole container decompress + WARC walk run twice
    * (measured 2x wall on the driver gate). Each record yields an
    * ARRAY of entries — one for an image-typed response, one per data
    * URI of an html body — exploded once. */
  private[graft] def imageEntries(captures: DataFrame): DataFrame = {
    val spark = captures.sparkSession
    import spark.implicits._
    import graft.functions.expressions.{Inflate, ParseWarc}
    val recs = captures.select($"doc_id",
      posexplode(ParseWarc(Inflate($"payload"))).as(Seq("rec", "w")))
      .filter($"w.rec_type" === "response" && $"w.target_uri".isNotNull)
    val canon = Dedup.canonicalUrl($"w.target_uri")
    val entry = when($"w.mime".startsWith("image/"),
        array(struct(canon.as("url"), lit("warc").as("src"),
          $"w.body".as("img"))))
      .when($"w.mime".startsWith("text/html"),
        transform(
          regexp_extract_all($"w.body".cast("string"),
            lit("data:image/[a-z]+;base64,([A-Za-z0-9+/=]+)"), lit(1)),
          (b64, k) => struct(
            concat(canon, lit("#img"), k.cast("string")).as("url"),
            lit("data").as("src"), unbase64(b64).as("img"))))
      .otherwise(array().cast("array<struct<url:string,src:string,img:binary>>"))
    recs
      .select($"doc_id", $"rec", explode(entry).as("e"))
      .select($"doc_id", $"rec", $"e.url".as("url"), $"e.src".as("src"),
        $"e.img".as("img"))
  }

  /** ONE TOLERANT decode per kept image: crawl-extracted payloads are
    * untrusted bytes (truncated data URIs, mislabeled response
    * bodies), so a junk image DROPS here — the gate survives — where
    * the default PixelMeta would rightly fail a curated image column
    * loudly. */
  private def decodeKept(kept: DataFrame): DataFrame = {
    import kept.sparkSession.implicits._
    import graft.functions.expressions.PixelMeta
    kept
      .select($"doc_id", $"url", $"src", $"n_raw",
        PixelMeta($"img", tolerant = true).as("m"))
      .filter($"m".isNotNull)
      .select($"doc_id", $"url", $"src", $"n_raw", $"m.fmt".as("fmt"),
        $"m.width".cast("long").as("width"),
        $"m.height".cast("long").as("height"), $"m.px_md5".as("px_md5"))
  }

  /** The image ingest as a STREAM transform — [[crawlGate]]'s twin on
    * the multimodal side: the stateless half ([[imageEntries]], shared
    * VERBATIM with the batch path) runs in-stream,
    * `dropDuplicates("url")` is the in-stream url dedup (first
    * ARRIVAL wins where the batch keeper picks lowest (doc_id, rec) —
    * the same divergence-on-differing-content note as crawlGate), and
    * the tolerant decode runs on the deduped survivors only. The
    * pixel-hash grouping stays a batch compaction job — exact global
    * group counts have no bounded-state streaming form, exactly like
    * shard assignment. Works unchanged on a batch frame; the spec
    * pins stream/batch parity on the decode columns. */
  def imageGate(captures: DataFrame): DataFrame =
    decodeKept(imageEntries(captures)
      .withColumn("n_raw", lit(1L))
      .dropDuplicates("url")
      .select(col("doc_id"), col("url"), col("src"), col("n_raw"), col("img")))

  /** ONE record pass emitting BOTH halves of the multimodal crawl —
    * page entries (the [[pageRuns]] columns) AND image entries (the
    * [[imageEntries]] columns) as rows of a single tagged frame
    * (kind ∈ {page, image}; url keyspaces are disjoint by
    * construction — pages by their own uri, warc images by theirs,
    * data URIs by `page#imgN`). [[interleave]] needs both halves of
    * the SAME captures, and two separate frames would run the whole
    * synthesis/decompress/WARC-walk chain twice — measured at sf1 to
    * be the entire mm_interleave wall (the pixel decode the r16
    * verdict held `weak` measures <1 s of 19.5; the capture chain is
    * ~9 s per pass, see OPTIMIZATION_r17.md, crawl family). A single
    * tagged frame makes the downstream (kind, url) keeper shuffle
    * IDENTICAL in every branch, so Catalyst/AQE exchange reuse runs
    * the capture chain once no matter how many consumers branch off
    * the keeper. */
  private[graft] def unifiedEntries(captures: DataFrame): DataFrame = {
    val spark = captures.sparkSession
    import spark.implicits._
    import graft.functions.expressions.{Inflate, ParseHtml, ParseWarc}
    val rowsT = "array<struct<page_num:bigint,content_type:string," +
      "content_id:string,content_raw:string,x0:double,y0:double," +
      "x1:double,y1:double>>"
    val entryT = s"array<struct<kind:string,url:string,text:string," +
      s"rows:$rowsT,boiler_ratio:double,src:string,img:binary>>"
    val recs = captures
      .select($"doc_id",
        posexplode(ParseWarc(Inflate($"payload"))).as(Seq("rec", "w")))
      .filter($"w.rec_type" === "response" && $"w.target_uri".isNotNull)
      .select($"doc_id", $"rec", Dedup.canonicalUrl($"w.target_uri").as("url"),
        $"w.mime".as("mime"), $"w.body".as("body"))
    // the html parse runs ONCE per record (its own projection step —
    // the higher-order run aggregates below reference the column, not
    // the expression), and only for html records (`when` evaluates
    // lazily)
    val parsed = recs.select($"doc_id", $"rec", $"url", $"mime", $"body",
      when($"mime".startsWith("text/html"), ParseHtml($"body", $"mime"))
        .as("rows"))
    val withChars = parsed.select($"doc_id", $"rec", $"url", $"mime",
      $"body", $"rows",
      aggregate(
        filter($"rows", r => r.getField("content_type") === "text_block"),
        lit(0L), (acc, r) => acc + length(r.getField("content_raw")))
        .as("main_chars"),
      aggregate(
        filter($"rows", r => r.getField("content_type") === "boilerplate"),
        lit(0L), (acc, r) => acc + length(r.getField("content_raw")))
        .as("boiler_chars"))
    val nulS = lit(null).cast("string")
    // only run-carrying html responses are PAGES (the pageRuns rule);
    // data-URI images extract regardless (the imageEntries rule — a
    // run-less gallery page still contributes its images)
    val pageEntry = when(
      $"mime".startsWith("text/html") && $"main_chars" + $"boiler_chars" > 0,
      array(struct(lit("page").as("kind"), $"url",
        array_join(transform(
          filter($"rows", r => r.getField("content_type") === "text_block"),
          r => r.getField("content_raw")), " ").as("text"),
        $"rows",
        round($"boiler_chars".cast("double") /
          ($"boiler_chars" + $"main_chars"), 4).as("boiler_ratio"),
        nulS.as("src"), lit(null).cast("binary").as("img"))))
      .otherwise(array().cast(entryT))
    val warcImgEntry = when($"mime".startsWith("image/"),
      array(struct(lit("image").as("kind"), $"url", nulS.as("text"),
        lit(null).cast(rowsT).as("rows"),
        lit(null).cast("double").as("boiler_ratio"),
        lit("warc").as("src"), $"body".as("img"))))
      .otherwise(array().cast(entryT))
    val dataImgEntry = when($"mime".startsWith("text/html"),
      transform(
        regexp_extract_all($"body".cast("string"),
          lit("data:image/[a-z]+;base64,([A-Za-z0-9+/=]+)"), lit(1)),
        (b64, k) => struct(lit("image").as("kind"),
          concat($"url", lit("#img"), k.cast("string")).as("url"),
          nulS.as("text"), lit(null).cast(rowsT).as("rows"),
          lit(null).cast("double").as("boiler_ratio"),
          lit("data").as("src"), unbase64(b64).as("img"))))
      .otherwise(array().cast(entryT))
    withChars
      .select($"doc_id", $"rec",
        explode(concat(pageEntry, warcImgEntry, dataImgEntry)).as("e"))
      .select($"doc_id", $"rec", $"e.kind".as("kind"), $"e.url".as("url"),
        $"e.text".as("text"), $"e.rows".as("rows"),
        $"e.boiler_ratio".as("boiler_ratio"), $"e.src".as("src"),
        $"e.img".as("img"))
  }

  /** Interleaved multimodal document assembly — the seam that joins
    * the crawl's curated TEXT half with its OWN deduped images in DOM
    * position order: one row per (page, position), kind ∈ {text,
    * image}, the MMC4/OBELICS pretraining record shape (the
    * reference's closest analog is run_search's combined text+image
    * channel, vector_db.py:615-671). Both halves exist as verified
    * pipelines ([[fromCaptures]], [[imageCorpus]]); this query
    * hash-checks the join seams — position flow, ref construction,
    * group lookup — which nothing else exercises together.
    *
    *   - text rows: payload_ref = md5 of the run (a shard-file
    *     reference in a real deployment), px_group null.
    *   - image rows: payload_ref = the image's canonical url
    *     (`page#imgN` for data URIs — N is the image's DOM ordinal,
    *     which matches [[imageEntries]]' body-order data-URI index
    *     whenever every data URI sits in an `img` src, the crawl
    *     norm; a diverging page yields an unmatched ref and a null
    *     px_group, never a wrong join), px_group from the deduped
    *     image corpus.
    *
    * `gated` applies the SAME content gates as [[fromCaptures]] (the
    * curated form); the driver query runs ungated so the synthetic
    * corpus' short gallery pages survive to exercise the seams.
    * Scale shape (r17): the captures scan runs ONCE for both halves —
    * [[unifiedEntries]] tags page and image entries in one record
    * pass, ONE (kind, url) min-struct keeper shuffle dedups both
    * (disjoint url keyspaces per kind, so the unified keeper is
    * row-identical to the two per-half keepers it replaced), and the
    * keeper result MATERIALIZES (the [[imageCorpus]] `decoded`
    * discipline — the natural pipeline barrier a real deployment
    * writes out anyway) so every downstream branch (page walk, pixel
    * decode, pixel-group aggregate, group join-back) reads the
    * deduped frame, never a second captures pass. Exchange reuse
    * alone cannot deliver this: per-branch column pruning makes the
    * three keeper subtrees canonically different, so Catalyst plans
    * three separate capture chains (measured — the r17 first cut ran
    * the synthesis 3×). The per-kept-image decode runs in two
    * branches (group count + join back) — <1 s at sf1 against ~9 s
    * per avoided capture pass (OPTIMIZATION_r17.md, crawl family). The
    * per-page position walk is a LINEAR array aggregate (list +
    * running image ordinal), never a quadratic slice-and-count. */
  def interleave(captures: DataFrame, gated: Boolean = true,
      trainedLangId: Option[LangIdClassifier.Model] = None,
      trainedQuality: Option[(LangIdClassifier.Model, Double)] = None)
      : DataFrame = {
    val spark = captures.sparkSession
    import spark.implicits._
    // ONE keeper over both kinds: min-struct on (doc_id, rec) — unique
    // per capture record, so the min never reaches the nullable
    // payload fields and each kind's keeper choice is exactly what its
    // per-half groupBy picked before.
    // The keeper's reduce-side state is the whole deduped corpus
    // (rows + text + img per group): on a static cores-count reducer
    // layout its per-task share blew the 8 GB default heap at sf10
    // (AGGREGATE_OUT_OF_MEMORY, reproduced quiet). Let AQE size THIS
    // aggregate's reducers from data (start wide, coalesce to the
    // 64 MB advisory) by scoping initialPartitionNum around the
    // eager materialize — scoped, because the global bump taxed every
    // small shuffle ~20% at sf0.1 for nothing. Map-side combine is
    // kept (it is the groupBy's own exchange, just sized by AQE).
    val aqeKey = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val prevAqe = spark.conf.getOption(aqeKey)
    spark.conf.set(aqeKey,
      (spark.sparkContext.defaultParallelism * 16).toString)
    val keptAll =
      try Tables.materialize(unifiedEntries(captures)
        .groupBy($"kind", $"url")
        .agg(min(struct($"doc_id", $"rec", $"text", $"rows",
          $"boiler_ratio", $"src", $"img")).as("k"),
          count(lit(1)).as("n_raw")))
      finally prevAqe match {
        case Some(v) => spark.conf.set(aqeKey, v)
        case None => spark.conf.unset(aqeKey)
      }
    val kept = keptAll.filter($"kind" === "page")
      .select($"k.doc_id".as("doc_id"), $"url", $"k.rows".as("rows"),
        $"k.text".as("text"), $"k.boiler_ratio".as("boiler_ratio"))
    val pages =
      if (gated)
        gates(score(kept, trainedLangId, trainedQuality),
          trainedQuality.map(_._2).getOrElse(0.0))
          .select($"doc_id", $"url", $"rows")
      else kept.select($"doc_id", $"url", $"rows")
    // DOM-ordered (kind, raw, img_ord) entries in ONE linear pass:
    // the aggregate threads a running image ordinal through the list
    val entryType = "array<struct<ct:string,raw:string,img_ord:int>>"
    val relevant = filter($"rows", r =>
      r.getField("content_type") === "text_block" ||
        r.getField("content_type") === "image")
    val marked = aggregate(relevant,
      struct(lit(0).as("n"), array().cast(entryType).as("out")),
      (acc, r) => struct(
        (acc.getField("n") +
          when(r.getField("content_type") === "image", 1).otherwise(0)).as("n"),
        concat(acc.getField("out"), array(struct(
          r.getField("content_type").as("ct"),
          r.getField("content_raw").as("raw"),
          acc.getField("n").as("img_ord")))).as("out")),
      acc => acc.getField("out"))
    val entries = pages
      .select($"doc_id", $"url", posexplode(marked).as(Seq("seq", "e")))
      .select($"doc_id", $"url", $"seq".cast("long").as("seq"),
        when($"e.ct" === "image", lit("image")).otherwise(lit("text")).as("kind"),
        when($"e.ct" === "image",
          concat($"url", lit("#img"), $"e.img_ord".cast("string")))
          .otherwise(md5($"e.raw")).as("payload_ref"))
    // the image half branches off the SAME keeper frame — its decode
    // and pixel-group stages ([[imageCorpus]]'s logic, inlined so the
    // exchange stays shared) read the reused keeper shuffle, never a
    // second captures pass
    val imgKept = keptAll.filter($"kind" === "image")
      .select($"k.doc_id".as("doc_id"), $"url", $"k.src".as("src"),
        $"n_raw", $"k.img".as("img"))
    // r18: decode ONCE — the group-count and join-back branches both
    // consume the decoded frame, and un-materialized each re-read the
    // keeper frame and re-ran the pixel decode (the [[imageCorpus]]
    // `decoded` discipline, now applied here too; the verdict's
    // decode-once shared-frame item). Tens of bytes per row.
    val decoded = Tables.materialize(decodeKept(imgKept))
    val groups = decoded.groupBy($"px_md5").agg(count(lit(1)).as("px_group"))
    val imgs = decoded.join(groups, "px_md5")
      .select($"url".as("payload_ref"), $"px_group")
    entries.join(imgs, Seq("payload_ref"), "left")
      .select($"doc_id", $"url", $"seq", $"kind", $"payload_ref", $"px_group")
  }

  /** The mm_interleave driver query: [[interleave]] (ungated — see
    * there) over the [[graft.functions.expressions.SynthWarcImg]]
    * captures; the oracle replays page urls, run digests, image refs,
    * and logo-bucket group sizes from md5(text) alone. */
  def interleaveDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    interleave(Tables.spread(Tables.load(spark, dir, "documents"))
      .select($"doc_id",
        graft.functions.expressions.SynthWarcImg($"text").as("payload")),
      gated = false)
      .orderBy($"doc_id", $"url", $"seq")
  }

  /** The mm_crawl driver query: one [[graft.functions.expressions.SynthWarcImg]]
    * capture per document through [[imageCorpus]]; the oracle replays
    * urls, formats, keeper counts, decoded dims, and the logo-bucket
    * group sizes from md5(text) alone. */
  def crawlImages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    imageCorpus(Tables.spread(Tables.load(spark, dir, "documents"))
      .select($"doc_id",
        graft.functions.expressions.SynthWarcImg($"text").as("payload")))
      .orderBy($"doc_id", $"url")
  }

  /** The tx_crawl driver query: one synthetic `.warc.gz`/`.warc.zst`
    * capture per document ([[graft.functions.expressions.SynthWarc]]
    * — codec AND charset shares ride inside, and the Target-URI is
    * the MESSY raw form so the canonicalizer's every rule fires on
    * container-carried data), through [[fromCaptures]]. The oracle
    * recomputes the whole chain from the text alone. */
  def crawl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fromCaptures(Tables.spread(Tables.load(spark, dir, "documents"))
      .select($"doc_id",
        graft.functions.expressions.SynthWarc($"text").as("payload")))
      .orderBy($"doc_id")
  }
}
