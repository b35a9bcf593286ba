package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.TextFunctions.tokens
import GraftVectorDB.locScoped

/** The lexical (BM25) sidecar — a persisted inverted index over the
  * store's text channel, the keyword half of `GraftVectorDB.searchHybrid`.
  * Owns, under its root:
  *
  *  - `postings` (doc_name string, page_num bigint, content_type
  *    string, content_id string, dl bigint, term string, tf bigint, gen
  *    bigint): one flat directory of files range-partitioned by term and
  *    (term, doc_name)-sorted within, so a query's pushed term filter
  *    skips every file, row group and page whose term min/max excludes
  *    it. Each ingest adds its own sorted files and a rewrite merges
  *    them — the log-structured-merge split (O'Neil et al., Acta
  *    Informatica 1996).
  *  - `termstats` (term string, df bigint, max_tf bigint): the per-term
  *    impact stats MaxScore reads ([[maxScoreReady]]).
  *  - `_NDOCS` (chunk count) and `_SUMDL` (total tokens), BM25's N and
  *    avgdl; `_PCOUNT`, the postings rows at the last consistent stats
  *    write.
  *  - `tombstones` and `_GEN`: the [[GenSidecar]] protocol. */
private[graft] final class LexicalSidecar(spark: SparkSession, root: String)
    extends GenSidecar(spark, root) {
  import spark.implicits._
  import LexicalSidecar._

  protected def tables: Seq[(String, StructType)] = Seq("postings" -> PostingsSchema)
  override protected def counters: Seq[String] = Seq("_GEN", "_NDOCS", "_SUMDL", "_PCOUNT")

  /** Whether the sidecar exists (a rebuild creates it; once it does,
    * every ingest keeps it current). */
  def indexed: Boolean =
    exists("postings") || {
      // crashed-rewrite window: the only copy sits at .old_
      recover()
      exists("postings")
    }

  private def readPostings(): DataFrame = read("postings", PostingsSchema)
  private def readTermStats(): DataFrame = read("termstats", TermStatsSchema)

  /** The live postings (the generation rule applied). */
  def livePostings(): DataFrame = live(readPostings())

  /** (term, tf, dl, + the store row key) for text-channel records: one
    * explode of the chunk text, tf and chunk length riding the same
    * shuffle (the vs_hybrid/tx_tfidf shape). */
  private def postingsOf(text: DataFrame): DataFrame =
    text.select($"doc_name", $"page_num", $"content_type", $"content_id",
        size(tokens($"content_raw")).cast("long").as("dl"),
        explode(tokens($"content_raw")).as("term"))
      .groupBy($"doc_name", $"page_num", $"content_type", $"content_id", $"term")
      .agg(count(lit(1)).as("tf"), first($"dl").as("dl"))

  /** Build (or rebuild) the sidecar from the store's live text rows —
    * one corpus explode + partial-agg groupBy (a fresh build can't
    * contain deleted rows, so its tombstones clear). Returns chunks
    * indexed. */
  def rebuild(text: DataFrame): Long = rewritePostings(postingsOf(text))

  /** Compact: drop tombstoned docs and merge every ingest's files with
    * the rest into one flat, (term, doc_name)-sorted set of files. */
  def maintain(): Long = rewritePostings(livePostings())

  /** Replace the live postings with `posts` — the one rewrite of
    * [[rebuild]] and [[maintain]]: stamped at a fresh generation,
    * written flat and sorted by (term, doc_name) ([[writeSorted]]),
    * swapped in through the [[GenSidecar]] rewrite (the old sidecar
    * serves until the new one is live), corpus and term stats
    * recomputed exactly before the tombstones clear. Returns the chunk
    * count.
    *
    * The generation BUMPS: another live instance serving this store
    * keys its gate/stats caches on `_GEN`, and a compaction after
    * deletes rewrites termstats and clears tombstones WITHOUT any
    * append — same gen, no tombstones, `_PCOUNT` consistent — so a
    * pre-delete warm cache over there would serve stale per-term df and
    * silently diverge MaxScore ranks from the full plan. Bumping BEFORE
    * the rewrite means a mid-compaction crash costs one spurious
    * cross-instance cache refresh, never a stale serve. The rewritten
    * rows re-stamp at the new generation so `_GEN` self-healing (max
    * stamped gen) stays monotonic through it — safe, because every
    * surviving row is live and later tombstones record the generation
    * current at THEIR delete. */
  private def rewritePostings(posts: DataFrame): Long = {
    val g = nextGen()
    rewrite(Seq("postings" -> ((staged: String) =>
      writeSorted(posts.withColumn("gen", lit(g))
        .select(PostingsSchema.fieldNames.map(col): _*), staged, $"term", $"doc_name"))))(
      refreshStats())
  }

  /** Write a sidecar frame (postings or termstats) as one flat
    * directory: range-partitioned by term, each file sorted by
    * `order`, so every file, row group and page covers one term range
    * that a pushed term filter ([[termIn]]) prunes on its min/max.
    * AQE's partition coalescing sets the file count. */
  private def writeSorted(df: DataFrame, path: String, order: Column*): Unit =
    writer(df.repartitionByRange($"term").sortWithinPartitions(order: _*))
      .mode(SaveMode.Overwrite).parquet(path)

  /** Every sidecar write: index-sized row groups and pages
    * ([[GraftVectorDB.LexRowGroupBytes]], [[GraftVectorDB.LexPageRows]]). */
  private def writer(df: DataFrame) =
    df.write
      .option("parquet.block.size", GraftVectorDB.LexRowGroupBytes.toString)
      .option("parquet.page.row.count.limit", GraftVectorDB.LexPageRows.toString)

  /** `term IN terms` in the form the Parquet reader prunes on exactly.
    * Spark hands an IN list longer than
    * `spark.sql.parquet.pushdown.inFilterThreshold` (10) to Parquet as
    * its [min, max] range, which on term-sorted files spans about every
    * page for a dozen scattered terms; an OR of lists that short is
    * pushed as one equality per term, so only the pages holding a term
    * are read. The whole list leads the conjunction, so a row outside
    * it costs one hash probe, not the OR. Past
    * [[GraftVectorDB.LexExactTermsMax]] terms the plain list serves. */
  private def termIn(terms: Seq[String]): Column = {
    val eqMax = spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold").toInt
    def anyOf(gs: Seq[Seq[String]]): Column =
      if (gs.length == 1) $"term".isin(gs.head: _*)
      else gs.splitAt(gs.length / 2) match { case (l, r) => anyOf(l) || anyOf(r) }
    if (eqMax <= 0 || terms.length <= eqMax || terms.length > GraftVectorDB.LexExactTermsMax)
      $"term".isin(terms: _*)
    else $"term".isin(terms: _*) && anyOf(terms.grouped(eqMax).toSeq)
  }

  /** Exact corpus stats (`_NDOCS`, `_SUMDL`) and term stats from the
    * LIVE postings — one NARROW sidecar read, not a corpus
    * scan+tokenize. Empty-safe: a fully-compacted-away sidecar (every
    * doc deleted) holds one empty file, which reads as (0, 0) — nDocs
    * = 0 is exactly what makes the serving path return an empty pool.
    * Returns the chunk count. */
  def refreshStats(): Long = {
    val (n, sumdl, _) = statsOfPostings(readPostings())
    writeCount("_NDOCS", n)
    writeCount("_SUMDL", sumdl)
    refreshTermStats()
    n
  }

  /** (chunk count, total tokens, postings rows) folded from a postings
    * frame in one aggregate — the per-chunk dl repeats on every
    * posting, so fold to one row per chunk first. BOTH stats paths
    * (append increments and rebuild/compaction refresh) derive from
    * postings, so a chunk that produces no postings (e.g. null text)
    * counts in neither and N stays invariant across maintenance
    * boundaries. */
  private def statsOfPostings(posts: DataFrame): (Long, Long, Long) = {
    val r = posts
      .groupBy($"doc_name", $"page_num", $"content_type", $"content_id")
      .agg(first($"dl").as("dl"), count(lit(1)).as("rows"))
      .agg(count(lit(1)), coalesce(sum($"dl"), lit(0L)), coalesce(sum($"rows"), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Keep the sidecar current with ingested text-channel records —
    * called AFTER the store write. The fresh generation stamp makes a
    * re-ingested (previously deleted) doc's postings NEWER than its
    * tombstone, so they serve immediately with no tombstone surgery.
    * Counters advance BEFORE the postings land — a crash between
    * over-counts N, which only dampens idf slightly; the reverse order
    * could under-count into df > N, where the un-clamped idf would
    * NaN. O(batch): the batch's own explode/groupBy and ONE counter
    * aggregate, written straight into `postings` in the batch's own
    * partitioning, (term, doc_name)-sorted so row-group stats prune its
    * term and doc_name runs, until a rewrite merges it. */
  def append(text: DataFrame): Unit = {
    val g = nextGen()
    val posts = graft.Tables.materialize(postingsOf(text).withColumn("gen", lit(g)))
    try {
      val (n, sumdl, rows) = statsOfPostings(posts)
      writeCount("_NDOCS", readCount("_NDOCS") + n)
      writeCount("_SUMDL", readCount("_SUMDL") + sumdl)
      writer(posts.sortWithinPartitions($"term", $"doc_name"))
        .mode(SaveMode.Append).parquet(path("postings"))
      // impact stats ride the same materialized frame AFTER the
      // postings land (a crash between leaves _PCOUNT behind the
      // footer count — MaxScore gate closed, serving stays exact)
      appendTermStats(posts, rows)
    } finally graft.Tables.release(posts)
  }

  // ─────────── MaxScore early termination (impact-ordered stats) ───────────
  //
  // `termstats` is the max-impact store MaxScore-style early
  // termination reads (Turtle & Flood 1995, public): df feeds the exact
  // idf without a postings scan, max_tf the per-term contribution upper
  // bound. Rewrites write it whole, term-sorted like `postings`; appends
  // add the batch's partial rows beside it (query-time reads aggregate
  // sum(df)/max(max_tf)). `_PCOUNT` is the torn-append detector: the
  // serving gate ([[maxScoreReady]]) only trusts the stats when it
  // matches the live postings' footer row count.

  /** Recompute `termstats` + `_PCOUNT` from the LIVE postings (the
    * rebuild/compaction path). `_PCOUNT` is deleted FIRST, so every
    * crash window inside leaves the MaxScore gate closed (full-scan
    * serving stays correct) instead of serving from torn stats. An
    * emptied sidecar writes one empty file, whose Σ df reads 0. */
  private def refreshTermStats(): Unit = {
    fs.delete(hpath("_PCOUNT"), false)
    gateCache = None
    // the stats CONTENT cache must reset with the gate cache: a
    // compaction after deletes rewrites termstats WITHOUT advancing
    // the generation (tombstone writes don't bump _GEN), and serving
    // stale df here would under-bound idf — the exactness the gate
    // exists to guarantee
    statsCache = (-1L, Map.empty)
    writeSorted(readPostings().groupBy($"term")
      .agg(count(lit(1)).as("df"), max($"tf").as("max_tf")), path("termstats"), $"term")
    // total postings rows = Σ df over the stats just written (narrow)
    val n = readTermStats()
      .agg(coalesce(sum($"df"), lit(0L))).collect()(0).getLong(0)
    writeCount("_PCOUNT", n)
  }

  /** Append a batch's partial stats (+ advance `_PCOUNT`) beside the
    * rest, term-sorted in the aggregate's own partitioning (a rewrite
    * folds them in). Skipped on a sidecar without termstats — partial-
    * only stats would be wrong, and `_PCOUNT` staying behind keeps the
    * gate closed until the next rewrite adopts. Any crash between the
    * postings append and here leaves `_PCOUNT` ≠ footer rows — gate
    * closed, serving falls back to the full scan. */
  private def appendTermStats(posts: DataFrame, postRows: Long): Unit =
    if (exists("termstats")) {
      writer(posts.groupBy($"term")
        .agg(count(lit(1)).as("df"), max($"tf").as("max_tf"))
        .sortWithinPartitions($"term"))
        .mode(SaveMode.Append).parquet(path("termstats"))
      writeCount("_PCOUNT", readCount("_PCOUNT") + postRows)
      gateCache = None
      statsCache = (-1L, Map.empty)
    }

  /** Test seam: shrink the job-B name-literal cap so the greedy
    * per-query packing is exercisable at spec scale (production uses
    * [[GraftVectorDB.InLiteralMax]]). */
  private[graft] var nameCapOverride: Option[Int] = None

  private var gateCache: Option[(Long, Boolean)] = None

  /** Whether MaxScore pruning may serve: stats must be EXACT, which
    * holds iff (a) termstats exists, (b) no tombstones (un-compacted
    * deletes shrink live df below the stats — an UNDER-estimated idf
    * bound could prune a true winner, so the gate closes until
    * [[maintain]] compacts), and (c) `_PCOUNT` matches the live
    * postings footer rows (torn appends). The footer walk is cached per
    * sidecar generation; tombstone existence is re-checked every call
    * (deletes don't advance the generation). */
  private[graft] def maxScoreReady: Boolean =
    !tombstoned && exists("termstats") && {
      val g = curGen
      gateCache match {
        case Some((cg, ok)) if cg == g => ok
        case _ =>
          val ok = readCount("_PCOUNT") == parquetRowsUnder(hpath("postings"))
          gateCache = Some((g, ok))
          ok
      }
    }

  /** Sum of parquet footer record counts under a directory tree — a
    * driver metadata read, no Spark job. */
  private def parquetRowsUnder(dir: org.apache.hadoop.fs.Path): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (!fs.exists(dir)) return 0L
    def walk(p: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(p).map { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(st.getPath, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        } else 0L
      }.sum
    walk(dir)
  }

  /** (term → (df, max_tf)) for the query's terms: term-pruned
    * stats scan, partial rows (base build + appends) folded. Exact
    * live values under the [[maxScoreReady]] gate. Results cache
    * per sidecar generation (query vocabularies repeat — the common
    * terms ARE the recurring ones), so a warm query costs no stats
    * job; zero-df terms cache too (as absent from the returned map)
    * or every query carrying a typo would re-scan. */
  @volatile private var statsCache: (Long, Map[String, (Long, Long)]) =
    (-1L, Map.empty)
  private def termStats(terms: Seq[String]): Map[String, (Long, Long)] = {
    val g = curGen
    val cached =
      if (statsCache._1 == g) statsCache._2
      else Map.empty[String, (Long, Long)]
    val missing = terms.filterNot(cached.contains)
    val merged =
      if (missing.isEmpty) cached
      else {
        val fetched = readTermStats().filter(termIn(missing))
          .groupBy($"term").agg(sum($"df").as("df"), max($"max_tf").as("max_tf"))
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        val m = cached ++ missing.map(t => t -> fetched.getOrElse(t, (0L, 0L)))
        // bounded driver state: reset rather than grow past ~64k terms
        statsCache = (g, if (m.size > 65536) m.view.take(65536).toMap else m)
        m
      }
    terms.flatMap(t => merged.get(t).filter(_._1 > 0).map(t -> _)).toMap
  }

  /** The batch BM25 top-`pool` frame — ONE partition-pruned postings
    * scan serves EVERY query of the batch (single-query serving goes
    * through it too, so the two paths cannot diverge). df counts over
    * the MATCHED postings are exact corpus-level document frequencies
    * (every live posting of a query term is in the scan), computed
    * pre-scope (stats are corpus-global; location and per-query q_loc
    * filter CANDIDATES only) and post-tombstone (deleted docs neither
    * score nor count). The per-query (q_id, term [, q_loc]) frame
    * broadcasts into the matched residue; the per-query top-`pool` is
    * the bounded [[graft.functions.expressions.TopKRows]] partial
    * aggregate with the serving-wide (score desc, row_id) tie-break.
    * Returns None when no query has terms or the sidecar is empty;
    * output (q_id, lex_rnk, doc_name, page_num, content_type,
    * content_id), collect = one Spark job. */
  private[graft] def allScanPlan(
      qTerms: Seq[(Long, Seq[String], Option[String])],
      pool: Int, location: Option[String],
      forceFull: Boolean = false, forceMaxScore: Boolean = false): Option[DataFrame] = {
    val nDocs = readCount("_NDOCS")
    val allTerms = qTerms.flatMap(_._2).distinct
    if (allTerms.isEmpty || nDocs == 0) return None
    val sumDl = readCount("_SUMDL")
    val avgdl = sumDl.toDouble / nDocs
    // MaxScore early termination serves when the corpus is big enough
    // for a "common" list to clear the engagement floor, its stats are
    // provably exact, AND a query actually carries a common term whose
    // skippable mass beats the pruned plan's fixed overhead; every
    // other shape runs the one-scan full plan (small stores never even
    // pay the stats-read job). `forceMaxScore` (specs/probes) bypasses
    // the ECONOMIC floors only — never the exactness gate.
    if (!forceFull && allTerms.length <= GraftVectorDB.InLiteralMax &&
        (forceMaxScore || nDocs >= GraftVectorDB.LexMaxScoreMinDocs) &&
        maxScoreReady)
      maxScoreScanPlan(qTerms, pool, location, nDocs, avgdl, forceMaxScore) match {
        case Some(df) => return Some(df)
        case None => ()
      }
    Some(fullScanPlan(qTerms, pool, location, nDocs, avgdl))
  }

  /** Single-query form of [[allScanPlan]] (the spec's plan-pin handle:
    * the pushed term filter ([[termIn]]), which skips every postings
    * file, row group and page whose term min/max excludes the query's
    * terms). */
  private[graft] def scanPlan(queryText: String, pool: Int,
      location: Option[String]): Option[DataFrame] =
    allScanPlan(
      Seq((0L, VectorStore.tokensLocal(queryText).distinct.toSeq, None)),
      pool, location)

  /** The one-scan BM25 plan (every matched posting of every query term
    * is read and scored; df comes from a count window over the matched
    * scan). Correct for EVERY sidecar state — the MaxScore path's
    * fallback, and the ground truth its spec pins parity against. */
  private def fullScanPlan(
      qTerms: Seq[(Long, Seq[String], Option[String])],
      pool: Int, location: Option[String],
      nDocs: Long, avgdl: Double): DataFrame = {
    val allTerms = qTerms.flatMap(_._2).distinct
    // the term filter is a scan-pruning assist (page stats on the
    // term-sorted files, see termIn) — the broadcast (q_id, term) join
    // below filters exactly either way; a huge batch's term union would
    // bloat the plan as a literal (the InLiteralMax rule), so past it
    // the scan reads every posting — a union that wide touches about
    // every file's term range anyway
    val matched = live(
      readPostings()
        .transform(df =>
          if (allTerms.length <= GraftVectorDB.InLiteralMax)
            df.filter(termIn(allTerms))
          else df))
    val withDf = matched.withColumn("df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy($"term")))
    val qt = qTerms.flatMap { case (id, ts, loc) =>
      ts.map(t => (id, t, loc.orNull)) }.toDF("q_id", "term", "q_loc")
    val joined = locScoped(withDf, location).join(broadcast(qt), "term")
    // per-query scope narrows the call-level one (both predicates
    // hold) and filters BEFORE the bounded top-k, the q_loc contract
    // every batch surface shares; an unscoped batch skips the filter
    val anyLoc = qTerms.exists(_._3.isDefined)
    val perQ =
      if (anyLoc) joined.filter($"q_loc".isNull || $"doc_name".startsWith($"q_loc"))
      else joined
    perQ
      .select($"q_id", $"doc_name", $"page_num", $"content_type", $"content_id",
        bm25Contribution(nDocs, avgdl).as("c"))
      .groupBy($"q_id", $"doc_name", $"page_num", $"content_type", $"content_id")
      .agg(round(sum($"c"), 6).as("score"))
      .transform(topPool(pool))
  }

  /** The per-posting BM25 contribution, 6dp-rounded BEFORE the per-doc
    * sum (the operator twin's accumulation-order-immunity grid) so
    * pool ranks are deterministic across plans and runs; the idf
    * numerator clamps at 0 — a stale over-appended df can exceed the
    * counter N in a crash window, and log(≤0) would NaN the score and
    * silently drop the chunk from the pool. Reads (tf, dl, df)
    * columns; the full plan's df is a count window, the MaxScore
    * plan's rides the broadcast query frame — same arithmetic. */
  private def bm25Contribution(nDocs: Long, avgdl: Double): Column = {
    val k1 = HybridSearch.K1
    val b = HybridSearch.B
    round(org.apache.spark.sql.functions.log(
        lit(1.0) + greatest(lit(0.0), lit(nDocs.toDouble) - $"df" + 0.5)
          / ($"df" + 0.5))
      * $"tf" * lit(k1 + 1)
      / ($"tf" + lit(k1) * (lit(1 - b) + lit(b) * $"dl" / avgdl)), 6)
  }

  /** Bounded per-query top-`pool` of a scored (q_id, key…, score)
    * frame → (q_id, lex_rnk, key…) with the serving-wide (score desc,
    * row_id) tie-break — the one pool definition both plans share. */
  private def topPool(pool: Int)(scored: DataFrame): DataFrame =
    scored
      .select($"q_id", $"score",
        xxhash64($"doc_name", $"content_type", $"content_id").as("row_id"),
        struct($"doc_name", $"page_num", $"content_type", $"content_id").as("meta"))
      .groupBy($"q_id")
      .agg(graft.functions.expressions.TopKRows(
        $"score", $"row_id", $"meta", pool).as("top"))
      .select($"q_id", posexplode($"top"))
      .select($"q_id", ($"pos" + 1).cast("long").as("lex_rnk"),
        $"col.payload.doc_name", $"col.payload.page_num",
        $"col.payload.content_type", $"col.payload.content_id")

  /** MaxScore early termination (Turtle & Flood 1995, public),
    * re-shaped for a scan engine: a COMMON query term's posting list
    * is linear in the corpus, so past ~10⁹ chunks scanning it per
    * query is the serving wall (SURVEY §8 item 14). Per-term impact
    * bounds from the stats sidecar cap what any posting can
    * contribute, so:
    *
    *  1. job A fully scores the RARE (low-df) terms only — the scan
    *     the full plan already does, minus the huge lists;
    *  2. θ_q = the pool-th best partial score is a LOWER bound on the
    *     pool-th best full score (contributions are non-negative);
    *  3. a doc matching ONLY common terms scores ≤ Σ U_common; when
    *     that sits below θ_q, no such doc can enter the pool — the
    *     common lists need scoring ONLY for the rare-matched
    *     candidates whose partial + Σ U_common reaches θ_q;
    *  4. job B reads the common lists with the candidate doc_names
    *     PUSHED into the scan — the postings files are doc_name-sorted
    *     within each term run, so parquet row-group stats skip the
    *     bulk of the list (the layout's block-skip seam, now used).
    *
    * Results are EXACTLY the full plan's (same contributions, same 6dp
    * grid, same tie-break; candidates provably contain every pool
    * member). Per-query fallbacks keep it total: no rare terms, θ
    * undefined (fewer than pool rare matches in scope), Σ U_common ≥
    * θ, or candidate fan-out past the In-literal cap → that query runs
    * the full plan; returns None when NO query prunes. Cost: the stats
    * read + job A + (when common terms exist) the name-pruned job B —
    * each bounded by rare-df/candidate size, never by the common
    * lists' length. */
  private def maxScoreScanPlan(
      qTerms: Seq[(Long, Seq[String], Option[String])],
      pool: Int, location: Option[String],
      nDocs: Long, avgdl: Double, force: Boolean): Option[DataFrame] = {
    val k1 = HybridSearch.K1
    val b = HybridSearch.B
    val eps = 1e-6
    val stats = termStats(qTerms.flatMap(_._2).distinct)
    def idfOf(df: Long): Double =
      math.log(1.0 + math.max(0.0, nDocs.toDouble - df + 0.5) / (df + 0.5))
    def ceil6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.CEILING).toDouble
    // upper bound on ONE rounded contribution of the term: idf exact
    // (gate-exact df), tf-norm at dl → 0 (avgdl-free) and tf = max_tf
    // (monotone in tf), rounded UP onto the 6dp grid
    def uBound(t: String): Double = {
      val (df, maxTf) = stats(t)
      ceil6(idfOf(df) * maxTf * (k1 + 1) / (maxTf + k1 * (1 - b)))
    }
    val commonCap = nDocs / GraftVectorDB.LexCommonDfFrac
    val qInfo = qTerms.map { case (id, ts0, loc) =>
      val ts = ts0.distinct.filter(stats.contains) // absent = no postings
      val (common, rare) = ts.partition(t => stats(t)._1 > commonCap)
      (id, rare, common, loc)
    }
    // no common term anywhere → the full plan's term-pruned scan is
    // already bounded by the rare dfs; nothing to terminate early
    if (!qInfo.exists(_._3.nonEmpty)) return None
    // economic floor: the skippable mass must clear the pruned plan's
    // fixed multi-job overhead (see LexMaxScoreMinCommonRows)
    if (!force && qInfo.flatMap(_._3).distinct.map(stats(_)._1).sum <
        GraftVectorDB.LexMaxScoreMinCommonRows) return None
    val aQ = qInfo.filter(_._2.nonEmpty) // queries that can establish θ
    if (aQ.isEmpty) return None // all-common queries: the answer IS the big scan
    // ---- job A: full scoring over RARE terms only ----
    val rareQt = aQ.flatMap { case (id, rs, _, loc) =>
      rs.map(t => (id, t, stats(t)._1, loc.orNull)) }
      .toDF("q_id", "term", "df", "q_loc")
    val rareTerms = aQ.flatMap(_._2).distinct
    // the gate holds (no tombstones), so the raw read IS the live set
    val rScan = readPostings().filter(termIn(rareTerms))
    val anyLoc = qInfo.exists(_._4.isDefined)
    def qScoped(df: DataFrame): DataFrame =
      if (anyLoc) df.filter($"q_loc".isNull || $"doc_name".startsWith($"q_loc"))
      else df
    val partials = graft.Tables.materialize(
      qScoped(locScoped(rScan, location).join(broadcast(rareQt), "term"))
        .select($"q_id", $"doc_name", $"page_num", $"content_type", $"content_id",
          bm25Contribution(nDocs, avgdl).as("c"))
        .groupBy($"q_id", $"doc_name", $"page_num", $"content_type", $"content_id")
        .agg(sum($"c").as("partial")))
    val theta: Map[Long, Double] = partials
      .select($"q_id", round($"partial", 6).as("s"),
        xxhash64($"doc_name", $"content_type", $"content_id").as("row_id"),
        struct($"doc_name").as("meta"))
      .groupBy($"q_id")
      .agg(graft.functions.expressions.TopKRows(
        $"s", $"row_id", $"meta", pool).as("top"))
      .select($"q_id", $"top").collect()
      .flatMap { r =>
        val top = r.getSeq[org.apache.spark.sql.Row](1)
        if (top.length >= pool) Some(r.getLong(0) -> top(pool - 1).getDouble(0))
        else None // under-filled scope: θ undefined, query falls back
      }.toMap
    val pc: Map[Long, Double] =
      qInfo.map { case (id, _, cs, _) => id -> cs.map(uBound).sum }.toMap
    // a query prunes iff θ exists and the common bounds sit below it
    var prunedIds = aQ.map(_._1)
      .filter(id => theta.contains(id) && pc(id) <= theta(id) - eps).toSet
    if (prunedIds.isEmpty) { graft.Tables.release(partials); return None }
    val commonPruned0 = qInfo.filter(q => prunedIds.contains(q._1) && q._3.nonEmpty)
    // candidate-name fan-out cap: job B pushes the name union as an IN
    // literal, so it must fit InLiteralMax. Never abandon the WHOLE
    // batch when the union is too wide — keep queries greedily
    // (smallest per-query fan-out first) while the summed fan-outs fit
    // the cap (Σ per-query counts ≥ |union|, so the kept union always
    // fits); only the dropped queries take the full plan.
    val (names: Seq[String], commonKeptIds: Set[Long]) =
      if (commonPruned0.isEmpty) (Nil, Set.empty[Long])
      else {
        val candFrame = partials
          .filter($"q_id".isin(commonPruned0.map(_._1): _*))
          .join(broadcast(commonPruned0.map(q => (q._1, theta(q._1), pc(q._1)))
            .toDF("q_id", "th", "pc")), "q_id")
          .filter($"partial" + $"pc" >= $"th" - eps)
        // one row per pruned query — bounded driver state
        val fanout = candFrame.groupBy($"q_id")
          .agg(countDistinct($"doc_name").as("n")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val cap = nameCapOverride.getOrElse(GraftVectorDB.InLiteralMax).toLong
        val keptIds = GraftVectorDB.greedyNameBudget(
          commonPruned0.map(q => q._1 -> fanout.getOrElse(q._1, 0L)), cap)
        val nm =
          if (keptIds.isEmpty) Nil
          else candFrame.filter($"q_id".isin(keptIds.toSeq: _*))
            .select($"doc_name").distinct()
            .limit(cap.toInt + 1)
            .collect().map(_.getString(0)).toSeq
        if (nm.length > cap) (Nil, Set.empty[Long])
        else (nm, keptIds)
      }
    // over-cap queries fall back to the full plan individually
    prunedIds --= commonPruned0.map(_._1).filterNot(commonKeptIds)
    if (prunedIds.isEmpty) { graft.Tables.release(partials); return None }
    val thetaDf = prunedIds.toSeq.sorted
      .map(id => (id, theta(id), pc(id))).toDF("q_id", "th", "pc")
    val cands = partials.join(broadcast(thetaDf), "q_id")
      .filter($"partial" + $"pc" >= $"th" - eps)
    val commonPruned = commonPruned0.filter(q => commonKeptIds(q._1))
    val scored =
      if (commonPruned.isEmpty)
        cands.select($"q_id", $"doc_name", $"page_num", $"content_type",
          $"content_id", round($"partial", 6).as("score"))
      else {
        // ---- job B: common lists, candidate-name-pruned ----
        val cQt = commonPruned.flatMap { case (id, _, cs, loc) =>
          cs.map(t => (id, t, stats(t)._1, loc.orNull)) }
          .toDF("q_id", "term", "df", "q_loc")
        val cTerms = commonPruned.flatMap(_._3).distinct
        val cScan = readPostings()
          .filter(termIn(cTerms))
          .filter($"doc_name".isin(names: _*))
        val cc = qScoped(locScoped(cScan, location).join(broadcast(cQt), "term"))
          .select($"q_id", $"doc_name", $"page_num", $"content_type",
            $"content_id", bm25Contribution(nDocs, avgdl).as("c"))
          .groupBy($"q_id", $"doc_name", $"page_num", $"content_type",
            $"content_id")
          .agg(sum($"c").as("cc"))
        cands.join(cc,
            Seq("q_id", "doc_name", "page_num", "content_type", "content_id"),
            "left_outer")
          .select($"q_id", $"doc_name", $"page_num", $"content_type",
            $"content_id",
            round($"partial" + coalesce($"cc", lit(0.0)), 6).as("score"))
      }
    val prunedDf = scored.transform(topPool(pool))
    val fullQ = qTerms.filter(q => !prunedIds.contains(q._1))
    Some(if (fullQ.isEmpty) prunedDf
      else prunedDf.unionByName(
        fullScanPlan(fullQ, pool, location, nDocs, avgdl)))
  }
}

private[graft] object LexicalSidecar {
  val PostingsSchema: StructType = new StructType()
    .add("doc_name", "string").add("page_num", "long")
    .add("content_type", "string").add("content_id", "string")
    .add("dl", "long").add("term", "string").add("tf", "long")
    .add("gen", "long")

  val TermStatsSchema: StructType = new StructType()
    .add("term", "string").add("df", "long").add("max_tf", "long")
}
