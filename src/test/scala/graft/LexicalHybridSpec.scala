package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{GraftVectorDB, HybridSearch, VectorStore}

/** The lexical (BM25) sidecar + store-level hybrid serving: a
  * persisted inverted index over the text channel's chunks (flat,
  * term-sorted postings, the neardup sidecar protocol) fused with the
  * vector channel by RRF. The value-level ground truth is an
  * independent plain-Scala BM25/RRF model over the same store rows;
  * the plan pins and scan metrics hold the scale shape (a stats-pruned
  * postings lookup). The operator-level vs_hybrid entry carries the DuckDB
  * oracle for the fusion algebra itself. */
class LexicalHybridSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def rmRf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmRf))
    f.delete()
  }

  private def docsFrame(rows: Seq[(Long, String)], source: String = "lex") =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit(source))

  // distinct vocabularies so BM25 scores separate cleanly (expected
  // rankings must not hinge on float summation order)
  private val corpus = Seq(
    1L -> "alpha beta gamma delta epsilon alpha beta common",
    2L -> "alpha alpha alpha zeta eta common filler words here",
    3L -> "completely unrelated text about sailing ships common",
    4L -> "beta beta delta theta iota kappa lambda common",
    5L -> "quantum flux capacitor engages the temporal drive common")

  type Key = (String, Long, String, String)

  /** Plain-Scala BM25 over the store's text-channel chunks — the
    * independent model the Spark path must reproduce. */
  private def scalaBm25(rows: Seq[(Key, String)], query: String,
      loc: Option[String]): Seq[(Key, Double)] = {
    val toks = rows.map { case (k, raw) => k -> VectorStore.tokensLocal(raw).toSeq }
    val n = toks.size
    val avgdl = toks.map(_._2.size).sum.toDouble / n
    val qTerms = VectorStore.tokensLocal(query).distinct.toSeq
    val df = qTerms.map(t => t -> toks.count(_._2.contains(t))).toMap
    toks.filter { case (k, _) => loc.forall(k._1.startsWith) }
      .map { case (k, tk) =>
        // 6dp per-term grid then a 6dp sum — the serving plan's
        // accumulation-order-immune rounding, mirrored exactly
        val score = r6(qTerms.map { t =>
          val tf = tk.count(_ == t).toDouble
          if (tf == 0 || df(t) == 0) 0.0
          else r6(math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5)) *
            tf * (HybridSearch.K1 + 1) /
            (tf + HybridSearch.K1 * (1 - HybridSearch.B +
              HybridSearch.B * tk.size / avgdl)))
        }.sum)
        k -> score
      }
      .filter(_._2 > 0)
      .sortBy { case (k, s) => (-s, k._1, k._3, k._4) }
  }

  private def r6(x: Double) =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("tokensLocal is bit-identical to the SQL tokenizer on edge inputs") {
    val cases = Seq("", " ", "  a  b ", "a\tb\nc", " nbsp stays",
      "tab\tends ", " unicode ☃ snowman ", "x", "a  ", "  a")
    val sql = cases.toDF("t")
      .select(graft.functions.TextFunctions.tokens($"t").as("tk"))
      .collect().map(_.getSeq[String](0).toSeq)
    cases.map(VectorStore.tokensLocal(_).toSeq).zip(sql).zipWithIndex.foreach {
      case ((local, viaSql), i) =>
        assert(local == viaSql, s"case ${i}: '${cases(i)}'")
    }
  }

  test("hybrid lifecycle: BM25 parity, fusion parity, append, delete, compaction") {
    val dir = "target/vdb_lexical_spec"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    db.ingest(docsFrame(corpus))
    assert(!db.lexicalIndexed)
    val err = intercept[IllegalArgumentException](db.searchHybrid("alpha"))
    assert(err.getMessage.contains("indexLexical"))

    val indexed = db.indexLexical()
    assert(db.lexicalIndexed)
    val storeRows: Seq[(Key, String)] = db.store
      .filter($"content_type".isin("text_chunk", "image_caption"))
      .select($"doc_name", $"page_num", $"content_type", $"content_id", $"content_raw")
      .collect().map(r => ((r.getString(0), r.getLong(1), r.getString(2),
        r.getString(3)), r.getString(4))).toSeq
    assert(indexed == storeRows.size)

    // ---- fused result == plain-Scala RRF(scala BM25, exact search) ----
    val query = "alpha beta common"
    val lexExp = scalaBm25(storeRows, query, None)
      .take(GraftVectorDB.HybridPool).map(_._1).zipWithIndex
      .map { case (k, i) => k -> (i + 1) }.toMap
    val vecExp = db.searchIn("text", query, GraftVectorDB.HybridPool).collect()
      .map(r => ((r.getAs[String]("doc_name"), r.getAs[Long]("page_num"),
        r.getAs[String]("content_type"), r.getAs[String]("content_id")),
        r.getAs[Long]("rnk").toInt)).toMap
    val expected = (lexExp.keySet ++ vecExp.keySet).toSeq
      .map { k =>
        (k, r6(lexExp.get(k).map(r => 1.0 / (GraftVectorDB.RrfK + r)).getOrElse(0.0) +
          vecExp.get(k).map(r => 1.0 / (GraftVectorDB.RrfK + r)).getOrElse(0.0)))
      }
      .sortBy { case (k, rrf) => (-rrf, k._1, k._3, k._4) }
      .take(5)
    val got = db.searchHybrid(query, 5).collect()
      .map(r => ((r.getAs[String]("doc_name"), r.getAs[Long]("page_num"),
        r.getAs[String]("content_type"), r.getAs[String]("content_id")),
        r.getAs[Double]("rrf_r"), r.getAs[Long]("rnk")))
    assert(got.map(_._3).toSeq == (1L to got.length).toSeq, "contiguous ranks")
    assert(got.map(g => (g._1, g._2)).toSeq == expected,
      s"fusion parity:\n got ${got.toSeq}\n exp $expected")
    // channel attribution: a row in both pools carries both ranks
    val both = db.searchHybrid(query, 5).collect()
      .filter(r => !r.isNullAt(r.fieldIndex("lex_rnk")) &&
        !r.isNullAt(r.fieldIndex("ann_rnk")))
    assert(both.nonEmpty, "some fused hit must combine both channels")
    // content_raw present on every row (BM25-only hits fetch it)
    db.searchHybrid(query, 5).collect().foreach(r =>
      assert(r.getAs[String]("content_raw") != null))

    // ---- plan pin: the postings lookup pushes the term filter (what
    // it skips is pinned by "term lookups read the pages ...") ----
    val plan = db.lexical.scanPlan(query, 5, None).get
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("term"),
      s"term filter not pushed:\n$plan")

    // ---- location scope filters candidates (stats stay corpus-global) ----
    val loc = Some(storeRows.head._1._1) // exactly one doc's folder/file
    val scoped = db.searchHybrid(query, 5, location = loc).collect()
    assert(scoped.nonEmpty)
    assert(scoped.forall(_.getAs[String]("doc_name").startsWith(loc.get)))

    // ---- ingest keeps the sidecar current: a unique term becomes
    // findable with no reindex ----
    db.ingest(docsFrame(Seq(9L -> "xylophone zymurgy unique signal terms")))
    val fresh = db.searchHybrid("xylophone zymurgy", 3).collect()
    assert(fresh.nonEmpty && fresh.head.getAs[String]("doc_name").contains("doc_9"),
      s"appended doc must surface lexically: ${fresh.toSeq}")
    // counters advanced with the batch (exactly one new chunk here)
    assert(db.searchHybrid("alpha beta common", 5).collect().nonEmpty)

    // ---- delete tombstones the sidecar: the victim never surfaces ----
    val victim = fresh.head.getAs[String]("doc_name")
    db.delete(Seq(victim))
    val after = db.searchHybrid("xylophone zymurgy", 3).collect()
    assert(!after.exists(_.getAs[String]("doc_name") == victim),
      s"deleted doc resurfaced: ${after.toSeq}")

    // ---- compaction drops tombstoned postings and recomputes stats;
    // results invariant; maintainStore sweeps the tombstoned sidecar ----
    val before = db.searchHybrid(query, 5).collect()
      .map(r => (r.getAs[String]("doc_name"), r.getAs[Double]("rrf_r"))).toSeq
    db.maintainStore()
    assert(!new java.io.File(s"$dir/lexical/tombstones").exists)
    val afterCompact = db.searchHybrid(query, 5).collect()
      .map(r => (r.getAs[String]("doc_name"), r.getAs[Double]("rrf_r"))).toSeq
    assert(afterCompact == before, "compaction must not change results")
    val postDocs = spark.read.parquet(s"$dir/lexical/postings")
      .select($"doc_name").distinct().collect().map(_.getString(0))
    assert(!postDocs.contains(victim), "compaction must drop tombstoned postings")
  }

  test("searchAllHybrid: per-query parity with singles, incl. q_loc scopes") {
    val dir = "target/vdb_lexical_batch"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    db.ingest(docsFrame(corpus))
    db.indexLexical()
    val someDoc = db.store.select($"doc_name").orderBy($"doc_name")
      .limit(1).collect()(0).getString(0)
    // three queries: unscoped, term-less overlap, and a q_loc-scoped one
    val queries = Seq(
      (1L, "alpha beta common", null),
      (2L, "sailing ships", null),
      (3L, "alpha common", someDoc)).toDF("q_id", "q_text", "q_loc")
    val batch = db.searchAllHybrid(queries, 5).collect()
      .groupBy(_.getAs[Long]("q_id"))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("rnk"), r.getAs[Double]("rrf_r"),
        r.getAs[String]("doc_name"), r.getAs[String]("content_id"),
        r.getAs[String]("content_raw"))).toSeq
    def batchRowsOf(qid: Long) = batch.getOrElse(qid, Array.empty).map(r =>
      (r.getAs[Long]("rnk"), r.getAs[Double]("rrf_r"),
        r.getAs[String]("doc_name"), r.getAs[String]("content_id"),
        r.getAs[String]("content_raw"))).toSeq.sortBy(_._1)
    assert(batchRowsOf(1L) == rowsOf(db.searchHybrid("alpha beta common", 5)))
    assert(batchRowsOf(2L) == rowsOf(db.searchHybrid("sailing ships", 5)))
    // the scoped query equals the single at its own effective scope
    assert(batchRowsOf(3L) ==
      rowsOf(db.searchHybrid("alpha common", 5, location = Some(someDoc))))
    assert(batchRowsOf(3L).nonEmpty &&
      batchRowsOf(3L).forall(_._3 == someDoc), "q_loc must scope query 3")
  }

  test("streamed docs become lexically findable; answerHybrid serves the fused top hit") {
    val dir = "target/vdb_lexical_stream"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    db.ingest(docsFrame(corpus.take(3)))
    db.indexLexical()
    // a micro-batch through ingestStream rides the same ingest() ->
    // appendLexical path as batch ingest: the streamed doc's unique
    // terms resolve through the sidecar with no reindex
    val srcDir = new java.io.File(s"$dir/stream_src")
    srcDir.mkdirs()
    val planted = docsFrame(Seq(77L -> "wombat quokka freshness sentinel"))
    planted.write.mode("append").parquet(srcDir.toString)
    db.ingestStream(
      spark.readStream.schema(planted.schema).parquet(srcDir.toString),
      s"$dir/ckpt").awaitTermination()
    val hits = db.searchHybrid("wombat quokka", 3).collect()
    assert(hits.nonEmpty && hits.head.getAs[String]("doc_name").contains("doc_77"),
      s"streamed doc must be lexically findable: ${hits.toSeq}")
    val (resp, _) = db.answerHybrid("wombat quokka")
    assert(resp.contains("doc_77") && resp.startsWith("[extractive]"), resp)
  }

  test("re-ingest after delete revokes the tombstone; compaction keeps the doc") {
    val dir = "target/vdb_lexical_revoke"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    db.ingest(docsFrame(corpus.take(2)))
    db.indexLexical()
    db.ingest(docsFrame(Seq(88L -> "quasar nebula sentinel terms")))
    val name = db.searchHybrid("quasar nebula", 3).collect()
      .head.getAs[String]("doc_name")
    db.delete(Seq(name))
    assert(db.searchHybrid("quasar nebula", 3).collect()
      .forall(_.getAs[String]("doc_name") != name))
    // the delete freed the content hash: the SAME doc re-ingests, and
    // its fresh postings must not stay shadowed by the old tombstone
    assert(db.ingest(docsFrame(Seq(88L -> "quasar nebula sentinel terms"))) > 0)
    val back = db.searchHybrid("quasar nebula", 3).collect()
    assert(back.exists(_.getAs[String]("doc_name") == name),
      s"re-ingested doc shadowed by its tombstone: ${back.toSeq}")
    // compaction must not make the shadowing permanent either
    db.maintainStore()
    assert(db.searchHybrid("quasar nebula", 3).collect()
      .exists(_.getAs[String]("doc_name") == name))
  }

  test("a deleted _GEN self-heals: the next append stamps above every stamped row and tombstone") {
    val dir = "target/vdb_lexical_gen_heal"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    db.ingest(docsFrame(corpus.take(2)))
    db.indexLexical()
    db.ingest(docsFrame(Seq(77L -> "pulsar quasar lantern")))
    val name = db.searchHybrid("pulsar quasar", 3).collect().head.getAs[String]("doc_name")
    db.delete(Seq(name))
    def stamps(sub: String, ddl: String, column: String): Seq[Long] =
      spark.read.schema(ddl).parquet(s"$dir/lexical/$sub").select(column)
        .collect().map(_.getLong(0)).toSeq
    val rowGens = stamps("postings", "doc_name string, gen long", "gen")
    val tombGens = stamps("tombstones", "doc_name string, tgen long", "tgen")
    assert(rowGens.nonEmpty && tombGens.nonEmpty)
    val highest = (rowGens ++ tombGens).max
    assert(new java.io.File(s"$dir/lexical/_GEN").delete())
    db.ingest(docsFrame(Seq(78L -> "meridian sextant azimuth")))
    val fresh = spark.read.schema("doc_name string, gen long")
      .parquet(s"$dir/lexical/postings").filter($"doc_name".endsWith("/doc_78.txt"))
      .select("gen").distinct().collect().map(_.getLong(0)).toSeq
    assert(fresh == Seq(highest + 1),
      s"the append must stamp above every stamped row and tombstone ($highest): $fresh")
    val gen = scala.io.Source.fromFile(s"$dir/lexical/_GEN")
    try assert(gen.mkString.trim.toLong == highest + 1) finally gen.close()
    // the deleted doc stays suppressed, the new one serves
    assert(db.searchHybrid("pulsar quasar", 3).collect()
      .forall(_.getAs[String]("doc_name") != name))
    assert(db.searchHybrid("meridian sextant", 3).collect()
      .head.getAs[String]("doc_name").endsWith("/doc_78.txt"))
  }

  test("deleting every doc then compacting leaves a servable empty sidecar") {
    val dir = "target/vdb_lexical_empty"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    db.ingest(docsFrame(corpus.take(2)))
    db.indexLexical()
    val names = db.store.select($"doc_name").distinct()
      .collect().map(_.getString(0))
    db.delete(names.toSeq)
    db.maintainStore() // compacts the fully-tombstoned sidecar: must not crash
    assert(db.searchHybrid("alpha common", 5).collect().isEmpty,
      "an emptied store serves an empty result, not an error")
    // the sidecar stays live: a fresh ingest is findable again
    db.ingest(docsFrame(Seq(99L -> "phoenix rebirth sentinel")))
    assert(db.searchHybrid("phoenix rebirth", 3).collect().nonEmpty)
  }

  test("crashed lexical rewrite recovers: live restored from .old_, residue cleared") {
    val dir = "target/vdb_lexical_crash"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    db.ingest(docsFrame(corpus.take(3)))
    db.indexLexical()
    val before = db.searchHybrid("alpha common", 5).collect()
      .map(r => (r.getAs[String]("doc_name"), r.getAs[Double]("rrf_r"))).toSeq
    // simulate the between-renames crash window of maintainLexical:
    // live moved aside to .old_, a stale .tmp_ left behind
    val lex = new java.io.File(s"$dir/lexical")
    val live = new java.io.File(lex, "postings")
    val old = new java.io.File(lex, ".old_postings")
    val tmp = new java.io.File(lex, ".tmp_postings")
    assert(live.renameTo(old))
    tmp.mkdirs()
    new java.io.File(tmp, "garbage.parquet").createNewFile()
    // any entrypoint converges: lexicalIndexed itself triggers recovery
    assert(db.lexicalIndexed, "sidecar must recover from the crash window")
    assert(live.exists && !old.exists && !tmp.exists,
      "recovery must restore live and clear residue")
    val after = db.searchHybrid("alpha common", 5).collect()
      .map(r => (r.getAs[String]("doc_name"), r.getAs[Double]("rrf_r"))).toSeq
    assert(after == before, "recovered sidecar must serve identically")
  }

  test("indexLexical rebuild converges after deletes and re-ingest") {
    val dir = "target/vdb_lexical_rebuild"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    db.ingest(docsFrame(corpus.take(3)))
    db.indexLexical()
    db.ingest(docsFrame(Seq(7L -> "brand new follow-up content common")))
    // a full rebuild from the live store equals the incremental state:
    // same query, same fused result
    val incr = db.searchHybrid("alpha common", 5).collect()
      .map(r => (r.getAs[String]("doc_name"), r.getAs[Double]("rrf_r"))).toSeq
    db.indexLexical()
    val rebuilt = db.searchHybrid("alpha common", 5).collect()
      .map(r => (r.getAs[String]("doc_name"), r.getAs[Double]("rrf_r"))).toSeq
    assert(rebuilt == incr, s"rebuild != incremental:\n $rebuilt\n $incr")
  }

  test("hybrid x PQ: exhaustive PQ fusion == exact fusion; scopes compose; warm jobs pinned") {
    val dir = "target/vdb_lexical_pq"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    db.ingest(docsFrame(corpus))
    db.indexLexical()
    db.buildAnnIndex(cells = 4)
    val rows = spark.read.parquet(db.annPath("text")).count().toInt
    val q = "alpha beta common"
    def keyAll(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[Double]("rrf_r"),
        Option(r.getAs[java.lang.Long]("lex_rnk")).map(_.toLong),
        Option(r.getAs[java.lang.Long]("ann_rnk")).map(_.toLong),
        r.getAs[String]("doc_name"), r.getAs[String]("content_id"))).toSeq
    // RRF fuses ranks, so the exhaustive PQ config (every cell probed,
    // channel-sized shortlist → exact cosine re-rank over everything)
    // must reproduce the exact-vector fusion VERBATIM
    val exact = keyAll(db.searchHybrid(q, 5, vector = "exact"))
    val pqFused = keyAll(db.searchHybrid(q, 5, vector = "pq",
      nProbe = 4, shortlist = rows))
    assert(pqFused == exact, s"pq-fused != exact-fused:\n $pqFused\n $exact")
    // scopes compose on the PQ path exactly as on the exact path —
    // call-level location AND per-query q_loc, both under-filled
    // scopes included (escalation ≡ exact is the PQ surface's own
    // contract; fusion must not disturb it)
    val loc = Some("corpus/lex/doc_1")
    assert(keyAll(db.searchHybrid(q, 2, loc, vector = "pq",
        nProbe = 4, shortlist = rows)) ==
      keyAll(db.searchHybrid(q, 2, loc, vector = "exact")))
    val batchQ = Seq((1L, q, null), (2L, "quantum flux capacitor", null),
      (3L, q, "corpus/lex/doc_2")).toDF("q_id", "q_text", "q_loc")
    val batch = db.searchAllHybrid(batchQ, 5, vector = "pq",
      nProbe = 4, shortlist = rows).collect()
      .groupBy(_.getAs[Long]("q_id"))
    Seq((1L, q, None), (2L, "quantum flux capacitor", None),
      (3L, q, Some("corpus/lex/doc_2"))).foreach { case (id, qt, qloc) =>
        val single = db.searchHybrid(qt, 5, qloc, vector = "pq",
          nProbe = 4, shortlist = rows).collect()
          .map(r => (r.getAs[Long]("rnk"), r.getAs[String]("doc_name"),
            r.getAs[Double]("rrf_r"))).toSeq
        val got = batch.getOrElse(id, Array.empty)
          .map(r => (r.getAs[Long]("rnk"), r.getAs[String]("doc_name"),
            r.getAs[Double]("rrf_r"))).toSeq
        assert(got == single, s"batch/single divergence for q$id")
      }
    // warm job pin, relative: the PQ fusion must cost exactly the PQ
    // surface's own pinned 2 scans (ADC shortlist + fetch) where the
    // exact fusion pays its 1 exact scan — i.e. the lexical half and
    // the fusion add NOTHING path-dependent (the absolute count
    // includes the lexical plan's AQE broadcast sub-jobs, identical
    // in both runs)
    def countJobs(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try { body; org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark) }
      finally spark.sparkContext.removeSparkListener(listener)
      n.get()
    }
    db.searchHybrid(q, 5, vector = "pq", nProbe = 4, shortlist = rows).collect()
    db.searchHybrid(q, 5, vector = "exact").collect()
    val nPq = countJobs(
      db.searchHybrid(q, 5, vector = "pq", nProbe = 4, shortlist = rows).collect())
    val nExact = countJobs(db.searchHybrid(q, 5, vector = "exact").collect())
    assert(nPq <= nExact + 1,
      s"PQ fusion must add only the PQ surface's own extra scan: $nPq vs $nExact")
    // unknown path name fails loudly
    val err = intercept[IllegalArgumentException](db.searchHybrid(q, 5, vector = "hnsw"))
    assert(err.getMessage.contains("unknown vector path"))
  }

  test("MaxScore stats track deletes through compaction (no stale-cache ranks)") {
    // deletes don't advance the sidecar generation, so a stats cache
    // keyed on it alone would serve PRE-delete df after maintainStore
    // rewrote termstats — constructed so stale df flips the RANK ORDER
    // between two rare terms, which the rank-only parity checks catch
    val dir = "target/vdb_lexical_stale"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    val docs = (0 until 600).map { i =>
      val extra =
        if (i < 5) " rarealpha"
        else if (i >= 10 && i < 16) " rarebeta"
        else ""
      (i.toLong, s"filler$i stopzz body unique$i words$extra")
    }
    db.ingest(docsFrame(docs, source = "st"))
    db.indexLexical()
    val qt = Seq((0L, Seq("rarealpha", "rarebeta", "stopzz"), Option.empty[String]))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("lex_rnk"), r.getAs[String]("doc_name"))).toSeq
    def pruned() = rowsOf(db.lexical.allScanPlan(qt, 8, None,
      forceFull = false, forceMaxScore = true).get)
    def full() = rowsOf(db.lexical.allScanPlan(qt, 8, None, forceFull = true).get)
    // warm the stats cache at the pre-delete dfs (alpha df 5 < beta 6
    // → alpha docs outrank beta docs)
    assert(pruned() == full())
    // delete 3 beta docs: live df(beta) = 3 < df(alpha) = 5 — the
    // order between the families flips
    db.deleteWhere(col("doc_name").rlike("/doc_1[345]\\.txt$"))
    db.maintainStore() // clears tombstones, rewrites termstats, bumps gen
    assert(db.lexical.maxScoreReady, "compaction must reopen the gate")
    assert(pruned() == full(),
      "post-compaction MaxScore must rank on LIVE stats, not the cached dfs")
  }

  test("cross-instance MaxScore caches invalidate when the writer compacts (gen bump)") {
    // a SECOND live instance serving the same store keys its gate and
    // stats caches on _GEN; deletes alone don't advance it, so
    // maintainLexical must — otherwise the reader's pre-delete warm
    // cache sees the gate reopen (no tombstones, _PCOUNT consistent)
    // and ranks with stale per-term df
    val dir = "target/vdb_lexical_stale_xinst"
    rmRf(new java.io.File(dir))
    val writer = new GraftVectorDB(spark, dir)
    val docs = (0 until 600).map { i =>
      val extra =
        if (i < 5) " rarealpha"
        else if (i >= 10 && i < 16) " rarebeta"
        else ""
      (i.toLong, s"filler$i stopzz body unique$i words$extra")
    }
    writer.ingest(docsFrame(docs, source = "xi"))
    writer.indexLexical()
    val reader = new GraftVectorDB(spark, dir) // independent caches
    val qt = Seq((0L, Seq("rarealpha", "rarebeta", "stopzz"), Option.empty[String]))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("lex_rnk"), r.getAs[String]("doc_name"))).toSeq
    def prunedR() = rowsOf(reader.lexical.allScanPlan(qt, 8, None,
      forceFull = false, forceMaxScore = true).get)
    def fullR() = rowsOf(reader.lexical.allScanPlan(qt, 8, None, forceFull = true).get)
    // warm the READER's gate + stats caches at the pre-delete dfs
    assert(reader.lexical.maxScoreReady)
    assert(prunedR() == fullR())
    // the WRITER deletes 3 beta docs and compacts; the reader never
    // touched its own caches in between
    writer.deleteWhere(col("doc_name").rlike("/doc_1[345]\\.txt$"))
    writer.maintainStore()
    assert(reader.lexical.maxScoreReady, "compaction must reopen the reader's gate")
    assert(prunedR() == fullR(),
      "the second instance must rank on live stats after the writer compacts")
  }

  test("MaxScore name-cap: over-budget queries fall back ALONE, not the whole batch") {
    // greedy packing is deterministic and individual
    import graft.operators.GraftVectorDB.greedyNameBudget
    assert(greedyNameBudget(Seq(0L -> 4L, 1L -> 40L), 8) == Set(0L))
    assert(greedyNameBudget(Seq(0L -> 4L, 1L -> 40L), 60) == Set(0L, 1L))
    assert(greedyNameBudget(Seq(2L -> 5L, 3L -> 5L, 4L -> 5L), 11) == Set(2L, 3L))
    assert(greedyNameBudget(Nil, 8) == Set.empty[Long])
    // end-to-end: one narrow query (4 candidates) + one wide query
    // (40 candidates) under a cap of 8 — the wide query must take the
    // full plan while the narrow one KEEPS MaxScore pruning; both stay
    // exact. (Pre-fix behavior: the union over-capped and BOTH fell
    // back — no job B anywhere in the plan.)
    val dir = "target/vdb_lexical_namecap"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    val docs = (0 until 600).map { i =>
      val rare =
        if (i % 150 == 1) " zanzibarq"
        else if (i % 15 == 0) " widefanq"
        else ""
      (i.toLong, s"filler$i stopzz body unique$i words$rare")
    }
    db.ingest(docsFrame(docs, source = "nc"))
    db.indexLexical()
    db.lexical.nameCapOverride = Some(8)
    val qt = Seq(
      (0L, Seq("zanzibarq", "stopzz"), Option.empty[String]),
      (1L, Seq("widefanq", "stopzz"), Option.empty[String]))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("lex_rnk"),
        r.getAs[String]("doc_name"))).sortBy(t => (t._1, t._2)).toSeq
    val restoreAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pruned = db.lexical.allScanPlan(qt, 3, None,
        forceFull = false, forceMaxScore = true).get
      val prunedRows = rowsOf(pruned)
      val fullRows = rowsOf(db.lexical.allScanPlan(qt, 3, None, forceFull = true).get)
      assert(prunedRows == fullRows && prunedRows.size == 6,
        s"capped MaxScore must stay exact:\n pruned $prunedRows\n full $fullRows")
      // job B survived for the narrow query: a bounded candidate-name
      // IN filter gates the common-term scan
      val nameFilters = pruned.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.toString.contains("doc_name") &&
              f.condition.toString.contains(" IN ") => f
      }
      assert(nameFilters.nonEmpty,
        "the narrow query must keep its candidate-pruned common scan")
      nameFilters.foreach(f => assert(f.metrics("numOutputRows").value <= 8,
        s"names past the gate must respect the cap, got ${
          f.metrics("numOutputRows").value}"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", restoreAqe)
      db.lexical.nameCapOverride = None
    }
  }

  test("MaxScore early termination: bounded common-list scan, exact parity, gate lifecycle") {
    val dir = "target/vdb_lexical_maxscore"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    // 600 docs ALL carrying the stop-word-frequency term; 4 also carry
    // the rare identifier. An unterminated scan reads all 600
    // stop-word postings per query; MaxScore must read only the
    // candidates' slice.
    val docs = (0 until 600).map { i =>
      val rare = if (i % 150 == 0) " zanzibarq" else ""
      (i.toLong, s"filler$i stopzz body unique$i words$rare")
    }
    db.ingest(docsFrame(docs, source = "ms"))
    db.indexLexical()
    assert(db.lexical.maxScoreReady, "fresh consistent sidecar must open the gate")

    val qt = Seq((0L, Seq("zanzibarq", "stopzz"), Option.empty[String]))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("lex_rnk"),
        r.getAs[String]("doc_name"))).sortBy(t => (t._1, t._2)).toSeq

    // plan/metrics pin under a non-adaptive plan (the established
    // FileSourceScanExec traversal pattern)
    val restoreAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pruned = db.lexical.allScanPlan(qt, 3, None,
        forceFull = false, forceMaxScore = true).get
      val prunedRows = rowsOf(pruned)
      val fullRows = rowsOf(db.lexical.allScanPlan(qt, 3, None, forceFull = true).get)
      assert(prunedRows == fullRows && prunedRows.size == 3,
        s"MaxScore must be exact:\n pruned $prunedRows\n full $fullRows")

      // THE pin, two layers: (a) the candidate doc_names are PUSHED
      // into job B's postings scan (at production row-group counts the
      // reader's footer stats skip the bulk of the doc_name-sorted
      // term run; this test corpus fits one row group, where parquet
      // can only skip whole groups), and (b) the rows that actually
      // REACH the scorer are candidate-bounded — the common list's
      // length never reaches the join/aggregate, at any scale
      val scans = pruned.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metadata.get("Location").exists(_.contains("postings")) => f
      }
      assert(scans.nonEmpty, "job B must scan the postings")
      scans.foreach { s =>
        assert(s.dataFilters.mkString(",").contains("doc_name"),
          s"candidate names must push into the scan: ${s.dataFilters}")
      }
      val nameFilters = pruned.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.toString.contains("doc_name") &&
              f.condition.toString.contains(" IN ") => f
      }
      assert(nameFilters.nonEmpty, "the candidate-name filter must gate the scan")
      nameFilters.foreach { f =>
        assert(f.metrics("numOutputRows").value <= 16,
          s"rows past the candidate gate must be bounded, got ${
            f.metrics("numOutputRows").value} (the full list is 600)")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", restoreAqe)

    // the single-query serving surface rides the same plan
    val hyb = db.searchHybrid("zanzibarq stopzz", 3)
    assert(hyb.collect().length == 3)

    // ---- gate lifecycle ----
    // (a) un-compacted deletes close it (live df < stats df would
    // under-bound idf); serving falls back and stays correct
    db.deleteWhere(col("doc_name").contains("/doc_599"))
    assert(!db.lexical.maxScoreReady, "tombstones must close the gate")
    // even FORCED MaxScore must refuse while the gate is closed (the
    // force knob bypasses the economic floors, never exactness)
    val afterDel = rowsOf(db.lexical.allScanPlan(qt, 3, None,
      forceFull = false, forceMaxScore = true).get)
    assert(afterDel == rowsOf(
      db.lexical.allScanPlan(qt, 3, None, forceFull = true).get))
    // (b) compaction clears tombstones + refreshes stats: gate reopens
    db.maintainStore()
    assert(db.lexical.maxScoreReady, "compaction must reopen the gate")
    assert(rowsOf(db.lexical.allScanPlan(qt, 3, None,
      forceFull = false, forceMaxScore = true).get) == rowsOf(
      db.lexical.allScanPlan(qt, 3, None, forceFull = true).get))
    // (c) a torn append (postings landed, stats didn't — simulated by
    // breaking _PCOUNT) closes the gate instead of serving torn stats
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/lexical/_PCOUNT"), false)
    db.ingest(docsFrame(Seq(9001L -> "late doc stopzz zanzibarq"), source = "ms"))
    assert(!db.lexical.maxScoreReady, "_PCOUNT mismatch must close the gate")
    // and a rebuild restores consistency
    db.indexLexical()
    assert(db.lexical.maxScoreReady)
    assert(rowsOf(db.lexical.allScanPlan(qt, 3, None,
      forceFull = false, forceMaxScore = true).get) == rowsOf(
      db.lexical.allScanPlan(qt, 3, None, forceFull = true).get))

    // (d) an appended batch keeps stats exact: the gate stays open and
    // parity holds with the new doc in the corpus
    db.ingest(docsFrame(Seq(9002L -> "another late stopzz zanzibarq doc"),
      source = "ms"))
    assert(db.lexical.maxScoreReady, "a clean append must keep the gate open")
    assert(rowsOf(db.lexical.allScanPlan(qt, 3, None,
      forceFull = false, forceMaxScore = true).get) == rowsOf(
      db.lexical.allScanPlan(qt, 3, None, forceFull = true).get))
  }

  /** Parquet data files under `dir`, as paths relative to it. */
  private def parquetFiles(dir: String): Set[String] = {
    val root = new java.io.File(dir).toPath
    if (!root.toFile.exists) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString.replace('\\', '/')).toSet
      finally files.close()
    }
  }

  test("an ingest lands one file per lexical sidecar, flat beside the rest") {
    val dir = "target/vdb_lexical_append_files"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    db.ingest(docsFrame(corpus.take(3)))
    db.indexLexical()
    val subs = Seq("postings", "termstats")
    val before = subs.map(sub => parquetFiles(s"$dir/lexical/$sub"))
    assert(before.forall(fs => fs.nonEmpty && fs.forall(!_.contains("/"))),
      s"indexLexical writes one flat directory per sidecar: $before")
    // three docs with many distinct terms
    db.ingest(docsFrame(Seq(
      21L -> "harbor lantern mooring quay bollard common",
      22L -> "orchard pruning grafting rootstock scion",
      23L -> "glacier moraine cirque arete serac common")))
    subs.zip(before).foreach { case (sub, was) =>
      val now = parquetFiles(s"$dir/lexical/$sub")
      val added = now -- was
      assert(was.subsetOf(now) && added.size == 1 && !added.head.contains("/"),
        s"$sub: one ingest must add one file, flat beside the rest: $added")
    }
    assert(db.lexical.maxScoreReady, "the append keeps _PCOUNT equal to the footer rows")
    val hits = db.searchHybrid("glacier moraine", 3).collect()
    assert(hits.nonEmpty && hits.head.getAs[String]("doc_name").contains("doc_23"),
      s"the appended doc must surface lexically: ${hits.toSeq}")
  }

  /** 600 docs that all carry a common term, a few with a rare one —
    * the MaxScore corpus, so forced MaxScore engages. */
  private val maxScoreDocs = (0 until 600).map { i =>
    val rare = if (i % 150 == 0) " zanzibarq" else if (i % 100 == 7) " rarebeta" else ""
    (i.toLong, s"filler$i stopzz body unique$i words$rare")
  }

  test("appended, deleted-from sidecar serves what a rebuild of the same store serves") {
    val dir = "target/vdb_lexical_append_parity"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    db.ingest(docsFrame(maxScoreDocs, source = "ap"))
    db.indexLexical()
    db.ingest(docsFrame(Seq(
      1000L -> "late stopzz zanzibarq quokka",
      1001L -> "quokka wombat stopzz rarebeta"), source = "ap"))
    db.ingest(docsFrame(Seq(
      1002L -> "another zanzibarq quokka stopzz stopzz",
      1003L -> "wombat numbat rarebeta"), source = "ap"))
    assert(spark.read.parquet(s"$dir/lexical/postings").filter($"doc_name".rlike("/doc_100[0-3]\\.txt$"))
      .select(input_file_name()).distinct().count() == 2)

    val qt = Seq(
      (0L, Seq("zanzibarq", "stopzz"), Option.empty[String]),
      (1L, Seq("rarebeta", "stopzz", "quokka"), Option.empty[String]),
      (2L, Seq("zanzibarq", "wombat", "stopzz"), Some("corpus/ap/doc_10")))
    def lexRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("lex_rnk"),
        r.getAs[String]("doc_name"), r.getAs[String]("content_id")))
      .sortBy(t => (t._1, t._2)).toSeq
    def full() = lexRows(db.lexical.allScanPlan(qt, 3, None, forceFull = true).get)
    def maxScore() = lexRows(db.lexical.allScanPlan(qt, 3, None,
      forceFull = false, forceMaxScore = true).get)
    // with the append partition live and no tombstone, MaxScore (its
    // stats read, job A and job B) must agree with the full scan and
    // rank the appended docs
    assert(db.lexical.maxScoreReady)
    val incrMaxScore = maxScore()
    assert(incrMaxScore == full(), "MaxScore over the append partition")
    assert(incrMaxScore.exists(_._3.endsWith("/doc_1002.txt")), incrMaxScore)

    db.delete(Seq("corpus/ap/doc_150.txt"))
    val queries = Seq(
      (1L, "zanzibarq stopzz", null),
      (2L, "quokka wombat rarebeta", null),
      (3L, "zanzibarq quokka", "corpus/ap/doc_100")).toDF("q_id", "q_text", "q_loc")
    def served() = {
      val singles = Seq("zanzibarq stopzz", "quokka wombat rarebeta", "numbat")
        .map(q => db.searchHybrid(q, 5).collect().map(r =>
          (r.getAs[Long]("rnk"), r.getAs[Double]("rrf_r"), r.getAs[String]("doc_name"),
            r.getAs[String]("content_id"), Option(r.getAs[java.lang.Long]("lex_rnk")),
            Option(r.getAs[java.lang.Long]("ann_rnk")))).toSeq)
      val batch = db.searchAllHybrid(queries, 5).collect().map(r =>
        (r.getAs[Long]("q_id"), r.getAs[Long]("rnk"), r.getAs[Double]("rrf_r"),
          r.getAs[String]("doc_name"), r.getAs[String]("content_id"))).toSeq.sorted
      (singles, batch, full())
    }
    val incr = served()
    assert(!incr._3.exists(_._3.endsWith("/doc_150.txt")), "the deleted doc must not serve")
    db.indexLexical()
    assert(spark.read.parquet(s"$dir/lexical/postings").select($"gen").distinct().count() == 1)
    val rebuilt = served()
    assert(rebuilt == incr, s"rebuild != appended sidecar:\n $rebuilt\n $incr")
    // the rebuild reopens the MaxScore gate: its pruned plan ranks
    // exactly what the appended, tombstoned sidecar's full plan ranked
    assert(db.lexical.maxScoreReady)
    assert(maxScore() == incr._3, "MaxScore after the rebuild")
  }

  test("maintainLexical merges the ingests' files into one term-sorted rewrite") {
    val dir = "target/vdb_lexical_fold"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    db.ingest(docsFrame(corpus.take(3)))
    db.indexLexical()
    db.ingest(docsFrame(Seq(31L -> "harbor lantern mooring alpha common")))
    db.ingest(docsFrame(Seq(32L -> "glacier moraine beta delta common")))
    val subs = Seq("postings", "termstats")
    val written = subs.map(sub => parquetFiles(s"$dir/lexical/$sub"))
    assert(written.forall(_.size >= 3), s"the build's files and one per ingest: $written")
    def served() = Seq("alpha beta common", "glacier harbor", "moraine delta")
      .map(q => db.searchHybrid(q, 5).collect().map(r =>
        (r.getAs[Long]("rnk"), r.getAs[Double]("rrf_r"), r.getAs[String]("doc_name"),
          r.getAs[String]("content_id"))).toSeq)
    val before = served()
    db.maintainLexical()
    subs.zip(written).foreach { case (sub, was) =>
      val now = parquetFiles(s"$dir/lexical/$sub")
      assert(now.nonEmpty && now.forall(!_.contains("/")) && (now intersect was).isEmpty,
        s"$sub: compaction must leave no file written before it: $now vs $was")
      // the rewrite is range-partitioned by term: file term ranges are disjoint
      val ranges = spark.read.parquet(s"$dir/lexical/$sub")
        .groupBy(input_file_name()).agg(min($"term"), max($"term"))
        .collect().map(r => (r.getString(1), r.getString(2))).sorted
      ranges.zip(ranges.drop(1)).foreach { case ((_, hi), (lo, _)) =>
        assert(hi < lo, s"$sub: overlapping file term ranges: ${ranges.toSeq}") }
    }
    assert(spark.read.parquet(s"$dir/lexical/postings")
      .filter($"term" === "moraine").count() == 1, "the appended postings survive")
    assert(db.lexical.maxScoreReady)
    assert(served() == before, "compaction must not change results")
  }

  test("term lookups read the pages holding their terms, not the whole sidecar") {
    val dir = "target/vdb_lexical_pruned"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    // 5,000 docs of 8 terms over a 10,000-term vocabulary: each term in
    // 4 docs, so no term's postings dominate a file or a page
    db.ingest(docsFrame((0 until 5000).map(i =>
      i.toLong -> (0 until 8).map(j => f"t${(i * 8 + j) % 10000}%05d").mkString(" ")),
      source = "pr"))
    // AQE keeps at least 1 MB per coalesced partition by default, which
    // would land this small sidecar in one file; a spec-scale minimum
    // lets it keep one file per shuffle partition, as a large one does
    val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val restoreMin = spark.conf.getOption(minSize)
    spark.conf.set(minSize, "1k")
    try db.indexLexical()
    finally restoreMin.fold(spark.conf.unset(minSize))(spark.conf.set(minSize, _))
    val postings = s"$dir/lexical/postings"
    val files = parquetFiles(postings)
    val total = spark.read.parquet(postings).count()
    assert(files.size >= 2 && files.forall(!_.contains("/")), s"one flat sidecar of files: $files")
    assert(total == 40000)
    // the established FileSourceScanExec traversal, under a non-adaptive plan
    def rowsRead(lookup: org.apache.spark.sql.DataFrame): Long = {
      val scans = lookup.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metadata.get("Location").exists(_.contains("postings")) => f
      }
      assert(scans.size == 1, "one postings scan")
      assert(scans.head.metadata.get("PushedFilters").exists(_.contains("term")),
        s"term filter not pushed: ${scans.head.metadata}")
      scans.head.metrics("numOutputRows").value
    }
    val restoreAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val lookup = db.lexical.scanPlan("t01234", 5, None).get
      val hits = lookup.collect()
      assert(hits.length == 4, s"t01234 is in 4 docs: ${hits.toSeq}")
      val read = rowsRead(lookup)
      info(s"one-term lookup read $read of $total postings rows over ${files.size} files")
      assert(read > 0 && read * 10 <= total,
        s"the lookup must skip the pages whose term range excludes it: read $read of $total")
      // a batch of 11 queries whose terms spread over the whole
      // vocabulary: their [min, max] range covers about every page, the
      // terms themselves about one page each
      val batch = (0 until 11).map(q => (q.toLong, Seq(f"t${q * 909}%05d"), Option.empty[String]))
      val batchPlan = db.lexical.allScanPlan(batch, 5, None, forceFull = true).get
      val batchHits = batchPlan.collect()
      assert(batchHits.length == 44, s"each term is in 4 docs: ${batchHits.length}")
      val batchRead = rowsRead(batchPlan)
      info(s"11-term batch read $batchRead of $total postings rows")
      assert(batchRead > 0 && batchRead * 2 <= total,
        s"the batch must read only the pages holding its terms: read $batchRead of $total")
    } finally spark.conf.set("spark.sql.adaptive.enabled", restoreAqe)
  }
}
