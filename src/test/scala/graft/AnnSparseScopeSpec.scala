package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraftVectorDB

/** Sparse-scope probe escalation (round-7): a location filter
  * (get_search_range's exact-file case, vector_db.py:673-682) can
  * concentrate the whole scope in cells the query's nProbe ranking
  * never probes — the filtered top-k under-fills even though in-scope
  * docs exist. `searchAnn`/`searchAnnPq` now escalate to a full probe
  * when the first pass cannot fill topN, and the escalated result
  * equals the exact filtered scan. */
class AnnSparseScopeSpec extends AnyFunSuite {
  import SparkTestSession._

  private val dbDir = "target/vdb_sparse_scope"
  private val q = "fast query join table"

  private def rmRf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmRf))
    f.delete()
  }

  private lazy val db = {
    rmRf(new java.io.File(dbDir))
    val d = new GraftVectorDB(spark, dbDir)
    val docs = Tables.load(spark, sf, "documents")
    assert(d.ingest(docs.filter(col("doc_id") < 60)) > 0)
    d.buildAnnIndex(cells = 8)
    d
  }

  private def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
    (r.getAs[Long]("rnk"), r.getAs[Double]("sim_r"),
      r.getAs[String]("doc_name"), r.getAs[String]("content_id"))).toSeq

  private def resKey(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
    (r.getAs[String]("doc_name"), r.getAs[String]("content_id"))).toSet

  /** Single-doc folder scopes, each a genuinely sparse location. */
  private lazy val docLocations: Seq[String] = {
    import spark.implicits._
    db.store.select($"doc_name").distinct().orderBy($"doc_name")
      .collect().map(_.getString(0)).toSeq
  }

  test("a sparse location that under-fills the raw probe escalates to exact parity") {
    // find a scope the nProbe=1 raw scan genuinely LOSES rows on —
    // proof the planted case exists and escalation has work to do
    val planted = docLocations.find { loc =>
      val raw = db.ann("text").scanPlan(q, 5, nProbe = 1, Some(loc)).collect()
      val exact = db.search(q, 5, Some(loc)).collect()
      raw.length < exact.length
    }
    assert(planted.nonEmpty,
      "no single-doc scope concentrates outside the nProbe=1 probe set — " +
        "the plant premise broke (did cell geometry change?)")
    val loc = planted.get
    val exact = key(db.search(q, 5, Some(loc)).collect())
    assert(key(db.searchAnn(q, 5, nProbe = 1, location = Some(loc)).collect()) == exact,
      s"escalated searchAnn must equal the exact filtered scan for $loc")
    assert(key(db.searchAnnPq(q, 5, nProbe = 1, shortlist = 100,
      location = Some(loc)).collect()) == exact,
      s"escalated searchAnnPq must equal the exact filtered scan for $loc")
  }

  test("filtered recall@topN at default nProbe holds >= 0.9 across sparse scopes") {
    val sample = docLocations.take(12)
    val recalls = sample.map { loc =>
      val exact = resKey(db.search(q, 5, Some(loc)).collect())
      if (exact.isEmpty) 1.0
      else {
        val ann = resKey(db.searchAnn(q, 5, location = Some(loc)).collect())
        (ann & exact).size.toDouble / exact.size
      }
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, f"mean filtered recall $mean%.2f across ${sample.size} scopes")
    // and the PQ path (bounded shortlist) holds the same floor
    val pqRecalls = sample.take(6).map { loc =>
      val exact = resKey(db.search(q, 5, Some(loc)).collect())
      if (exact.isEmpty) 1.0
      else {
        val ann = resKey(db.searchAnnPq(q, 5, location = Some(loc)).collect())
        (ann & exact).size.toDouble / exact.size
      }
    }
    assert(pqRecalls.sum / pqRecalls.size >= 0.9)
  }

  test("a filled first pass never escalates: the warm dense path stays one job") {
    // warm the serving cache, then count: a dense (unfiltered) search
    // fills topN from its probed cells and must not pay a second scan
    db.searchAnn(q, 5, nProbe = 3).collect()
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      db.searchAnn("slow merge sort line", 5, nProbe = 3).collect()
      org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(n.get() == 1, s"dense warm searchAnn must stay ONE job, ran ${n.get()}")
  }

  test("a scope smaller than topN returns every in-scope row (exact, no spin)") {
    val loc = docLocations.head
    val exact = key(db.search(q, 50, Some(loc)).collect())
    assert(exact.nonEmpty && exact.size < 50)
    assert(key(db.searchAnn(q, 50, nProbe = 2, location = Some(loc)).collect()) == exact)
  }

  test("batch twins escalate under-filled queries: parity with escalated singles") {
    import spark.implicits._
    // a scope the nProbe=1 raw batch pass genuinely under-fills on
    val planted = docLocations.find { loc =>
      db.ann("text").scanPlan(q, 5, nProbe = 1, Some(loc)).collect().length <
        db.search(q, 5, Some(loc)).collect().length
    }
    assert(planted.nonEmpty, "no sparse scope found — plant premise broke")
    val loc = planted
    val texts = Seq(q, "slow merge sort line", "hash vector stream")
    val queries = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("q_id", "q_text")
    val batch = db.searchAllAnn(queries, 5, nProbe = 1, location = loc)
      .collect().groupBy(_.getAs[Long]("q_id"))
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(key(batch.getOrElse(i.toLong, Array.empty)) ==
        key(db.searchAnn(t, 5, nProbe = 1, location = loc).collect()),
        s"escalated batch ANN for '$t' must equal the escalated single")
    }
    val batchPq = db.searchAllAnnPq(queries, 5, nProbe = 1, shortlist = 100,
      location = loc).collect().groupBy(_.getAs[Long]("q_id"))
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(key(batchPq.getOrElse(i.toLong, Array.empty)) ==
        key(db.searchAnnPq(t, 5, nProbe = 1, shortlist = 100,
          location = loc).collect()),
        s"escalated batch PQ for '$t' must equal the escalated single")
    }
  }

  test("per-query q_loc scopes: each batch query matches its own-scope single, escalation included") {
    import spark.implicits._
    // a sparse scope (forces that query's escalation) + a dense scope
    // + an unscoped null row, all in ONE batch — the multi-tenant shape
    val sparse = docLocations.find { loc =>
      db.ann("text").scanPlan(q, 5, nProbe = 1, Some(loc)).collect().length <
        db.search(q, 5, Some(loc)).collect().length
    }
    assert(sparse.nonEmpty)
    val dense = docLocations.last
    val texts = Seq(q, "slow merge sort line", "hash vector stream")
    val locs = Seq(sparse, Some(dense), None)
    val queries = texts.zip(locs).zipWithIndex
      .map { case ((t, l), i) => (i.toLong, t, l.orNull) }
      .toDF("q_id", "q_text", "q_loc")
    val batch = db.searchAllAnn(queries, 5, nProbe = 1)
      .collect().groupBy(_.getAs[Long]("q_id"))
    texts.zip(locs).zipWithIndex.foreach { case ((t, l), i) =>
      assert(key(batch.getOrElse(i.toLong, Array.empty)) ==
        key(db.searchAnn(t, 5, nProbe = 1, location = l).collect()),
        s"q_loc batch ANN for '$t' @ $l must equal its own-scope single")
    }
    val batchPq = db.searchAllAnnPq(queries, 5, nProbe = 1, shortlist = 100)
      .collect().groupBy(_.getAs[Long]("q_id"))
    texts.zip(locs).zipWithIndex.foreach { case ((t, l), i) =>
      assert(key(batchPq.getOrElse(i.toLong, Array.empty)) ==
        key(db.searchAnnPq(t, 5, nProbe = 1, shortlist = 100,
          location = l).collect()),
        s"q_loc batch PQ for '$t' @ $l must equal its own-scope single")
    }
    // the exact batch honors q_loc too
    val batchEx = db.searchAll(queries, 5)
      .collect().groupBy(_.getAs[Long]("q_id"))
    texts.zip(locs).zipWithIndex.foreach { case ((t, l), i) =>
      assert(key(batchEx.getOrElse(i.toLong, Array.empty)) ==
        key(db.search(t, 5, location = l).collect()),
        s"q_loc exact batch for '$t' @ $l must equal its own-scope single")
    }
    // a loc-free batch keeps the column-pruned ADC scan: doc_name only
    // enters the scan when a scope is actually carried
    val noLoc = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("q_id", "q_text")
    val restoreAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val adc = db.ann("text").allPqShortlistPlan(noLoc, nProbe = 3, shortlist = 50)
      val scans = adc.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty &&
        scans.forall(!_.requiredSchema.fieldNames.contains("doc_name")),
        "a scope-free batch must not read doc_name in the ADC scan")
      // and a SCOPED batch's fetch must keep its row_id bound: q_loc
      // voids the untruncated-shortlist-covers-the-scan argument, so
      // skipping the id filter there would collect the whole probed
      // index for an all-narrow-scopes (multi-tenant) batch
      val fetch = db.ann("text").allPqFetchPlan(queries, nProbe = 1, shortlist = 100)
      val idBound = fetch.queryExecution.executedPlan.flatMap(_.expressions.flatMap(_.collect {
        case in: org.apache.spark.sql.catalyst.expressions.In
            if in.value.references.exists(_.name == "row_id") => in
        case s: org.apache.spark.sql.catalyst.expressions.InSet
            if s.child.references.exists(_.name == "row_id") => s
      }))
      assert(idBound.nonEmpty,
        "a q_loc batch's shortlist fetch must keep the row_id filter (no cover scan)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", restoreAqe)
  }

  test("q_loc composes with the call-level location by intersection") {
    import spark.implicits._
    val global = Some("corpus/src1/")
    // a single-doc prefix INSIDE the call scope, and one OUTSIDE it
    val narrow = docLocations.find(_.startsWith(global.get)).get
    val outside = docLocations.find(!_.startsWith(global.get)).get
    val queries = Seq((0L, q, narrow), (1L, q, outside),
      (2L, q, null.asInstanceOf[String])).toDF("q_id", "q_text", "q_loc")
    val res = db.searchAllAnn(queries, 5, nProbe = 2, location = global)
      .collect().groupBy(_.getAs[Long]("q_id"))
    // narrowing: equals the single at the narrower prefix
    assert(key(res.getOrElse(0L, Array.empty)) ==
      key(db.searchAnn(q, 5, nProbe = 2, location = Some(narrow)).collect()),
      "an in-scope q_loc must narrow to its own prefix")
    // a q_loc outside the call scope cannot WIDEN it: intersection empty
    // (this query under-fills and escalates — to a still-empty result)
    assert(res.getOrElse(1L, Array.empty).isEmpty,
      "a q_loc outside the call-level scope must return nothing")
    // a null q_loc serves the call-level scope
    assert(key(res.getOrElse(2L, Array.empty)) ==
      key(db.searchAnn(q, 5, nProbe = 2, location = global).collect()),
      "a null q_loc row must serve the call-level scope")
    // and the PQ twin composes identically
    val pq = db.searchAllAnnPq(queries, 5, nProbe = 2, shortlist = 100,
      location = global).collect().groupBy(_.getAs[Long]("q_id"))
    assert(key(pq.getOrElse(0L, Array.empty)) ==
      key(db.searchAnnPq(q, 5, nProbe = 2, shortlist = 100,
        location = Some(narrow)).collect()))
    assert(pq.getOrElse(1L, Array.empty).isEmpty)
  }

  // ---- round-8: prefix→cell routing sidecar ---------------------------

  private def jobCount(body: => Unit): Int = {
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

  /** The cell ids a plan's partition filters pin (In / InSet on the
    * `cell` partition column). */
  private def scanCells(df: org.apache.spark.sql.DataFrame): Set[Int] = {
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    scans.flatMap(_.partitionFilters.flatMap(_.collect {
      case in: org.apache.spark.sql.catalyst.expressions.In =>
        in.list.collect {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v }
      case s: org.apache.spark.sql.catalyst.expressions.InSet =>
        s.hset.toSeq.collect { case i: Int => i }
      // a single-cell probe set folds In -> EqualTo
      case org.apache.spark.sql.catalyst.expressions.EqualTo(_,
          org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)) => Seq(v)
    }.flatten)).toSet
  }

  test("sidecar proof: every cell actually holding a prefix's rows is eligible") {
    import spark.implicits._
    db // force the build
    val all = db.ann("text").eligibleCells(Nil).toSet
    docLocations.take(8).foreach { loc =>
      val actual = spark.read.parquet(db.annPath("text"))
        .filter($"doc_name".startsWith(loc)).select($"cell").distinct()
        .collect().map(_.getInt(0)).toSet
      val elig = db.ann("text").eligibleCells(Seq(loc)).toSet
      assert(actual.subsetOf(elig),
        s"cells $actual hold rows for $loc but eligible is only $elig — " +
          "the sidecar pruned live data")
      assert(elig.subsetOf(all))
    }
  }

  test("a scope outside every cell's range resolves with zero probed cells, <= 1 job") {
    db.searchAnn(q, 5, nProbe = 2).collect() // warm the serving cache
    assert(db.ann("text").eligibleCells(Seq("zzz/nowhere/")).isEmpty,
      "an out-of-universe prefix must be eligible nowhere")
    val jobs = jobCount {
      val r = db.searchAnn(q, 5, nProbe = 2, location = Some("zzz/nowhere/")).collect()
      assert(r.isEmpty)
    }
    // empty probe set folds to an empty scan — at most the one
    // first-pass job, and NEVER a full-index escalation pass
    assert(jobs <= 1, s"an impossible scope must not escalate, ran $jobs jobs")
  }

  test("a narrow tenant scope probes only its own cells, end to end") {
    import spark.implicits._
    db // force the build fixture before mutating
    val tenantDocs = (0 until 4).map(i =>
      (980000L + i, s"tenant acme confidential ledger $i fast join table", "en", "acme"))
      .toSeq.toDF("doc_id", "text", "lang", "source")
    val recs = GraftVectorDB.pipeline(tenantDocs)
      .withColumn("doc_name", regexp_replace($"doc_name", "^corpus/", "tenants/"))
    assert(db.ingestRecords(recs, indexChannels = Seq("text")) > 0)
    val touched = spark.read.parquet(db.annPath("text"))
      .filter($"doc_name".startsWith("tenants/")).select($"cell").distinct()
      .collect().map(_.getInt(0)).toSet
    val all = db.ann("text").eligibleCells(Nil).toSet
    val elig = db.ann("text").eligibleCells(Seq("tenants/acme/")).toSet
    // widen-first append: every touched cell must be eligible (a miss
    // here would prune live tenant rows)
    assert(touched.subsetOf(elig), s"touched $touched vs eligible $elig")
    assert(elig.size < all.size,
      s"a 4-doc tenant must not make every cell eligible ($elig of $all)")
    // serving parity at the narrow scope — first pass spends its probe
    // budget inside the tenant's cells, escalation (if any) stays there
    val tq = "tenant acme confidential ledger"
    val exact = key(db.search(tq, 5, Some("tenants/acme/")).collect())
    assert(exact.nonEmpty)
    assert(key(db.searchAnn(tq, 5, nProbe = 2,
      location = Some("tenants/acme/")).collect()) == exact)
    assert(key(db.searchAnnPq(tq, 5, nProbe = 2, shortlist = 100,
      location = Some("tenants/acme/")).collect()) == exact)
    // the full-eligible plan (nProbe >= cells) scans ONLY tenant cells:
    // the escalation pass a multi-tenant workload pays is targeted now
    val restoreAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val planned = scanCells(db.ann("text").scanPlan(tq, 5,
        nProbe = all.size, Some("tenants/acme/")))
      assert(planned.nonEmpty && planned.subsetOf(elig),
        s"scoped full-probe plan scans $planned, beyond eligible $elig")
      // batch twin: an all-narrow q_loc batch prunes the same way
      val queries = Seq((0L, tq, "tenants/acme/"), (1L, q, "tenants/acme/"))
        .toDF("q_id", "q_text", "q_loc")
      val plannedBatch = scanCells(
        db.ann("text").allScanPlan(queries, 5, nProbe = all.size))
      assert(plannedBatch.nonEmpty && plannedBatch.subsetOf(elig),
        s"all-narrow q_loc batch scans $plannedBatch, beyond eligible $elig")
    } finally spark.conf.set("spark.sql.adaptive.enabled", restoreAqe)
    // batch parity at the tenant scope (escalation included)
    val queries = Seq((0L, tq, "tenants/acme/"), (1L, q, null.asInstanceOf[String]))
      .toDF("q_id", "q_text", "q_loc")
    val batch = db.searchAllAnn(queries, 5, nProbe = 2)
      .collect().groupBy(_.getAs[Long]("q_id"))
    assert(key(batch.getOrElse(0L, Array.empty)) ==
      key(db.searchAnn(tq, 5, nProbe = 2, location = Some("tenants/acme/")).collect()))
    assert(key(batch.getOrElse(1L, Array.empty)) ==
      key(db.searchAnn(q, 5, nProbe = 2).collect()))
  }

  test("a filled dense batch never escalates: no jobs beyond the first-pass plan") {
    import spark.implicits._
    val queries = Seq((0L, q), (1L, "slow merge sort line"))
      .toDF("q_id", "q_text")
    db.searchAllAnn(queries, 5, nProbe = 3).collect() // warm the serving cache
    def jobs(body: => Unit): Int = {
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
    // the no-escalation baseline: the lazy first-pass plan alone (the
    // batch agg pipeline is several jobs under AQE — the pin is that
    // the public method adds NONE of its own for a filled batch)
    val baseline = jobs(db.ann("text").allScanPlan(queries, 5, nProbe = 3).collect())
    val dense = jobs(db.searchAllAnn(queries, 5, nProbe = 3).collect())
    assert(dense == baseline,
      s"dense warm searchAllAnn must run exactly the first-pass plan's " +
        s"jobs ($baseline), ran $dense — a filled batch must not pay escalation")
  }
}
