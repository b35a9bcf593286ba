package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-bench")
    // 1-minute load average BEFORE the warmup: a contended box inflates
    // every timing (round-3 driver file read 70 s where a quiet box
    // measures 42 s) — recording it lets round logs separate real
    // regressions from neighbors
    def loadAvg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // a contended box inflates timings ~2x (BENCH_r15: 165.8 s at
    // loadavg 4.85-12.47 vs 104.6 s quiet, same commit) — an artifact
    // captured under load MISSTATES the engine. Guard: start loadavg
    // above cores/8 marks the run contaminated, loudly on stderr and
    // machine-readably in both JSON forms; SPARK_GRAFT_REQUIRE_QUIET=1
    // refuses outright (exit 3) so automation can retry on quiet.
    // r17 (two rounds of contaminated official artifacts): before
    // giving up, WAIT for quiet — the contamination source on this box
    // is residual 1-minute loadavg from a just-finished job, which
    // decays in well under the default 300 s budget
    // (SPARK_GRAFT_QUIET_WAIT_SECS tunes it; 0 disables). The timed
    // passes start only after the box reads quiet or the budget runs
    // out, so the driver-captured artifact self-heals instead of
    // shipping flagged.
    val hostCores = Runtime.getRuntime.availableProcessors()
    val quietBar = hostCores / 8.0
    val quietBudgetS = sys.env.getOrElse("SPARK_GRAFT_QUIET_WAIT_SECS", "300").toInt
    var loadStart = loadAvg()
    if (loadStart > quietBar && quietBudgetS > 0) {
      val deadline = System.nanoTime() + quietBudgetS * 1000000000L
      while (loadStart > quietBar && System.nanoTime() < deadline) {
        System.err.println(
          f"BENCH: waiting for quiet (loadavg $loadStart%.2f > $quietBar%.1f)")
        Thread.sleep(20000)
        loadStart = loadAvg()
      }
    }
    val loadContaminated = loadStart > quietBar
    if (loadContaminated) {
      System.err.println(
        f"BENCH WARNING: start loadavg $loadStart%.2f exceeds cores/8 = " +
          f"${hostCores / 8.0}%.1f - timings will be inflated by " +
          "neighbors; this artifact cannot certify performance")
      if (sys.env.get("SPARK_GRAFT_REQUIRE_QUIET").contains("1")) {
        System.err.println("SPARK_GRAFT_REQUIRE_QUIET=1: refusing to bench")
        spark.stop()
        sys.exit(3)
      }
    }
    // corpus fingerprint: per-table row count (footer stats, no data
    // scan) + an md5 over the parquet file names/lengths. Bench
    // artifacts self-describe the corpus they ran on, so cross-round
    // diffs on a REGENERATED corpus (the round-7 sf1 ambiguity) are
    // visible instead of read as regressions.
    val corpus = {
      val tables = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      tables.flatMap { t =>
        val p = new java.io.File(s"$sfDir/$t.parquet")
        if (!p.exists) None
        else {
          val rows =
            try spark.read.parquet(p.getPath).count()
            catch { case _: Throwable => -1L }
          val files =
            if (p.isDirectory)
              p.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
            else Array(p)
          val md = java.security.MessageDigest.getInstance("MD5")
          files.foreach(f => md.update(s"${f.getName}:${f.length}".getBytes("UTF-8")))
          val h = md.digest().map("%02x".format(_)).mkString.take(12)
          Some(s""""$t":{"rows":$rows,"md5":"$h"}""")
        }
      }.mkString("{", ",", "}")
    }
    // absorb one-time JVM/session costs (codegen compiler, parquet
    // footer reader, shuffle machinery) so per-query timings measure
    // the queries, not startup
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // subset corpora (the sf10 scaling runs ship documents/embeddings
    // only) may not carry lineitem — warm the parquet reader on
    // whatever large table exists
    Seq("lineitem", "documents").map(t => s"$sfDir/$t.parquet")
      .find(p => new java.io.File(p).exists())
      .foreach(p => spark.read.parquet(p).limit(10).collect())
    // two passes, per-query min: the first pass can be contaminated by
    // cold page cache / JIT / a contended box; the min of two warmed
    // runs is reproducible within noise
    // SPARK_GRAFT_QUERIES=a,b,c runs a subset — the sf10 spot-scaling
    // harness, where the declared-quadratic audit entries (ann_brute,
    // dd_jaccard, dd_embed) are prohibitive by design
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // r18 (verdict item 7): per-query 1-minute loadavg, sampled as each
    // query STARTS, rides the full blob — one contended stretch can then
    // be discounted query-by-query instead of tainting the whole
    // artifact (the end-of-run loadavg is confounded by the bench's own
    // threads, so a start/end pair alone cannot localize contention)
    val loadByQuery = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // time what a caller receives: every output column written to a
    // sink. A count() lets Catalyst prune each column it does not need,
    // which at sf0.01 drops real work from 57 of the 113 queries
    // (tx_pii's regexes, mm_media's decoders)
    def consume(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def pass(): Seq[(String, Double)] =
      SparkEntry.queries.toSeq.filter(q => only.forall(_.contains(q._1)))
        .sortBy(_._1).map { case (name, fn) =>
          loadByQuery(name) = math.max(loadByQuery.getOrElse(name, 0.0), loadAvg())
          val t0 = System.nanoTime()
          // a FAILED query must read as the -1 sentinel, never as its
          // time-to-throw: a fast failure would otherwise masquerade
          // as a fast query (min-of-passes preserves the sentinel)
          val ok =
            try { consume(fn(spark, sfDir)); true }
            catch { case e: Throwable =>
              System.err.println(s"BENCH FAILURE: $name: ${e.getMessage}")
              false
            }
          val t = (System.nanoTime() - t0) / 1e9
          // queries must be timed INDEPENDENTLY: a predecessor's
          // persisted/materialized frames AND its uncollected heap
          // garbage otherwise steal memory from the next query
          // (measured r17 at sf10: mm_crawl 281 s after dd_embed_lsha
          // vs 133 s alone; at sf1 57.6 s vs 20.2 s with the GC).
          // Cache drop + leftover-block release + one full GC, all
          // OUTSIDE the timed region. The GC is safe for timing only
          // together with GraftSession's enlarged codegen cache: with the
          // default 100-entry cache, evicted generated classes are
          // unloaded by this GC and every pass re-pays Janino + C2
          // (measured +20% suite wall at sf0.1). SPARK_GRAFT_NO_GC=1
          // skips the GC for diagnosing that interaction.
          // INVARIANT: no persisted frame may outlive its query — this
          // blanket unpersist also kills localCheckpointed RDDs, whose
          // truncated lineage can never be recomputed, so any future
          // cross-query cached state would silently break here
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          if (!sys.env.get("SPARK_GRAFT_NO_GC").contains("1")) System.gc()
          name -> (if (ok) t else -1.0)
        }
    // SPARK_GRAFT_PASSES=1 for long scaling-curve runs (sf1+), where a
    // second pass doubles an already-long wall time for little signal
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    // dd_embed_lsha's committed number must be the LIKE-FOR-LIKE warm
    // measurement the scaling claims compare (its cold first run pays
    // page-cache + JIT + the one-off geometry fit and varies 4.5-6.3 s
    // at sf1 run-to-run where the warm plan is stable) — single-pass
    // runs would otherwise commit the cold reading. One untimed
    // pre-run warms it; the cold cost is still REPORTED, as `cold`.
    val coldLsha =
      if (!only.forall(_.contains("dd_embed_lsha"))) -1.0
      else {
        val t0 = System.nanoTime()
        try consume(SparkEntry.queries("dd_embed_lsha")(spark, sfDir))
        catch { case _: Throwable => () }
        (System.nanoTime() - t0) / 1e9
      }
    // the pre-run's persisted signature frame must not ride into the
    // timed pass: ann_brute (alphabetically first, the memory-hungry
    // all-pairs audit) would otherwise run against stolen executor
    // memory the r6 baseline didn't lose (measured +25 s at sf1)
    spark.catalog.clearCache()
    val first = pass()
    val results =
      if (passes <= 1) first
      else {
        val p1 = first.toMap
        pass().map { case (name, t) => name -> math.min(t, p1(name)) }
      }
    val total = results.map(_._2).sum
    // the FULL blob (full-precision timings + cold/load/corpus
    // diagnostics) goes to the file artifact; stdout gets a COMPACT
    // line because the driver's capture truncates at 2000 chars
    // (every BENCH_r10..r13.json lost its tail) — trimmed 2dp fits
    // ~107 queries with ~30 chars to spare, and if the query set
    // outgrows that the precision degrades to 1dp rather than letting
    // the capture cut the JSON mid-token
    val loadEnd = loadAvg()
    val qsFull = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val loadQ = loadByQuery.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,""" +
      s""""cold":{"dd_embed_lsha":$coldLsha},""" +
      s""""load":{"start":$loadStart,"end":$loadEnd,"contaminated":$loadContaminated},""" +
      s""""load_by_query":$loadQ,""" +
      s""""corpus":$corpus,"sf":"$sfDir"}"""
    def trim(v: Double, dp: Int): String = {
      val s = s"%.${dp}f".format(v)
      val t = s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      if (t.isEmpty) "0" else t
    }
    // a successful query must NEVER print as bare 0 (r17: at 113
    // queries the line degraded to 0dp, 62 queries printed 0 and the
    // round comparator fabricated phantom "dropped_from_bench" noise) —
    // raise the precision per-value until nonzero, 3dp cap
    def nz(v: Double, dp: Int): String = {
      var d = dp
      var s = trim(v, d)
      while (s == "0" && v > 0.0005 && d < 3) { d += 1; s = trim(v, d) }
      s
    }
    def compact(dp: Int, floor: Boolean = true): String = {
      val qs = results.map { case (k, v) =>
          s"\"" + k + "\":" + (if (floor) nz(v, dp) else trim(v, dp)) }
        .mkString("{", ",", "}")
      // load rides the compact line too: round-over-round deltas must
      // separate code from a contended box without the file artifact.
      // sf prints as the directory BASENAME — the full path cost 15 of
      // the 1990 driver-captured chars that 1dp per-query precision
      // needs (the full path stays in the file artifact's "sf")
      val sfShort = sfDir.stripSuffix("/").split('/').last
      s"""{"metric":"total","value":${trim(total, 2)},"unit":"sec",""" +
        s""""load":[${trim(loadStart, 2)},${trim(loadEnd, 2)}],""" +
        (if (loadContaminated) s""""load_contaminated":true,""" else "") +
        s""""queries":$qs,"sf":"$sfShort"}"""
    }
    // best precision that fits the driver's 2000-char capture; the
    // floor-less 0dp form is the guaranteed-fit last resort (the nz
    // floor itself adds chars, so it cannot be the final fallback)
    val line = Seq(compact(2), compact(1), compact(0))
      .find(_.length <= 1990).getOrElse(compact(0, floor = false))
    println(line)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_last_local.json"), fullJson + "\n")
    catch { case _: Exception => () } // a read-only cwd never fails the bench
    spark.stop()
  }
}
