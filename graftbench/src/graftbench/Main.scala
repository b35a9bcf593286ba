package graftbench

import org.apache.spark.sql.SparkSession

/** Command-line options. `--work` is a scratch directory inside the
  * checkout that the wrapper creates and removes. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, smoke: Boolean, spec: String, expected: String,
    traceOut: Option[String], mode: String)

object Args {
  def parse(a: Array[String]): Args = {
    val kv = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), a.contains("--smoke"),
      kv.getOrElse("spec", "BENCHMARK.json"),
      kv.getOrElse("expected", "graftbench/expected_curate.json"),
      kv.get("trace-out"), kv.getOrElse("mode", "bench"))
  }
}

/** Everything a workload needs. */
final class Ctx(val spark: SparkSession, val args: Args, val sessionS: Double) {
  val checks = new Checks
  /** Checks of program defects known at the benchmark's commit (see
    * NOTES.md). They run in every run and count in the per-layer
    * `fail_frac` and the run record, but not in the result's
    * `correct`/`failed`: a workload's own operations must all pass. */
  val defects = new Checks("KNOWN DEFECT")
  val tracer = new Tracer(spark, args.trace)
  /** Input sizes; smoke runs use the smallest corpus that still
    * exercises every path. */
  val scale: Scale = if (args.smoke) Scale.Smoke else Scale.Full
  def deadline(seconds: Double): Long = System.nanoTime() + (seconds * 1e9).toLong
}

final case class Scale(name: String, storeDocs: Int, sources: Int, curateDocs: Int,
    curateEmbs: Int, curateLines: Int, streamBatch: Int, writeBatch: Int)

object Scale {
  val Full = Scale("full", storeDocs = 1200, sources = 20, curateDocs = 800,
    curateEmbs = 600, curateLines = 20000, streamBatch = 250, writeBatch = 32)
  val Smoke = Scale("smoke", storeDocs = 200, sources = 5, curateDocs = 250,
    curateEmbs = 300, curateLines = 6000, streamBatch = 50, writeBatch = 8)
}

/** The metric names and units BENCHMARK.json declares: the one list
  * the result line is built from. */
object Spec {
  private def metrics(j: org.json4s.JValue, key: String): Seq[(String, String)] =
    (j \ key) match {
      case org.json4s.JArray(xs) => xs.map(m => ((m \ "name"), (m \ "unit")) match {
        case (org.json4s.JString(n), org.json4s.JString(u)) => n -> u
        case _ => throw new IllegalArgumentException(s"malformed $key entry $m")
      })
      case _ => throw new IllegalArgumentException(s"BENCHMARK.json has no $key list")
    }

  /** (end-to-end, per-layer) metrics. */
  def load(path: String): (Seq[(String, String)], Seq[(String, String)]) = {
    val j = org.json4s.jackson.JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
    (metrics(j, "end_to_end"), metrics(j, "per_layer"))
  }
}

object Metrics {
  /** The eight curate queries, in SparkEntry's names. */
  val Queries: Seq[String] = Seq("tx_curate", "tx_rep", "tx_pii", "ol_profile",
    "dd_minhash", "tx_crawl", "mm_media", "ann_ivf")
}

object Main {
  private def loadAvg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" ")
    catch { case _: Exception => "unknown" }

  /** (steal, total) CPU ticks since boot: steal is time the host gave
    * this machine's CPUs to others. */
  private def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val loadStart = loadAvg()
    val ticksStart = cpuTicks()
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(4, "graftbench")
    val ctx = new Ctx(spark, args, (System.nanoTime() - t0) / 1e9)
    val code =
      try {
        if (args.mode == "count_ab") { Curate.countAb(ctx); 0 }
        else if (args.mode == "record") { Curate.record(ctx); 0 }
        else run(ctx, loadStart, ticksStart)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    spark.stop()
    System.exit(code)
  }

  private def run(ctx: Ctx, loadStart: String, ticksStart: (Long, Long)): Int = {
    val args = ctx.args
    val (endToEnd, perLayer) = Spec.load(args.spec)
    val measured: Map[String, Double] = args.workload match {
      case "serve_write" => Serving.run(ctx)
      case "curate" => Curate.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // Spark frees some blocks asynchronously after a GC finds their
    // owners unreachable, so take the lower of two GC-and-wait readings
    val memBean = java.lang.management.ManagementFactory.getMemoryMXBean
    val heapMb = (0 until 2).map { _ =>
      System.gc()
      Thread.sleep(250)
      memBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    println(s"live heap readings (MB): ${heapMb.map(h => f"$h%.1f").mkString(" ")}")
    val mem = memBean.getHeapMemoryUsage
    val checks = ctx.checks
    val defects = ctx.defects
    val failFrac = (checks.failed + defects.failed).toDouble /
      math.max(1L, checks.attempted + defects.attempted)
    val all = measured ++ Map("live_heap_mb" -> heapMb.min, "fail_frac" -> failFrac)
    val declared = if (args.trace) perLayer else endToEnd
    // layers a workload does not exercise report zero work
    if (args.trace)
      println("UNMEASURED " + Json(declared.map(_._1).filterNot(all.contains)))
    val metrics = declared.map { case (n, u) =>
      n -> Map("value" -> all.getOrElse(n, if (args.trace) 0.0
        else throw new IllegalStateException(s"workload did not measure $n")), "unit" -> u)
    }
    val bad = metrics.filter { case (_, m) =>
      val v = m("value").asInstanceOf[Double]; v.isNaN || v.isInfinite }
    require(bad.isEmpty, s"non-finite metrics: ${bad.map(_._1).mkString(", ")}")
    if (args.trace) {
      val path = args.traceOut.getOrElse(s"${args.work}/spans.jsonl")
      ctx.tracer.writeSpans(path)
      println(s"spans: ${ctx.tracer.spans.size} written to $path")
    }
    val record = Seq("workload" -> args.workload, "seed" -> args.seed,
      "seconds" -> args.seconds, "trace" -> args.trace, "scale" -> ctx.scale.name,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> mem.getMax / 1048576, "session_s" -> ctx.sessionS,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadAvg(),
      "cpu_steal_frac" -> { val (st, tot) = cpuTicks()
        (st - ticksStart._1).toDouble / math.max(1L, tot - ticksStart._2) },
      "corpus" -> Corpus.fingerprint(s"${args.work}/corpus"),
      "repeat_share" -> measured.getOrElse("input.repeat_share", 0.0),
      "failed_checks" -> checks.summary,
      "known_defect_checks" -> Map("attempted" -> defects.attempted, "failed" -> defects.summary))
    println("RUN_RECORD " + Json.obj(record))
    println(Json.obj(Seq("correct" -> (checks.failed == 0), "attempted" -> checks.attempted,
      "failed" -> checks.failed, "metrics" -> metrics.toMap)))
    0
  }
}

object Corpus {
  /** Per-table row count plus an md5 over the parquet part-file lengths
    * (part names carry a random id), so a result names the inputs it
    * measured. */
  def fingerprint(dir: String): Map[String, Any] = {
    val d = new java.io.File(dir)
    val tables = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val md = java.security.MessageDigest.getInstance("MD5")
    val rows = tables.map { t =>
      val parts = Option(t.listFiles()).getOrElse(Array(t))
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      parts.zipWithIndex.foreach { case (p, i) =>
        md.update(s"${t.getName}/$i:${p.length()};".getBytes("UTF-8")) }
      t.getName.stripSuffix(".parquet") -> parts.map(p => footerRows(p)).sum
    }
    Map("rows" -> rows.toMap, "md5" -> md.digest().map("%02x".format(_)).mkString)
  }

  private def footerRows(f: java.io.File): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }
}
