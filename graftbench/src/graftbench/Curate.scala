package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The `curate` workload: one thread alternating fully-consumed
  * passes over eight `SparkEntry` queries with micro-batches through
  * `DocStreams.curateGateBounded`. Every timed query ends in a `noop`
  * write, which consumes every output column; a `count()` would let
  * Catalyst prune most of the work (see NOTES.md for the measured gap). */
object Curate {
  /** The batch corpus is fixed so its outputs can be checked against
    * recorded fingerprints; the seed drives query order and the stream. */
  val CorpusSeed = 20261017L
  val GatesPerRound = 3
  val MinPasses = 2
  /** Micro-batches fed during set-up: later ones are still 20-40% faster
    * than the first few. */
  val WarmGateBatches = 6
  val StreamRepeatShare = 0.1

  private def corpusDir(ctx: Ctx) = s"${ctx.args.work}/corpus"

  private def writeCorpus(ctx: Ctx): Unit = {
    val sc = ctx.scale
    Gen.writeCorpus(ctx.spark, corpusDir(ctx), CorpusSeed, sc.curateDocs,
      sc.curateEmbs, sc.curateLines, sc.sources)
  }

  /** Order-independent fingerprint over every column: row count plus the
    * sum of per-row hashes, floating values rounded to 9 digits. */
  def fingerprint(df: DataFrame): (Long, String) = {
    def render(v: Any): String = v match {
      case null => "null"
      case d: Double =>
        if (d.isNaN || d.isInfinite) d.toString
        else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
          .stripTrailingZeros().toPlainString
      case f: Float => render(f.toDouble)
      case b: Array[Byte] =>
        java.security.MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }
        .sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case o => o.toString
    }
    val rows = df.collect()
    val sum = rows.iterator.map(r => scala.util.hashing.MurmurHash3.stringHash(render(r)) & 0xffffffffL).sum
    (rows.length.toLong, f"$sum%016x")
  }

  private def expected(ctx: Ctx): Map[String, (Long, String)] = {
    val j = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ctx.args.expected)), "UTF-8")) \ ctx.scale.name
    Metrics.Queries.flatMap { q =>
      (j \ q \ "rows", j \ q \ "fp") match {
        case (JInt(n), JString(fp)) => Some(q -> (n.toLong, fp))
        case _ => None
      }
    }.toMap
  }

  /** The streaming half: a MemoryStream of documents through the bounded
    * curation gate into a memory sink. Micro-batch `b` carries event
    * time `b` minutes; the 1-day horizon keeps every hash of a run in
    * dedup state, so the emitted rows must equal the batch gate over
    * everything fed. */
  private final class Gate(ctx: Ctx, base: Vector[Gen.Doc]) {
    private val spark = ctx.spark
    import spark.implicits._
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val size = ctx.scale.streamBatch
    private val src = MemoryStream[Gen.Doc]
    private val seen = ArrayBuffer.empty[String]
    val fed = ArrayBuffer.empty[Gen.Doc]
    private var b = 0
    private val sink = "graftbench_gate"
    val query: StreamingQuery = graft.streaming.DocStreams.curateGateBounded(
        src.toDF().withColumn("arrival", timestamp_seconds(lit(1700000000L) +
          floor(($"doc_id" - 100000000L) / size) * 60)), "arrival", "1 day")
      .writeStream.outputMode("append").format("memory").queryName(sink)
      .option("checkpointLocation", s"${ctx.args.work}/gate_ckpt").start()

    /** Feed one micro-batch and wait until it is processed; returns ms. */
    def feed(): Double = {
      val docs = Gen.streamBatch(ctx.args.seed, b, size, base, StreamRepeatShare, seen)
      b += 1
      fed ++= docs
      val t0 = System.nanoTime()
      src.addData(docs)
      query.processAllAvailable()
      (System.nanoTime() - t0) / 1e6
    }

    def repeatShare: Double = 1.0 - fed.map(_.text).distinct.size.toDouble / math.max(1, fed.size)

    /** Emitted rows equal the batch twin of the gate over everything fed. */
    def check(): Unit = {
      def rows(df: DataFrame) = df.select($"file_hash", $"lang_pred", $"n_tokens", $"quality_r")
        .collect().map(_.toString).sorted.toSeq
      val got = rows(spark.table(sink))
      val want = rows(graft.streaming.DocStreams.curateGate(fed.toSeq.toDF()))
      ctx.checks("gate_rows", got == want,
        s"stream emitted ${got.size} rows, batch gate over the same ${fed.size} docs ${want.size}")
    }

    def stop(): Unit = {
      query.stop()
      query.awaitTermination()
      spark.catalog.dropTempView(sink)
    }
  }

  private type Timed = (String, Span, Span)

  /** Build query `q`'s frame (eager barriers run here), then consume
    * every column; one span each. */
  private def timedQuery(ctx: Ctx, q: String): Timed = {
    val tr = ctx.tracer
    val (df, c) = tr.span(s"op.$q.construct", "operators")(graft.SparkEntry.queries(q)(ctx.spark, corpusDir(ctx)))
    val (_, a) = tr.span(s"op.$q.action", "operators")(df.write.format("noop").mode("overwrite").save())
    (q, c, a)
  }

  private def wallMs(t: Timed): Double = t._2.ms + t._3.ms

  /** One pass over the eight queries in a seeded order. */
  private def pass(ctx: Ctx, order: Seq[String]): Seq[Timed] = order.map(timedQuery(ctx, _))

  /** The batch half's figure, a warm pass: per query its fastest wall
    * over the passes, summed over the eight queries. The first pass after
    * set-up is still 10-30% slower than the ones after it. */
  private def batchWallMs(runs: Seq[Timed]): Double =
    runs.groupBy(_._1).values.map(_.map(wallMs).min).sum

  private def orders(seed: Long): Iterator[Seq[String]] = {
    val r = new scala.util.Random(seed * 40503L + 11L)
    Iterator.continually(r.shuffle(Metrics.Queries))
  }

  def run(ctx: Ctx): Map[String, Double] = {
    writeCorpus(ctx)
    val want = expected(ctx)
    val spark = ctx.spark
    val base = Gen.documents(CorpusSeed, ctx.scale.curateDocs, ctx.scale.sources)
    // set-up: the cold pass, which also checks every query's output, on
    // four threads (most of a cold query is single-threaded planning,
    // code generation and JIT), beside the stream's start and its first
    // micro-batches
    val t0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val gate =
      try {
        val started = pool.submit(new java.util.concurrent.Callable[Gate] {
          def call(): Gate = {
            val g = new Gate(ctx, base)
            (0 until WarmGateBatches).foreach(_ => g.feed())
            g
          }
        })
        Metrics.Queries.map { q =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit =
              ctx.checks.guard(s"query_$q")(fingerprint(graft.SparkEntry.queries(q)(spark, corpusDir(ctx))))
                .foreach { got =>
                  ctx.checks(s"output_$q", want.get(q).contains(got),
                    s"$q gave rows/fingerprint $got, recorded ${want.get(q)}")
                }
          })
        }.foreach(_.get())
        started.get()
      } finally pool.shutdown()
    try {
      val setupS = ctx.sessionS + (System.nanoTime() - t0) / 1e9
      println(f"setup: session ${ctx.sessionS}%.2f s, total $setupS%.2f s")
      val order = orders(ctx.args.seed)
      val m =
        if (!ctx.args.trace) {
          val runs = ArrayBuffer.empty[Timed]
          val passMs = ArrayBuffer.empty[Double]
          val gates = ArrayBuffer.empty[Double]
          val start = System.nanoTime()
          val end = ctx.deadline(ctx.args.seconds)
          // rounds of one pass and a few micro-batches: at least MinPasses,
          // so every query has a warm timing; after that, a round starts
          // only if it can end in the window
          val roundMs = ArrayBuffer.empty[Double]
          do {
            val r0 = System.nanoTime()
            val p = pass(ctx, order.next())
            runs ++= p
            passMs += p.map(wallMs).sum
            println("curate pass: " + p.map(t => f"${t._1} ${wallMs(t)}%.0f").mkString(", ") + " ms")
            (0 until GatesPerRound).foreach(_ => gates += gate.feed())
            roundMs += (System.nanoTime() - r0) / 1e6
          } while (passMs.size < MinPasses ||
            System.nanoTime() + Stats.median(roundMs.toSeq) * 1e6 < end)
          val wall = (System.nanoTime() - start) / 1e9
          println(s"curate: ${passMs.size} passes ${passMs.map(p => f"$p%.0f").mkString(" ")} ms, " +
            s"micro-batches ${gates.map(g => f"$g%.0f").mkString(" ")} ms, in $wall s")
          Map("main_ms" -> batchWallMs(runs.toSeq), "side_ms" -> Stats.median(gates.toSeq))
        } else traced(ctx, gate, order)
      gate.check()
      m ++ Map("setup_s" -> setupS, "input.repeat_share" -> gate.repeatShare)
    } finally gate.stop()
  }

  /** Traced passes while they fit in the window, each followed by
    * traced micro-batches. Every query of a pass runs twice on the same
    * corpus, with the listeners installed and without, the order
    * alternating, so `trace.overhead_ms` compares the same work: per
    * query the median over its pairs, summed over the eight queries.
    * Per-query and gate metrics are medians over the traced runs. */
  private def traced(ctx: Ctx, gate: Gate, order: Iterator[Seq[String]]): Map[String, Double] = {
    val tr = ctx.tracer
    val runs = ArrayBuffer.empty[Timed]
    val pairs = ArrayBuffer.empty[(String, Double)]
    val progress = ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    val end = ctx.deadline(ctx.args.seconds)
    var k = 0
    var roundMs = 0.0
    while (runs.isEmpty || System.nanoTime() + roundMs * 1e6 < end) {
      val t0 = System.nanoTime()
      order.next().foreach { q =>
        def plain(): Double = {
          val t = System.nanoTime()
          graft.SparkEntry.queries(q)(ctx.spark, corpusDir(ctx)).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t) / 1e6
        }
        def withTrace(): (Timed, Double) = {
          tr.install()
          try {
            val t = System.nanoTime()
            val r = timedQuery(ctx, q)
            (r, (System.nanoTime() - t) / 1e6)
          } finally tr.uninstall()
        }
        val ((r, tracedMs), plainMs) =
          if (k % 2 == 0) { val x = withTrace(); (x, plain()) }
          else { val u = plain(); (withTrace(), u) }
        k += 1
        runs += r
        pairs += q -> (tracedMs - plainMs)
      }
      tr.install()
      (0 until GatesPerRound).foreach { _ =>
        val last = Option(gate.query.lastProgress).map(_.batchId).getOrElse(-1L)
        tr.span("stream.batch", "streaming")(gate.feed())
        progress ++= gate.query.recentProgress.filter(p => p.batchId > last && p.numInputRows > 0)
      }
      tr.uninstall()
      roundMs = (System.nanoTime() - t0) / 1e6
    }
    val perQuery = Metrics.Queries.flatMap { q =>
      val mine = runs.filter(_._1 == q).toSeq
      def med(f: Timed => Double) = Stats.median(mine.map(f))
      Seq(s"q.$q.construct_s" -> med(_._2.ms / 1e3), s"q.$q.action_s" -> med(_._3.ms / 1e3),
        s"q.$q.task_s" -> med(x => (x._2.work.taskMs + x._3.work.taskMs) / 1e3),
        s"q.$q.shuffle_bytes" -> med(x => (x._2.work.shuffleBytes + x._3.work.shuffleBytes).toDouble),
        s"q.$q.spill_bytes" -> med(x => (x._2.work.spillBytes + x._3.work.spillBytes).toDouble),
        s"q.$q.single_task_stage_s" ->
          med(x => (x._2.work.singleTaskStageMs + x._3.work.singleTaskStageMs) / 1e3))
    }
    def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).toSeq
    val lastState = progress.lastOption.toSeq.flatMap(_.stateOperators)
    val overhead = pairs.groupBy(_._1).values.map(xs => Stats.median(xs.map(_._2).toSeq)).sum
    println(s"curate traced: ${runs.size / Metrics.Queries.size} paired passes, " +
      f"tracing overhead $overhead%.0f ms per pass")
    perQuery.toMap ++ Map(
      "gate.add_batch_ms" -> Stats.median(dur("addBatch")),
      "gate.planning_ms" -> Stats.median(dur("queryPlanning")),
      "gate.state_rows" -> lastState.map(_.numRowsTotal).sum.toDouble,
      "gate.state_bytes" -> lastState.map(_.memoryUsedBytes).sum.toDouble,
      "spark.failed_tasks" -> tr.spans.map(_.work.failedTasks).sum.toDouble,
      "trace.overhead_ms" -> overhead
    ) ++ tr.selfMetrics
  }

  /** Print each query's warm wall under `count()` against a `noop` write
    * that consumes every column (best of two, after one warm-up pass). */
  def countAb(ctx: Ctx): Unit = {
    writeCorpus(ctx)
    val dir = corpusDir(ctx)
    def fn(q: String) = graft.SparkEntry.queries(q)(ctx.spark, dir)
    Metrics.Queries.foreach(q => fn(q).write.format("noop").mode("overwrite").save())
    def best(f: => Unit) = (0 until 2).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }.min
    println("| query | count() s | all columns consumed s | ratio |")
    println("| --- | --- | --- | --- |")
    Metrics.Queries.foreach { q =>
      val c = best(fn(q).count())
      val n = best(fn(q).write.format("noop").mode("overwrite").save())
      println(f"| $q | $c%.3f | $n%.3f | ${n / c}%.1fx |")
    }
  }

  /** Print the fingerprints of the fixed corpus at this scale, in the
    * shape of the expected-outputs file. */
  def record(ctx: Ctx): Unit = {
    writeCorpus(ctx)
    val fps = Metrics.Queries.map { q =>
      val (n, fp) = fingerprint(graft.SparkEntry.queries(q)(ctx.spark, corpusDir(ctx)))
      q -> Map("rows" -> n, "fp" -> fp)
    }
    println(Json.obj(Seq(ctx.scale.name -> fps.toMap)))
  }
}
