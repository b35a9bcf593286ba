package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraftVectorDB

/** Crash safety of the store lifecycle, proven by injected faults
  * rather than hand-staged residue: every lifecycle op runs once
  * cleanly on a [[FaultFs]]-backed copy of one template store to count
  * its renames/creates (K), then once per crash point N in 1..K, each
  * time on a fresh copy with the N-th rename/create failing and the
  * process dead from there on. The store is then reopened as a new
  * process would (the dead writer's `_LOCK` removed, as an operator
  * would, no serving cache kept), its first write (a snapshot) runs
  * recovery, and it must serve
  *
  *  - for ops that keep content: exactly what it served before the op;
  *  - for ops that change content: every doc the op did not target,
  *    and after re-running the op, exactly what a fault-free run
  *    serves;
  *  - for an ingest, already before the re-run: what was served before
  *    it or what a fault-free run serves (recovery completes the index
  *    and sidecar entries of rows the crash left stored, so that
  *    cannot depend on the next batch);
  *
  * with no dot-prefixed aside or staged path left anywhere.
  *
  * "Serves" = `searchAnn` and `searchHybrid` over every cell (so a
  * rebuild's new geometry cannot change the answer, only a lost or
  * duplicated row can), the store's doc set, the text index's row ids
  * and the live lexical chunks (so an entry no answer reaches still
  * counts), and the near-dup gate's whole input: the live
  * (untombstoned) sets and bands entries, which fix the gate's verdict
  * on every possible batch. The near-dup sidecar is fail-open: after a
  * crashed ingest it may lack the entries of docs the crash left
  * stored (which only admits a future near-dup of them), never hold
  * extra ones, so for an ingest the gate input must lie between the
  * before and the fault-free one. Crashes inside Spark's own committer
  * (`_temporary`) are out of scope. */
class CrashSweepSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  import SparkTestSession._

  /** Above this many dirs Spark lists a table with a Spark job, one
    * task per dir, and the lexical sidecar's bucket dirs are past the
    * default (32); listing them on the driver lists the same files
    * without a job. */
  private val ListingThreshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
  private var listingThreshold: Option[String] = None

  override def beforeAll(): Unit = {
    listingThreshold = spark.conf.getOption(ListingThreshold)
    spark.conf.set(ListingThreshold, "100000")
  }

  override def afterAll(): Unit =
    listingThreshold.fold(spark.conf.unset(ListingThreshold))(spark.conf.set(ListingThreshold, _))

  private val base = new java.io.File("target/crash_sweep").getAbsolutePath
  private val templateDir = s"$base/template"
  private val query = "fast query join table"
  private val AllCells = 1024
  /** Crash points run concurrently, each worker on its own store copy
    * and fault scope. A point is dozens of small Spark jobs, mostly
    * driver-side planning and schema inference; on a 4-core box 6
    * workers keep the cores busier than 4 (sweep 316 s against 354 s). */
  private val Workers = 6

  private def rmRf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmRf))
    f.delete()
  }

  private def copyDir(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(f => copyDir(f, new java.io.File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  private lazy val docs = Tables.load(spark, sf, "documents")
  private def batch(lo: Int, hi: Int) =
    docs.filter(col("doc_id") >= lo && col("doc_id") < hi)

  /** Wall time per sweep phase, summed over workers. */
  private val phaseNs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
  private def timed[T](phase: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phaseNs.merge(phase, System.nanoTime() - t0, (a, b) => a + b)
  }

  /** 40 docs through the near-dup gate, a 4-cell text index, the
    * lexical sidecar, one indexed ingest on top (so cells and
    * partitions hold several files), and a planted hot cell: two
    * lobes around one stored embedding, which one split separates. */
  private lazy val template: GraftVectorDB = {
    import spark.implicits._
    FaultFs.register(spark.sparkContext.hadoopConfiguration)
    rmRf(new java.io.File(base))
    val db = new GraftVectorDB(spark, FaultFs.uri(templateDir))
    db.ingestNearDup(batch(0, 30))
    db.buildAnnIndex(cells = 4)
    db.indexLexical()
    db.ingestNearDup(batch(30, 40), Seq("text"))
    val at = db.store.select($"embedding").head().getSeq[Double](0)
    val plant = (0 until 24).map(i => (900000L + i, s"planted doc $i", "en", "srcP"))
      .toDF("doc_id", "text", "lang", "source")
    db.ingestRecords(GraftVectorDB.pipeline(plant).filter($"page_num" === 0)
      .withColumn("embedding", transform(typedLit(at), (x, i) =>
        when(i === 0, x + when(xxhash64($"doc_name") % 2 === 0, 0.02).otherwise(-0.02))
          .when(i === 1, x + pmod(xxhash64($"doc_name"), lit(100)) / 10000.0)
          .otherwise(x))), Seq("text"))
    db
  }

  /** One worker's store: a fresh copy of the template under `dir`. */
  private final class Store(val dir: String) {
    val scope: FaultFs.Scope = FaultFs.scope(dir)

    def fresh(): GraftVectorDB = timed("copy") {
      rmRf(new java.io.File(dir))
      copyDir(new java.io.File(templateDir), new java.io.File(dir))
      scope.reset()
      new GraftVectorDB(spark, FaultFs.uri(dir))
    }

    /** A new process opening the store after a crash: the dead
      * writer's lease is removed (as an operator would) and no serving
      * cache survives. */
    def restart(): GraftVectorDB = {
      scope.reset()
      new java.io.File(dir, "_LOCK").delete()
      GraftVectorDB.routingCache.keySet.removeIf(_.contains(s"$dir/"))
      new GraftVectorDB(spark, FaultFs.uri(dir))
    }

    /** [[restart]], then a first write (a snapshot) that recovers. */
    def reopen(): GraftVectorDB = timed("reopen") {
      val db = restart()
      db.snapshot()
      db
    }

    def served(db: GraftVectorDB): Served = {
      val ann = timed("served: searchAnn") {
        db.searchAnn(query, 5, nProbe = AllCells).collect().toSeq.map(r =>
          (r.getAs[String]("doc_name"), r.getAs[String]("content_id"), r.getAs[Double]("sim_r")))
      }
      val hybrid = timed("served: searchHybrid") {
        db.searchHybrid(query, 5, nProbe = AllCells).collect().toSeq.map(r =>
          (r.getAs[String]("doc_name"), r.getAs[String]("content_id"),
            Option(r.get(2)).map(_.asInstanceOf[Long]),
            Option(r.get(3)).map(_.asInstanceOf[Long])))
      }
      timed("served: store, index and sidecar reads") {
        Served(ann, hybrid, docsOf(dir), annRows(dir), lexChunks(dir), liveSidecar(s"$dir/neardup"))
      }
    }

    def residue(): Seq[String] = dotted(new java.io.File(dir)).map(_.stripPrefix(dir))
  }

  private def docsOf(dir: String): Set[String] =
    rows(s"$dir/vector_store", "doc_name string").map(_.getString(0)).toSet

  private case class Served(ann: Seq[(String, String, Double)],
      hybrid: Seq[(String, String, Option[Long], Option[Long])],
      docs: Set[String], annRows: Set[Long], lexChunks: Set[String],
      gate: (Set[String], Set[String])) {
    def withoutGate: Served = copy(gate = (Set.empty, Set.empty))
    /** Whether the gate input lies between `lo`'s and `hi`'s. */
    def gateWithin(lo: Served, hi: Served): Boolean =
      lo.gate._1.subsetOf(gate._1) && gate._1.subsetOf(hi.gate._1) &&
        lo.gate._2.subsetOf(gate._2) && gate._2.subsetOf(hi.gate._2)
  }

  private def diff(got: Served, want: Served): String =
    Seq("searchAnn" -> (got.ann, want.ann), "searchHybrid" -> (got.hybrid, want.hybrid),
      "store docs" -> (got.docs, want.docs), "text index rows" -> (got.annRows, want.annRows),
      "live lexical chunks" -> (got.lexChunks, want.lexChunks),
      "near-dup gate input" -> (got.gate, want.gate))
      .collect { case (what, (g, w)) if g != w => s"$what: got $g, want $w" }
      .mkString("; ")

  /** The `schema` columns of the parquet dir `dir` (the schema given,
    * so no inference job runs). */
  private def rows(dir: String, schema: String): Array[org.apache.spark.sql.Row] = {
    val st = org.apache.spark.sql.types.StructType.fromDDL(schema)
    if (!new java.io.File(dir).exists()) Array.empty
    else spark.read.schema(st).parquet(FaultFs.uri(dir)).select(st.fieldNames.map(col): _*)
      .collect()
  }

  /** The rows of `dir/sub` no tombstone in `dir/tombstones` outranks,
    * as their `schema` columns but `gen` joined by `|`. */
  private def live(dir: String, sub: String, schema: String): Set[String] = {
    val tomb = rows(s"$dir/tombstones", "doc_name string, tgen long").groupBy(_.getString(0))
      .map { case (n, rs) => n -> rs.map(_.getLong(1)).max }
    rows(s"$dir/$sub", s"$schema, gen long")
      .filter(r => tomb.get(r.getAs[String]("doc_name")).forall(r.getAs[Long]("gen") > _))
      .map(r => r.toSeq.dropRight(1).map {
        case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
        case v => String.valueOf(v)
      }.mkString("|")).toSet
  }

  private def liveSidecar(dir: String): (Set[String], Set[String]) =
    (live(dir, "sets", "doc_name string, shh array<bigint>"),
      live(dir, "bands", "doc_name string, band int, bkey string"))

  private def annRows(dir: String): Set[Long] =
    rows(s"$dir/ann_index_text", "row_id long").map(_.getLong(0)).toSet

  private def lexChunks(dir: String): Set[String] =
    live(s"$dir/lexical", "postings", "doc_name string, page_num long, content_id string")

  /** The text rows of the store, as index row ids and lexical chunks. */
  private def storeEntries(db: GraftVectorDB): (Set[Long], Set[String]) = {
    val rs = db.store.select(xxhash64(col("doc_name"), col("content_type"), col("content_id")),
      concat_ws("|", col("doc_name"), col("page_num"), col("content_id"))).collect()
    (rs.map(_.getLong(0)).toSet, rs.map(_.getString(1)).toSet)
  }

  private def dotted(dir: java.io.File): Seq[String] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      (if (f.getName.startsWith(".")) Seq(f.getPath) else Nil) ++
        (if (f.isDirectory) dotted(f) else Nil)
    }

  private case class Op(name: String, run: GraftVectorDB => Any,
      targeted: Set[String] = Set.empty, changesContent: Boolean = false)

  /** 10 new docs, and one more whose text a stored doc (a planted one,
    * which the gate has no entry for) already holds under another
    * name: store dedup skips it, so no index or sidecar may hold it. */
  private lazy val ingestBatch = batch(40, 50).unionByName(batch(40, 41)
    .withColumn("doc_id", (col("doc_id") + 990000).cast(docs.schema("doc_id").dataType))
    .withColumn("text", lit("planted doc 3")))

  private lazy val ops: Seq[Op] = {
    val all = template.store.select("doc_name").distinct().collect()
      .map(_.getString(0)).sorted
    // a ratio only the hottest cell exceeds and, where the occupancy
    // allows, the runner-up still stays under once the split adds a
    // cell (lowering the mean)
    val occ = template.annCellHistogram("text").values.toSeq.sorted.reverse
    val hi = occ(0) * occ.size.toDouble / occ.sum
    val lo = occ(1) * (occ.size + 1).toDouble / occ.sum
    val splitRatio = if (lo < hi) (lo + hi) / 2 else hi * 0.99
    val del = Set(all(2))
    val delWhere = Set(all(9))
    Seq(
      Op("ingest", _.ingestNearDup(ingestBatch, Seq("text")), changesContent = true),
      Op("delete", _.delete(del.toSeq), del, changesContent = true),
      Op("deleteWhere", _.deleteWhere(col("doc_name").isin(delWhere.toSeq: _*)),
        delWhere, changesContent = true),
      Op("maintainStore", _.maintainStore(targetFiles = 1)),
      Op("compactAnnIndex", _.compactAnnIndex("text", targetFiles = 1)),
      Op("splitHotCells", _.splitHotCells("text", splitRatio)),
      Op("maintainLexical", _.maintainLexical()),
      Op("maintainNearDup", _.maintainNearDup(targetFiles = 1)),
      Op("snapshot", _.snapshot()),
      Op("buildAnnIndex", _.buildAnnIndex(cells = 4)),
      Op("indexLexical", _.indexLexical()))
  }

  /** Run `work` over `items` on [[Workers]] threads, each with its own
    * [[Store]]; the first failure stops the sweep. */
  private def parallel[A, B](items: Seq[A])(work: (Store, A) => B): Seq[B] = {
    val queue = new java.util.concurrent.ConcurrentLinkedQueue(
      java.util.Arrays.asList(items.zipWithIndex: _*))
    val results = new java.util.concurrent.ConcurrentHashMap[Int, B]
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val threads = (0 until Workers).map { w =>
      val store = new Store(s"$base/worker$w")
      new Thread(() => {
        var next = queue.poll()
        while (next != null && failure.get == null) {
          try results.put(next._2, work(store, next._1))
          catch { case e: Throwable => failure.compareAndSet(null, e) }
          next = queue.poll()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(failure.get).foreach(throw _)
    items.indices.map(results.get)
  }

  test("every lifecycle op survives a crash at every rename/create") {
    template
    val t0 = System.nanoTime()
    val before = new Store(s"$base/before")
    val servedBefore = before.served(before.fresh())
    // clean counting pass: K = the op's renames/creates, and what a
    // fault-free run serves afterwards
    val plans = parallel(ops) { (store, op) =>
      val db = store.fresh()
      timed("run") { op.run(db) }
      val k = store.scope.counted.length
      val after = store.served(store.reopen())
      assert(op.changesContent || after == servedBefore,
        s"${op.name}: a fault-free run must not change what is served: " +
          diff(after, servedBefore))
      assert(k > 0, s"${op.name}: no rename/create to fail")
      (op, k, after)
    }
    val points = plans.flatMap { case (op, k, after) => (1 to k).map(n => (op, n, k, after)) }
    parallel(points) { case (store, (op, n, k, after)) =>
      val db = store.fresh()
      store.scope.crashAt(n)
      val outcome = timed("run") { scala.util.Try(op.run(db)) }
      val where = s"${op.name} crashed at op $n/$k (${store.scope.counted.lastOption.getOrElse("?")})"
      assert(store.scope.crashed && outcome.isFailure, s"$where: the injected crash must propagate")
      val db2 = store.reopen()
      if (op.name == "ingest") {
        val got = store.served(db2)
        assert(Seq(servedBefore, after).exists(_.withoutGate == got.withoutGate),
          s"$where: recovery must serve the state before or after the ingest: " +
            s"against before: ${diff(got, servedBefore)}; against after: ${diff(got, after)}")
        assert(got.gateWithin(servedBefore, after),
          s"$where: near-dup gate input outside before..after: ${diff(got, after)}")
        timed("rerun") { op.run(db2) }
        val again = store.served(db2)
        assert(again.withoutGate == after.withoutGate && again.gateWithin(servedBefore, after),
          s"$where: re-running must converge on a fault-free run: " + diff(again, after))
      } else if (op.changesContent) {
        val lost = (servedBefore.docs -- op.targeted) -- docsOf(store.dir)
        assert(lost.isEmpty, s"$where: untargeted docs vanished: $lost")
        timed("rerun") { op.run(db2) }
        val again = store.served(db2)
        assert(again == after, s"$where: re-running must converge on a fault-free run: " +
          diff(again, after))
      } else {
        val got = store.served(db2)
        assert(got == servedBefore, s"$where: served state changed: ${diff(got, servedBefore)}")
      }
      val left = store.residue()
      assert(left.isEmpty, s"$where: residue after recovery: $left")
    }
    plans.foreach { case (op, k, _) => info(s"${op.name}: $k crash points") }
    info(f"${points.length} crash points, $Workers workers, " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    phaseNs.forEach((phase, ns) => info(f"$phase: ${ns / 1e9}%.1f s summed over workers"))
  }

  test("a crashed ingest's stored rows get their entries whichever batch comes next") {
    template
    val store = new Store(s"$base/next_batch")
    val ingest = ops.find(_.name == "ingest").get
    ingest.run(store.fresh())
    // crash at the store write's success marker: its data files are
    // committed, the index and sidecar appends have not run
    val n = store.scope.counted.indexWhere(_.contains("vector_store/_SUCCESS")) + 1
    assert(n > 0, s"no store commit among ${store.scope.counted}")
    val db = store.fresh()
    store.scope.crashAt(n)
    assert(scala.util.Try(ingest.run(db)).isFailure && store.scope.crashed)
    val stranded = storeEntries(db)._1 -- annRows(s"$base/next_batch")
    assert(stranded.nonEmpty, "the crash must leave stored rows outside the index")
    val db2 = store.restart()
    db2.ingest(batch(60, 63), Seq("text"))
    val (rowIds, chunks) = storeEntries(db2)
    assert(annRows(s"$base/next_batch") == rowIds)
    assert(lexChunks(s"$base/next_batch") == chunks)
    assert(docsOf(s"$base/next_batch").exists(_.endsWith("/doc_41.txt")))
  }
}
