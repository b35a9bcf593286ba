package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.ContentTypes
import graft.operators.{GraftVectorDB, SortedRuns}

/** Document deletion — the takedown/GDPR lifecycle op: deleted docs
  * vanish from every serving path (exact, ANN, PQ, both channels)
  * without a rebuild, untouched partitions/cells are not rewritten,
  * the freed content hash allows re-ingest, and the maintenance
  * machinery (drift gauge, crash recovery) stays consistent. */
class DeletionSpec extends AnyFunSuite {
  import SparkTestSession._

  private val dbDir = "target/vdb_delete_spec"
  private lazy val db = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    val root = new java.io.File(dbDir)
    if (root.exists()) rm(root)
    val d = new GraftVectorDB(spark, dbDir)
    val docs = Tables.load(spark, sf, "documents")
    assert(d.ingest(docs.filter(col("doc_id") < 200)) > 0)
    // an image batch (with captions into the text channel) so both
    // channels and all three content types are live
    val img = GraftVectorDB.toImageChannel(
      GraftVectorDB.pipeline(docs.filter(col("doc_id") >= 400))
        .filter(col("page_num") === 0))
    assert(d.ingestRecords(img.unionByName(GraftVectorDB.captionRows(img))) > 0)
    d.buildAnnIndex(cells = 8, channel = "text")
    d.buildAnnIndex(cells = 4, channel = "image")
    d
  }

  private val q = "fast query join table"

  test("delete removes docs from every serving path on both channels, without a rebuild") {
    import spark.implicits._
    // delete the top text hit and the top image hit — absence is then
    // observable on every path
    val topText = db.search(q, 1).head().getAs[String]("doc_name")
    val topImage = db.searchImage(q, 1).head().getAs[String]("doc_name")
    val victims = Seq(topText, topImage).distinct
    val expect = db.store.filter($"doc_name".isin(victims: _*)).count()
    assert(expect > 0)
    val rowsBefore = db.store.count()
    val idxTextBefore = spark.read.parquet(db.annPath("text")).count()

    val removed = db.delete(victims)
    assert(removed == expect, s"expected $expect rows removed, got $removed")
    assert(db.store.count() == rowsBefore - removed)
    assert(db.store.filter($"doc_name".isin(victims: _*)).count() == 0)

    // exact paths
    def names(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.getAs[String]("doc_name")).toSet
    assert(!names(db.search(q, 10).collect()).exists(victims.contains))
    assert(!names(db.searchImage(q, 10).collect()).exists(victims.contains))
    assert(!names(db.searchMultimodal(q, 10).collect()).exists(victims.contains))
    // ANN paths, full probe: must equal the exact search over the
    // remaining corpus — deletion preserves the index ≡ store contract
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("rnk"), r.getAs[Double]("sim_r"),
        r.getAs[String]("doc_name"), r.getAs[String]("content_id"))).toSeq
    assert(key(db.searchAnn(q, 5, nProbe = 8).collect()) ==
      key(db.search(q, 5).collect()))
    assert(key(db.searchAnnImage(q, 5, nProbe = 4).collect()) ==
      key(db.searchImage(q, 5).collect()))
    // PQ path: exhaustive config == exact search
    val rows = spark.read.parquet(db.annPath("text")).count().toInt
    assert(key(db.searchAnnPq(q, 5, 8, rows).collect()) ==
      key(db.search(q, 5).collect()))
    // index rows dropped, counter recorded
    assert(spark.read.parquet(db.annPath("text")).count() < idxTextBefore)
    assert(spark.read.parquet(db.annPath("text"))
      .filter($"doc_name".isin(victims: _*)).count() == 0)
    assert(spark.read.parquet(db.annPath("image"))
      .filter($"doc_name".isin(victims: _*)).count() == 0)
    // drift gauge still sane (deletes do not poison it)
    assert(db.annAppendFraction("text") >= 0.0)
  }

  test("delete touches only the cells holding victims; untouched cells' files unmoved") {
    import spark.implicits._
    // compact first so every cell is a single file with a stable mtime
    db.compactAnnIndex("text", targetFiles = 1)
    val idxDir = new java.io.File(db.annPath("text"))
    def cellFiles: Map[String, java.io.File] = idxDir.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet")).head)
      .toMap
    val victim = db.search(q, 1).head().getAs[String]("doc_name")
    val victimCells = spark.read.parquet(db.annPath("text"))
      .filter($"doc_name" === victim).select($"cell").distinct()
      .collect().map(r => s"cell=${r.getInt(0)}").toSet
    assert(victimCells.nonEmpty)
    val untouched = cellFiles.filterNot { case (c, _) => victimCells.contains(c) }
    assert(untouched.nonEmpty, "need untouched cells for the O(touched) assertion")
    val mtimes = untouched.map { case (c, f) => c -> f.lastModified }
    assert(db.delete(Seq(victim)) > 0)
    val after = cellFiles
    mtimes.foreach { case (c, t) =>
      assert(after(c).lastModified == t, s"delete rewrote untouched cell $c")
    }
    // store partitions not holding victims are untouched too: the
    // image partition had no rows of a text-chunk doc
    assert(db.store.filter($"doc_name" === victim).count() == 0)
  }

  test("deleting a doc frees its content hash: re-ingest is allowed again") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents").filter(col("doc_id") === 7)
    val name = GraftVectorDB.pipeline(docs).select($"doc_name").head().getString(0)
    assert(db.store.filter($"doc_name" === name).count() > 0)
    // re-ingest while present: skipped (already-processed)
    assert(db.ingest(docs) == 0)
    val removed = db.delete(Seq(name))
    assert(removed > 0)
    // re-ingest after deletion: the hash is free again
    val again = db.ingest(docs)
    assert(again == removed, s"re-ingest appended $again, expected $removed")
    assert(db.store.filter($"doc_name" === name).count() == removed)
  }

  test("deleteWhere validates the predicate eagerly and treats NULL as keep") {
    import spark.implicits._
    // store-only column: must fail BEFORE any rewrite
    val e = intercept[Exception](db.deleteWhere($"file_hash" === "xyz"))
    assert(e.getMessage.toLowerCase.contains("file_hash"))
    // a predicate that is NULL for every row (null literal comparison)
    // must delete nothing and keep everything
    val before = db.store.count()
    assert(db.deleteWhere($"doc_name" === lit(null).cast("string")) == 0)
    assert(db.store.count() == before, "NULL predicate must not drop rows")
    // deleteWhere by page: partial delete keeps the doc's other chunks
    val victim = db.store.filter($"content_type" === ContentTypes.TextChunk)
      .groupBy($"doc_name").count().filter($"count" >= 2)
      .select($"doc_name").head().getString(0)
    val pages = db.store.filter($"doc_name" === victim).count()
    val n = db.deleteWhere($"doc_name" === victim && $"page_num" === 0)
    assert(n == 1)
    assert(db.store.filter($"doc_name" === victim).count() == pages - 1)
  }

  test("delete is FILE-granular: only footer-intersecting files rewrite; names preserved") {
    import spark.implicits._
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    val dir2 = "target/vdb_delete_files_spec"
    rm(new java.io.File(dir2))
    val db2 = new GraftVectorDB(spark, dir2)
    val docs = Tables.load(spark, sf, "documents")
    assert(db2.ingest(docs.filter(col("doc_id") < 50)) > 0)
    // a second batch in a DISJOINT doc_name range ("corpus/zz/...")
    // lands in separate files whose row-group [min,max] can never
    // contain a "corpus/srcN/..." victim
    assert(db2.ingest(docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
      .withColumn("source", lit("zz"))) > 0)
    db2.buildAnnIndex(cells = 4)
    val part = new java.io.File(s"${db2.storePath}/content_type=text_chunk")
    def files: Map[String, Long] = part.listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    val before = files
    assert(before.size > 1, "need a multi-file partition")
    val victim = db2.store.filter($"doc_name".startsWith("corpus/src"))
      .select($"doc_name").head().getString(0)
    val removed = db2.delete(Seq(victim))
    assert(removed > 0)
    val after = files
    assert(after.keySet == before.keySet,
      "the per-file swap must preserve file names")
    val untouched = before.filter { case (n, t) => after(n) == t }
    assert(untouched.nonEmpty,
      "footer pruning must leave range-disjoint files unmoved")
    assert(untouched.size < before.size, "the victim's file must have rewritten")
    // correctness through the granular path
    assert(db2.store.filter($"doc_name" === victim).count() == 0)
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("rnk"), r.getAs[Double]("sim_r"),
        r.getAs[String]("doc_name"), r.getAs[String]("content_id"))).toSeq
    assert(key(db2.searchAnn(q, 5, nProbe = 4).collect()) ==
      key(db2.search(q, 5).collect()),
      "full-probe ANN must equal exact search after a file-granular delete")
    assert(spark.read.parquet(db2.annPath("text"))
      .filter($"doc_name" === victim).count() == 0)

    // crash recovery: a live file renamed aside with no replacement is
    // the mid-swap state — the next delete's entry must restore it
    val f = part.listFiles().filter(_.getName.endsWith(".parquet")).head
    val aside = new java.io.File(part, s".delete_old_${f.getName}")
    val rowsNow = db2.store.count()
    assert(f.renameTo(aside))
    assert(db2.delete(Seq("corpus/zz/doc_100.txt")) >= 0) // entry runs recovery
    assert(new java.io.File(part, f.getName).exists(), "mid-swap file must be restored")
    assert(!aside.exists())
    assert(db2.store.filter($"doc_name" === "corpus/zz/doc_100.txt").count() == 0)
    assert(db2.store.count() < rowsNow, "the zz delete itself must also have applied")

    // ALL rows of a file deleted: the replacement is a ZERO-ROW file
    // (a missing live file must stay unambiguous crash state), and the
    // partition keeps reading cleanly
    val zzNames = db2.store.filter($"doc_name".startsWith("corpus/zz/"))
      .select($"doc_name").distinct().collect().map(_.getString(0)).toSeq
    assert(zzNames.nonEmpty)
    assert(db2.delete(zzNames) > 0)
    assert(db2.store.filter($"doc_name".startsWith("corpus/zz/")).count() == 0)
    assert(files.keySet == before.keySet,
      "all-rows-deleted files must be replaced by zero-row files, not removed")
    assert(db2.search(q, 3).collect().nonEmpty, "the partition must keep serving")
  }

  test("maintainStore compacts only fragmented partitions; results invariant") {
    import spark.implicits._
    // the suite's db: text_chunk has accumulated several ingest batches
    val part = new java.io.File(s"${db.storePath}/content_type=text_chunk")
    def nFiles(d: java.io.File) = d.listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles(part) > 1, "need fragmentation to exercise the sweep")
    val imgPart = new java.io.File(s"${db.storePath}/content_type=image")
    val imgMtimes = imgPart.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap
    val before = db.search(q, 5).collect().toSeq
    val rowsBefore = db.store.count()
    // image partition is single-file → at/under the bound → untouched
    val (parts, rows) = db.maintainStore(targetFiles = 1)
    assert(parts >= 1 && rows > 0)
    assert(nFiles(part) == 1, "fragmented partition must collapse")
    if (imgMtimes.size <= 1)
      imgPart.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        assert(imgMtimes.get(f.getName).contains(f.lastModified),
          "an unfragmented partition's files must not move")
      }
    assert(db.store.count() == rowsBefore)
    assert(db.search(q, 5).collect().toSeq == before, "serving invariant")
    // a second sweep is a no-op
    assert(db.maintainStore(targetFiles = 1) == ((0, 0L)))
  }

  test("fileTouchesNames: footer-stat pruning is conservative at every boundary") {
    import spark.implicits._
    val dir = new java.io.File("target/vdb_footer_spec")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(dir)
    // one sorted file spanning doc_name b..d (c deliberately absent:
    // stats say it COULD be there — pruning must stay conservative)
    Seq("b", "bb", "d").map(n => (n, 1)).toDF("doc_name", "x")
      .coalesce(1).sortWithinPartitions("doc_name")
      .write.parquet(dir.toString)
    val f = dir.listFiles().find(_.getName.endsWith(".parquet")).get
    val conf = spark.sparkContext.hadoopConfiguration
    val st = org.apache.hadoop.fs.FileSystem.getLocal(conf)
      .getFileStatus(new org.apache.hadoop.fs.Path(f.getAbsolutePath))
    def touches(names: String*): Boolean =
      SortedRuns.fileTouchesNames(st, names.sorted.toArray, conf)
    assert(touches("b"), "min boundary must touch")
    assert(touches("d"), "max boundary must touch")
    assert(touches("c"), "an absent name inside the range must stay touched (conservative)")
    assert(!touches("a"), "below min must prune")
    assert(!touches("e"), "above max must prune")
    assert(!touches("a", "e") && touches("a", "c", "e"),
      "multi-name lists follow any-intersection")
  }

  test("a crash between the store rewrite and the index cleanup converges by re-running") {
    import spark.implicits._
    // fabricate the post-crash state: rows in the INDEX whose store
    // rows are gone (what a kill between the partition swap and the
    // index cleanup leaves) — append index rows for a doc the store
    // never held
    val ghostDocs = Seq((990001L, "ghost takedown doc fast join table", "en", "srcG"))
      .toDF("doc_id", "text", "lang", "source")
    val ghostRecords = GraftVectorDB.pipeline(ghostDocs)
    val ghostName = ghostRecords.select($"doc_name").head().getString(0)
    assert(db.appendAnnIndex(ghostRecords) > 0)
    assert(spark.read.parquet(db.annPath("text"))
      .filter($"doc_name" === ghostName).count() > 0)
    assert(db.store.filter($"doc_name" === ghostName).count() == 0)
    // rerun of the "interrupted" delete: the store matches nothing
    // (returns 0) but the index must still be cleaned
    assert(db.delete(Seq(ghostName)) == 0)
    assert(spark.read.parquet(db.annPath("text"))
      .filter($"doc_name" === ghostName).count() == 0,
      "rerun must clean the index even when the store matched nothing")
  }

  test("a multi-file takedown's job count does NOT grow with the touched-file count") {
    import spark.implicits._
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    val dir4 = "target/vdb_delete_jobs_spec"
    rm(new java.io.File(dir4))
    val db4 = new GraftVectorDB(spark, dir4)
    val docs = Tables.load(spark, sf, "documents")
    // victim A's doc_name spans 3 batches' files; victim B's spans 8 —
    // repeated ingests of the SAME doc_names (fresh hashes) put one
    // name in one file per batch, and the disjoint id ranges keep the
    // two victims' footer ranges from touching each other's files
    (1 to 3).foreach { k =>
      assert(db4.ingest(docs.filter($"doc_id" < 10)
        .withColumn("text", concat($"text", lit(s" copy $k")))) > 0)
    }
    (1 to 8).foreach { k =>
      assert(db4.ingest(docs.filter($"doc_id" >= 30 && $"doc_id" < 40)
        .withColumn("text", concat($"text", lit(s" other $k")))) > 0)
    }
    val part = new java.io.File(s"${db4.storePath}/content_type=text_chunk")
    def mtimes: Map[String, Long] = part.listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
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
    val vA = db4.store.filter($"doc_name".contains("doc_0.")).select($"doc_name")
      .head().getString(0)
    val vB = db4.store.filter($"doc_name".contains("doc_30.")).select($"doc_name")
      .head().getString(0)
    val beforeA = mtimes
    val jobsA = countJobs { assert(db4.delete(Seq(vA)) >= 3) }
    val afterA = mtimes
    val touchedA = beforeA.count { case (n, t) => afterA(n) != t }
    val jobsB = countJobs { assert(db4.delete(Seq(vB)) >= 8) }
    val touchedB = afterA.count { case (n, t) => mtimes(n) != t }
    assert(touchedA >= 3 && touchedB >= 8 && touchedB >= touchedA + 4,
      s"plant broke: touchedA=$touchedA touchedB=$touchedB")
    // the dir's rewrites batch into ONE Spark job regardless of how
    // many files a takedown touches (round 6 paid one sequential job
    // per file: jobsB - jobsA would be >= 5 here); +1 cushion for
    // AQE/schema-inference job-count variance
    assert(jobsB <= jobsA + 1,
      s"delete jobs must not grow with touched files: " +
        s"$touchedA files -> $jobsA jobs, $touchedB files -> $jobsB jobs")
    assert(db4.store.filter($"doc_name".isin(vA, vB)).count() == 0)
    // file identity survives the batched rewrite (the per-file swap
    // protocol): same names, and the footer predicate still prunes —
    // the next delete of an absent range must touch nothing
    assert(mtimes.keySet == beforeA.keySet, "file names must be preserved")
    val settled = mtimes
    assert(db4.delete(Seq("corpus/zz/doc_9999.txt")) == 0)
    assert(mtimes == settled, "a no-victim delete must rewrite nothing")
  }
}
