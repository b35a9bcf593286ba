package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraftVectorDB

/** Crash-window recovery protocols added round 7:
  *
  *  - buildAnnIndex now swaps via the keep-old two-rename protocol:
  *    a crash between the renames leaves the channel's only index copy
  *    aside as `.ann_build_old_<ch>`, and serving SELF-HEALS (the
  *    missing-index paths roll it forward) instead of failing until a
  *    manual rebuild — the no-index window the old delete-then-rename
  *    order had.
  *  - a coincident-vector hot cell aborts its split without committing
  *    an empty twin centroid (previously every scheduled maintenance
  *    run accumulated one permanently-empty cell).
  *  - stale `.splits_tmp_*` files and legacy-named `.compact_*`
  *    leftovers are reclaimed by the recovery-on-entry sweeps.
  */
class MaintenanceRecoverySpec extends AnyFunSuite {
  import SparkTestSession._

  private val dbDir = "target/vdb_recovery_spec"
  private val q = "fast query join table"

  private def rmRf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmRf))
    f.delete()
  }

  private lazy val db = {
    val root = new java.io.File(dbDir)
    if (root.exists()) rmRf(root)
    val d = new GraftVectorDB(spark, dbDir)
    val docs = Tables.load(spark, sf, "documents")
    assert(d.ingest(docs.filter(col("doc_id") < 60)) > 0)
    d.buildAnnIndex(cells = 8)
    d
  }

  private def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
    (r.getAs[Long]("rnk"), r.getAs[Double]("sim_r"),
      r.getAs[String]("doc_name"), r.getAs[String]("content_id"))).toSeq

  test("a rebuild crash between swap renames self-heals on the next search") {
    val before = key(db.searchAnn(q, 5, nProbe = 8).collect())
    val live = new java.io.File(db.annPath("text"))
    val aside = new java.io.File(dbDir, ".ann_build_old_text")
    // simulate the crash window: live index renamed aside, the fresh
    // build never landed — the state a kill between the two renames
    // leaves behind (previously: NO index at all)
    assert(live.renameTo(aside))
    assert(!live.exists())
    // serving self-heals: the missing-index path rolls the swap back
    assert(key(db.searchAnn(q, 5, nProbe = 8).collect()) == before,
      "a crashed rebuild must not leave the channel index-less")
    assert(live.exists() && !aside.exists())
  }

  test("annIndexBuilt recovers the crash window too (delete/maintain gate)") {
    val live = new java.io.File(db.annPath("text"))
    val aside = new java.io.File(dbDir, ".ann_build_old_text")
    assert(live.renameTo(aside))
    // a false here would make delete()/maintain() silently skip the
    // channel — for a takedown that is silent retention
    assert(db.annIndexBuilt("text"))
    assert(live.exists() && !aside.exists())
  }

  test("a superseded old-index dir beside a live one is dropped, not restored") {
    val aside = new java.io.File(dbDir, ".ann_build_old_text")
    aside.mkdir()
    new java.io.File(aside, "stale.txt").createNewFile()
    val before = key(db.searchAnn(q, 5, nProbe = 8).collect())
    db.buildAnnIndex(cells = 8) // recovery-on-entry drops the superseded copy
    assert(!aside.exists(), "completed-swap leftovers must be reclaimed")
    assert(key(db.searchAnn(q, 5, nProbe = 8).collect()) == before)
  }

  test("a coincident-vector hot cell is skipped, not split into an empty twin") {
    import spark.implicits._
    // plant a hot cell of IDENTICAL vectors: distinct docs (fresh
    // hashes) whose embedding is copied verbatim from one stored row,
    // so 2-means can never separate them
    val base = db.store.select($"embedding").head().getSeq[Double](0)
    val clones = (0 until 400).map(i =>
      (700000L + i, s"coincident clone doc $i", "en", "srcC")).toSeq
      .toDF("doc_id", "text", "lang", "source")
    val hot = GraftVectorDB.pipeline(clones).filter($"page_num" === 0)
      .withColumn("embedding", typedLit(base))
    assert(db.ingestRecords(hot, indexChannels = Seq("text")) == 400)
    assert(db.annIndexSkewed("text"), "the plant must trip the gauge")
    // the plant's cell may first split LEGITIMATELY (clones vs the
    // cell's distinct base rows) — let the maintenance loop run until
    // it stabilizes, which it must: the pure-clone sub-cell is
    // unsplittable and gets skipped rather than looping
    var calls = 0
    while (db.splitHotCells("text").nonEmpty && calls < 4) calls += 1
    assert(calls < 4, "splitHotCells must reach a fixpoint on coincident vectors")
    val histStable = db.annCellHistogram("text")
    assert(histStable.values.forall(_ > 0L),
      s"no committed split may leave an EMPTY twin cell: $histStable")
    val splitsStable = new java.io.File(db.annPath("text"), "_centroids")
      .listFiles().count(_.getName.startsWith("_splits.v"))
    // the old behavior committed one empty twin PER maintenance run,
    // growing the amendment log and the cell set without bound — two
    // further runs must now be pure no-ops
    assert(db.splitHotCells("text").isEmpty, "an unsplittable cell must be skipped")
    assert(db.splitHotCells("text").isEmpty)
    assert(db.annCellHistogram("text") == histStable,
      "a skipped split must leave every cell untouched")
    val splitsAfter = new java.io.File(db.annPath("text"), "_centroids")
      .listFiles().count(_.getName.startsWith("_splits.v"))
    assert(splitsAfter == splitsStable,
      "a skipped split must not grow the amendment log")
    // no staged or unreferenced dirs left behind
    val staged = new java.io.File(db.annPath("text")).listFiles()
      .filter(f => f.getName.startsWith(".compact_tmp_cell=") ||
        (f.getName.startsWith("cell=") &&
          !histStable.contains(f.getName.stripPrefix("cell=").toInt)))
    assert(staged.isEmpty, s"leftovers: ${staged.map(_.getName).toSeq}")
    // serving is exact throughout
    assert(key(db.searchAnn(q, 5, nProbe = 16).collect()) ==
      key(db.search(q, 5).collect()))
  }

  test("stale .splits_tmp_ files are reclaimed on maintenance entry") {
    val cDir = new java.io.File(db.annPath("text"), "_centroids")
    val stale = new java.io.File(cDir, ".splits_tmp_deadbeef")
    assert(stale.createNewFile())
    db.compactAnnIndex("text", targetFiles = 1000) // entry sweep only
    assert(!stale.exists(), "writeSplits crash leftovers must be reclaimed")
  }
}
