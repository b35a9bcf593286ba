package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraftVectorDB

/** The near-dup ingest gate — the reference's skip-if-hash-seen check
  * generalized to NEAR duplicates with a persisted MinHash sidecar:
  * corpus-vs-batch candidates come from a band equi-join against the
  * sidecar (O(new) per batch, never corpus×corpus), verification is
  * exact Jaccard over the collision residue, deletes tombstone the
  * sidecar (fail-open), and maintainNearDup compacts tombstones out. */
class NearDupIngestSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def rmRf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmRf))
    f.delete()
  }

  private def docsFrame(rows: Seq[(Long, String)]) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("gate"))

  /** Spark jobs of one warm, two-doc [[GraftVectorDB.ingestNearDup]]. */
  private val WarmGateJobs = 43

  private val baseText =
    "the quick brown fox jumps over the lazy dog while the cat watches " +
      "from the warm windowsill and the rain falls softly on the roof"
  private val otherText =
    "completely different content about distributed query engines and " +
      "columnar storage formats with vectorized execution pipelines"
  private val thirdText =
    "a third unrelated document discussing sailing routes across the " +
      "northern archipelago under changing autumn winds and tides"

  test("gate lifecycle: corpus dup, intra-batch dup, tombstoned delete, compaction") {
    val dir = "target/vdb_neardup_gate"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)

    // 1) first batch: no sidecar yet, intra-batch pair (20 dups 10) —
    // keep-smallest keeps 10, drops 20; sidecar created for survivors
    val (n1, skipped1) = db.ingestNearDup(docsFrame(Seq(
      10L -> baseText,
      20L -> (baseText + " extra"),
      30L -> otherText)))
    assert(n1 > 0)
    val s1 = skipped1.collect().map(r => (r.getAs[Long]("doc_id"),
      r.getAs[String]("reason"), r.getAs[String]("dup_of")))
    assert(s1.toSeq == Seq((20L, "batch", "corpus/gate/doc_10.txt")),
      s"intra-batch sweep: ${s1.toSeq}")
    assert(db.nearDupIndexed)
    assert(!db.store.select($"doc_name").distinct().collect()
      .exists(_.getString(0).contains("doc_20")), "dropped doc must not land")

    // 2) second batch: a near-dup of stored doc 10, plus a fresh doc —
    // the corpus check catches it via the sidecar (no corpus self-join)
    val (n2, skipped2) = db.ingestNearDup(docsFrame(Seq(
      40L -> (baseText + " tweaked"),
      50L -> thirdText)))
    assert(n2 > 0)
    val s2 = skipped2.collect().map(r => (r.getAs[Long]("doc_id"),
      r.getAs[String]("reason"), r.getAs[String]("dup_of"), r.getAs[Double]("j_r")))
    assert(s2.length == 1 && s2.head._1 == 40L && s2.head._2 == "corpus" &&
      s2.head._3 == "corpus/gate/doc_10.txt" && s2.head._4 >= 0.5,
      s"corpus gate: ${s2.toSeq}")

    // 3) an EXACT re-send of stored content is also a corpus dup (the
    // generalization strictly contains the reference's hash check)
    val (n3, skipped3) = db.ingestNearDup(docsFrame(Seq(60L -> baseText)))
    assert(n3 == 0)
    assert(skipped3.collect().map(_.getAs[String]("reason")).toSeq == Seq("corpus"))

    // 4) delete the stored anchor → tombstone → its near-dup is now
    // ADMITTED (a takedown must not block re-licensed content)
    db.delete(Seq("corpus/gate/doc_10.txt"))
    val (n4, skipped4) = db.ingestNearDup(docsFrame(Seq(70L -> (baseText + " anew"))))
    assert(n4 > 0, "tombstoned anchor must not reject new content")
    assert(skipped4.isEmpty)

    // 5) compaction drops the tombstoned rows and clears tombstones;
    // behavior is unchanged after it (70 is the anchor now)
    db.maintainNearDup(targetFiles = 1)
    assert(!new java.io.File(s"$dir/neardup/tombstones").exists())
    val bands = spark.read.parquet(s"$dir/neardup/bands")
    assert(bands.filter($"doc_name" === "corpus/gate/doc_10.txt").count() == 0,
      "compaction must drop tombstoned sidecar rows")
    val (n5, skipped5) = db.ingestNearDup(docsFrame(Seq(80L -> (baseText + " anew again"))))
    assert(n5 == 0 && skipped5.collect().head.getAs[String]("dup_of") ==
      "corpus/gate/doc_70.txt", "post-compaction gate must anchor on the live doc")

    // 6) crash-window recovery: live bands renamed aside (the mid-swap
    // state) restores on the next gate call
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/neardup/bands"),
      new org.apache.hadoop.fs.Path(s"$dir/neardup/.old_bands")))
    val (_, skipped6) = db.ingestNearDup(docsFrame(Seq(90L -> (baseText + " anew yet"))))
    assert(skipped6.collect().nonEmpty, "recovered sidecar must still gate")
    assert(new java.io.File(s"$dir/neardup/bands").exists())
  }

  test("a deleted _GEN self-heals: the next append stamps above every stamped row and tombstone") {
    val dir = "target/vdb_neardup_gen_heal"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    db.ingestNearDup(docsFrame(Seq(10L -> baseText, 30L -> otherText)))
    db.ingestNearDup(docsFrame(Seq(50L -> thirdText)))
    db.delete(Seq("corpus/gate/doc_50.txt"))
    def stamps(sub: String, ddl: String, column: String): Seq[Long] =
      spark.read.schema(ddl).parquet(s"$dir/neardup/$sub").select(column)
        .collect().map(_.getLong(0)).toSeq
    val rowGens = stamps("sets", "doc_name string, gen long", "gen") ++
      stamps("bands", "doc_name string, gen long", "gen")
    val tombGens = stamps("tombstones", "doc_name string, tgen long", "tgen")
    assert(rowGens.nonEmpty && tombGens.nonEmpty)
    val highest = (rowGens ++ tombGens).max
    assert(new java.io.File(s"$dir/neardup/_GEN").delete())
    // the deleted doc re-ingests: its fresh entries must outrank its
    // tombstone, so they serve as the gate's anchor
    val (n, skipped) = db.ingestNearDup(docsFrame(Seq(50L -> thirdText)))
    assert(n > 0 && skipped.isEmpty, s"the deleted doc must re-land: ${skipped.collect().toSeq}")
    Seq("sets", "bands").foreach { sub =>
      val fresh = spark.read.schema("doc_name string, gen long")
        .parquet(s"$dir/neardup/$sub").filter($"gen" > highest)
        .select("doc_name", "gen").distinct().collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(fresh == Seq(("corpus/gate/doc_50.txt", highest + 1)),
        s"$sub: the append must stamp above every stamped row and tombstone ($highest): $fresh")
    }
    val (_, again) = db.ingestNearDup(docsFrame(Seq(60L -> (thirdText + " tweak"))))
    assert(again.collect().map(_.getAs[String]("dup_of")).toSeq == Seq("corpus/gate/doc_50.txt"))
  }

  test("a warm ingestNearDup reads its sidecar by declared schema: no schema-merge jobs") {
    val dir = "target/vdb_neardup_jobs"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    db.ingestNearDup(docsFrame(Seq(10L -> baseText, 30L -> otherText)))
    db.ingestNearDup(docsFrame(Seq(50L -> thirdText)))
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
    // one corpus dup and one fresh doc: the gate reads both sidecar
    // tables, verifies, ingests and appends
    val jobs = countJobs {
      val (n, skipped) = db.ingestNearDup(docsFrame(Seq(
        70L -> (baseText + " tweaked"),
        80L -> "an entirely new document about alpine glaciers and moraines")))
      assert(n > 0 && skipped.count() == 1)
    }
    info(s"warm ingestNearDup: $jobs Spark jobs")
    assert(jobs <= WarmGateJobs,
      s"a warm ingestNearDup ran $jobs jobs, more than $WarmGateJobs: a sidecar read " +
        "inferring or merging schemas costs a job")
  }

  test("deleted-then-revised doc: the gate verifies against the NEW content only") {
    val dir = "target/vdb_neardup_regen"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    val (n1, _) = db.ingestNearDup(docsFrame(Seq(10L -> baseText, 30L -> otherText)))
    assert(n1 > 0)
    db.delete(Seq("corpus/gate/doc_10.txt"))
    // same doc_id, completely REVISED content: must land (its old
    // entries are generation-dead, its hash was freed)
    val (n2, s2) = db.ingestNearDup(docsFrame(Seq(10L -> thirdText)))
    assert(n2 > 0 && s2.isEmpty, s"revised doc must land: ${s2.collect().toSeq}")
    // a near-dup of the doc's OLD (superseded) content must be
    // ADMITTED — verifying against stale shingles would wrongly drop it
    val (n3, s3) = db.ingestNearDup(docsFrame(Seq(40L -> (baseText + " tweak"))))
    assert(n3 > 0 && s3.isEmpty,
      s"old-content near-dup wrongly gated: ${s3.collect().toSeq}")
    // while a near-dup of the NEW content drops against the revised doc
    val (_, s4) = db.ingestNearDup(docsFrame(Seq(50L -> (thirdText + " tweak"))))
    val drops = s4.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("dup_of")))
    assert(drops.toSeq == Seq((50L, "corpus/gate/doc_10.txt")), s"got ${drops.toSeq}")
    // compaction preserves the generation semantics
    db.maintainNearDup()
    val (_, s5) = db.ingestNearDup(docsFrame(Seq(60L -> (thirdText + " nudge"))))
    assert(s5.collect().map(_.getAs[String]("dup_of")).toSeq ==
      Seq("corpus/gate/doc_10.txt"))
  }

  test("streaming ingest with nearDupGate dedups each micro-batch against the sidecar") {
    val dir = "target/vdb_neardup_stream"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    db.ingestNearDup(docsFrame(Seq(100L -> baseText))) // seed the sidecar
    val src = new java.io.File(s"$dir/src"); src.mkdirs()
    val batch = docsFrame(Seq(
      101L -> (baseText + " streamed tweak"), // near-dups the seed
      102L -> otherText))                     // genuinely new
    batch.write.mode("append").parquet(src.toString)
    db.ingestStream(
      spark.readStream.schema(batch.schema).parquet(src.toString),
      s"$dir/ckpt", nearDupGate = true).awaitTermination()
    val names = db.store.select($"doc_name").distinct()
      .collect().map(_.getString(0)).toSet
    assert(!names.exists(_.contains("doc_101")), "gated stream must drop the near-dup")
    assert(names.exists(_.contains("doc_102")), "gated stream must land new docs")
    // and the landed doc is now itself an anchor for the next batch
    val (_, sk) = db.ingestNearDup(docsFrame(Seq(103L -> (otherText + " again"))))
    assert(sk.collect().head.getAs[String]("dup_of") == "corpus/gate/doc_102.txt")
  }

  test("a plain ingest never creates the sidecar; the gate works on a store that predates it") {
    val dir = "target/vdb_neardup_late"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    db.ingest(docsFrame(Seq(1L -> baseText)))
    assert(!db.nearDupIndexed)
    // gate adopted later: first gated batch sees no sidecar (docs from
    // the pre-gate era are NOT checked — fail-open, documented), but
    // indexes itself for every batch after
    val (nA, skA) = db.ingestNearDup(docsFrame(Seq(2L -> (baseText + " late"))))
    assert(nA > 0 && skA.isEmpty)
    val (nB, skB) = db.ingestNearDup(docsFrame(Seq(3L -> (baseText + " late again"))))
    assert(nB == 0 && skB.collect().head.getAs[String]("dup_of") == "corpus/gate/doc_2.txt")
  }
}
