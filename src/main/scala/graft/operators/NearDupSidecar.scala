package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.TextFunctions.{shingles, tokens}

/** The near-dup sidecar and its gate — the persisted form of
  * [[Dedup.incrementalPairs]], and the reference's skip-if-hash-seen
  * ingest check (vector_db.py:420-434) generalized from exact to NEAR
  * duplicates at O(new) per batch. Owns, under its root:
  *
  *  - `bands` (doc_name string, band int, bkey string, gen bigint):
  *    routes an incoming batch to candidate docs via the MinHash band
  *    equi-join;
  *  - `sets` (doc_name string, shh array<bigint>, gen bigint): each
  *    indexed doc's xxhash64-compressed word-bigram shingle set, for
  *    exact verification of the band-collision residue;
  *  - `tombstones` and `_GEN`: the [[GenSidecar]] protocol.
  *
  * Two gates run on it: the store's (`GraftVectorDB.ingestNearDup`,
  * root `<store>/neardup`, keyed by the store's doc_name, tombstoned by
  * deletes) and the curation stream's (`DocStreams.curateNearDupBatch`,
  * root `<outDir>/neardup`, keyed by the doc_id as a string, never
  * deleted from). */
private[graft] final class NearDupSidecar(spark: SparkSession, root: String)
    extends GenSidecar(spark, root) {
  import spark.implicits._
  import NearDupSidecar._

  protected def tables: Seq[(String, StructType)] =
    Seq("sets" -> SetsSchema, "bands" -> BandsSchema)

  def indexed: Boolean = exists("bands")

  /** The live entries of a table; a table not written yet reads empty. */
  private def liveOrEmpty(name: String, schema: StructType): DataFrame =
    if (exists(name)) live(read(name, schema))
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** The corpus check: live sidecar bands scanned against the BROADCAST
    * batch `bands` (doc_id, band, bkey), the collision residue verified
    * exactly against the live sidecar sets (fetched by a pushed In
    * filter when the candidate list is small) and the batch `sets`
    * (doc_id, shh). Every forced broadcast is batch-derived: the
    * sidecar grows with everything ever indexed and is scanned, never
    * shuffled on its own, never broadcast. Output: (doc_id, dup_of,
    * j_r), the best match per batch doc at Jaccard ≥ `threshold`. */
  private[graft] def corpusPlan(bands: DataFrame, sets: DataFrame,
      threshold: Double = Dedup.JaccardThreshold): DataFrame = {
    val cand = liveOrEmpty("bands", BandsSchema)
      .join(broadcast(bands), Seq("band", "bkey"))
      .select($"doc_id", $"doc_name").distinct()
    val names = cand.select($"doc_name").distinct()
      .limit(GraftVectorDB.InLiteralMax + 1).collect().map(_.getString(0))
    // the sets fetch applies the SAME liveness rule: a re-added name
    // holds both stale and live shingle rows, and verifying against the
    // superseded content would misfire
    val stored0 = liveOrEmpty("sets", SetsSchema)
    val stored =
      if (names.length <= GraftVectorDB.InLiteralMax)
        stored0.filter($"doc_name".isin(names.toIndexedSeq: _*))
      else stored0
    cand.join(stored, "doc_name")
      .join(broadcast(sets.select($"doc_id", $"shh".as("shn"))), "doc_id")
      .select($"doc_id", $"doc_name", Dedup.jaccard($"shn", $"shh").as("j_r"))
      .filter($"j_r" >= threshold)
      .groupBy($"doc_id").agg(max(struct($"j_r", $"doc_name")).as("m"))
      .select($"doc_id", $"m.doc_name".as("dup_of"), $"m.j_r")
  }

  /** The intra-batch drops: band self-join of the batch (batch-sized),
    * exact verify, then a greedy keep-smallest sweep driver-side —
    * corpus-dropped docs neither survive nor anchor a batch drop.
    * Returns (doc_id, kept anchor doc_id, j_r), doc_id-ordered. */
  private def batchDrops(bands: DataFrame, sets: DataFrame, corpusDropped: Set[Long],
      threshold: Double, op: String): Seq[(Long, Long, Double)] = {
    val l = bands.select($"band", $"bkey", $"doc_id".as("a_id"))
    val r = bands.select($"band", $"bkey", $"doc_id".as("b_id"))
    val pairs = l.join(r, Seq("band", "bkey")).filter($"a_id" < $"b_id")
      .select($"a_id", $"b_id").distinct()
      .join(sets.select($"doc_id".as("a_id"), $"shh".as("sa")), "a_id")
      .join(sets.select($"doc_id".as("b_id"), $"shh".as("sb")), "b_id")
      .select($"a_id", $"b_id", Dedup.jaccard($"sa", $"sb").as("j_r"))
      .filter($"j_r" >= threshold)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getDouble(2)))
    require(pairs.length <= MaxIntraPairs,
      s"$op: ${pairs.length} intra-batch near-dup pairs exceed the gate bound " +
        s"($MaxIntraPairs) — this batch is a corpus-scale dedup job; run " +
        "Dedup.minhashLsh/cluster on it first, then ingest the keepers")
    val byB = pairs.groupBy(_._2)
    val kept = scala.collection.mutable.Set[Long]()
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted.toSeq.flatMap { id =>
      val anchored = byB.getOrElse(id, Array.empty).filter(p => kept(p._1))
      if (corpusDropped(id)) None
      else if (anchored.isEmpty) { kept += id; None }
      else { val best = anchored.maxBy(_._3); Some((id, best._1, best._3)) }
    }
  }

  /** The near-dup verdict on a batch's `sets` ([[setsOf]], materialized
    * by the caller): drop every doc that near-duplicates a live indexed
    * doc or an earlier doc of the same batch at Jaccard ≥ `threshold`.
    * `land` gets the verdict and the batch's band keys (persisted for
    * its duration), stores the survivors and [[append]]s their entries.
    * Shingle-less docs (< 2 tokens) never enter the band space: their
    * empty-set signatures all collide for a verify that cannot pass. */
  def gate[T](sets: DataFrame, threshold: Double, op: String)(land: Verdict => T): T = {
    val bands = Dedup.bandKeys(spark,
        sets.filter(size($"sh") > 0).select($"doc_id", $"sh".as("s")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val corpus =
        if (!indexed) Seq.empty
        else corpusPlan(bands, sets, threshold).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      land(Verdict(corpus, batchDrops(bands, sets, corpus.map(_._1).toSet, threshold, op),
        bands))
    } finally bands.unpersist(blocking = false)
  }

  /** Append the entries of the batch docs `ids` (doc_id) at a fresh
    * generation, so a re-added doc's entries are NEWER than any
    * tombstone from its deletion. Sets before bands (fail-open): a
    * crash between the two leaves names with sets but no routing entry
    * (no candidates, a dup admitted later), never the reverse
    * rejection. */
  def append(sets: DataFrame, bands: DataFrame, ids: DataFrame): Unit = {
    val g = nextGen()
    sets.join(broadcast(ids), "doc_id")
      .select($"doc_name", $"shh").withColumn("gen", lit(g))
      .sortWithinPartitions($"doc_name")
      .write.mode(SaveMode.Append).parquet(path("sets"))
    bands.join(broadcast(ids), "doc_id")
      .join(sets.select($"doc_id", $"doc_name"), "doc_id")
      .select($"doc_name", $"band", $"bkey").withColumn("gen", lit(g))
      .write.mode(SaveMode.Append).parquet(path("bands"))
  }

  /** Index every doc of `sets` without a verdict: one pass, no joins
    * (band keys re-key by doc_name directly). */
  def index(sets: DataFrame): Unit = {
    val g = nextGen()
    sets.select($"doc_name", $"shh").withColumn("gen", lit(g))
      .sortWithinPartitions($"doc_name")
      .write.mode(SaveMode.Append).parquet(path("sets"))
    Dedup.bandKeys(spark, sets.filter(size($"sh") > 0)
        .select($"doc_name".as("doc_id"), $"sh".as("s")))
      .toDF("doc_name", "band", "bkey").withColumn("gen", lit(g))
      .write.mode(SaveMode.Append).parquet(path("bands"))
  }

  /** Compact both tables to their live entries, `targetFiles` files
    * each (a streaming gate appends a file-set per batch). */
  def maintain(targetFiles: Int): Unit =
    rewrite(Seq(("bands", BandsSchema, Seq("band", "bkey")),
        ("sets", SetsSchema, Seq("doc_name"))).map { case (name, schema, sortCols) =>
      name -> ((staged: String) =>
        live(read(name, schema)).repartition(targetFiles)
          .sortWithinPartitions(sortCols.map(col): _*)
          .write.mode(SaveMode.Overwrite).parquet(staged))
    })(())
}

private[graft] object NearDupSidecar {
  val SetsSchema: StructType = new StructType()
    .add("doc_name", "string").add("shh", "array<bigint>").add("gen", "long")
  val BandsSchema: StructType = new StructType()
    .add("doc_name", "string").add("band", "int").add("bkey", "string").add("gen", "long")

  /** Intra-batch verified-pair bound for the gate's driver-side
    * keep-smallest sweep (~32 MB of pair tuples — the same budget as the
    * connected-components hybrid finish). A batch past it is a
    * corpus-scale dedup job, not an operational increment. */
  val MaxIntraPairs = 2000000

  /** A batch's verdict: corpus drops (doc_id, dup_of doc_name, j_r),
    * batch drops (doc_id, kept anchor doc_id, j_r), and the batch's band
    * keys (doc_id, band, bkey) for [[NearDupSidecar.append]]. */
  final case class Verdict(corpus: Seq[(Long, String, Double)],
      batch: Seq[(Long, Long, Double)], bands: DataFrame) {
    def dropped: Set[Long] = corpus.map(_._1).toSet ++ batch.map(_._1)
  }

  /** (doc_id, doc_name, sh, shh) for a frame with doc_id and text: the
    * word-bigram shingle sets the Dedup operators use, keyed by
    * `docName`, and their xxhash64 compression, which the sidecar
    * stores — verification compares hashed sets, exact up to 64-bit
    * collisions (~0 at any real shingle count). */
  def setsOf(docs: DataFrame, docName: Column): DataFrame =
    docs.select(col("doc_id"), docName.as("doc_name"),
        array_distinct(shingles(tokens(col("text")), 2)).as("sh"))
      .withColumn("shh", transform(col("sh"), x => xxhash64(x)))
}
