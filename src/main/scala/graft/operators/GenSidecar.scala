package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.util.AtomicDir

/** The generation-stamped sidecar protocol, written once for both store
  * sidecars ([[NearDupSidecar]], [[LexicalSidecar]]). A sidecar is a
  * root directory of Parquet entry tables, each read through its
  * declared schema (no footer inference, no schema-merge job), plus
  * small counter files committed through [[AtomicDir.write]]. Beside
  * the subclass's tables it owns:
  *
  *  - `_GEN`: the append generation. Every entry is stamped (`gen`)
  *    with the generation of the append that wrote it.
  *  - `tombstones` (doc_name string, tgen bigint): a deleted doc_name
  *    and the generation current AT ITS DELETE.
  *
  * '''Liveness''' ([[live]]): an entry is live iff no tombstone for its
  * doc_name has tgen ≥ gen. So re-ingesting a previously deleted doc
  * just works: its fresh entries carry a newer generation and serve,
  * while the stale pre-delete entries stay suppressed until a rewrite
  * drops them physically. (A tombstone-REVOKING design would resurrect
  * the stale entries beside the fresh ones — double-counted BM25 term
  * frequencies, a gate verifying against superseded shingles.)
  *
  * '''Tombstones''' ([[tombstone]]) are written BEFORE the store
  * rewrite by both delete paths: a crash between the two leaves content
  * deleted from the sidecar's view but still in the store, and
  * re-running the delete converges. The reverse order would leave ghost
  * entries, e.g. a gate silently rejecting re-ingest of
  * taken-down-then-relicensed content.
  *
  * '''Rewrite''' ([[rewrite]]): each table is staged under
  * `.tmp_<name>` and swapped in ([[AtomicDir.swap]], aside
  * `.old_<name>`); the tombstones clear LAST, so reads stay correct
  * throughout (tombstone filtering applies at read time until the
  * clear). '''Recovery''' ([[recover]]) rolls a crashed swap back or
  * forward and drops staged residue ([[AtomicDir.recover]]). */
private[graft] abstract class GenSidecar(spark: SparkSession, val root: String) {
  protected val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The stamped entry tables: name under [[root]] → declared schema,
    * each carrying a `gen` column. */
  protected def tables: Seq[(String, StructType)]

  /** The small files under [[root]] ([[AtomicDir.write]] stages them,
    * so [[recover]] drops their staged residue). */
  protected def counters: Seq[String] = Seq("_GEN")

  private val TombSchema = new StructType().add("doc_name", "string").add("tgen", "long")

  /** Whether the sidecar exists. */
  def indexed: Boolean

  protected final def path(name: String): String = s"$root/$name"
  protected final def hpath(name: String): Path = new Path(path(name))
  protected final def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  protected final def exists(name: String): Boolean = fs.exists(hpath(name))

  /** Whether deletes are pending a rewrite. */
  def tombstoned: Boolean = exists("tombstones")

  /** The table `name` under its declared schema. */
  protected final def read(name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path(name))

  protected final def readCount(name: String): Long = AtomicDir.readLong(fs, hpath(name))
  protected final def writeCount(name: String, v: Long): Unit =
    AtomicDir.write(fs, hpath(name), v.toString)

  /** Current generation. A missing or torn `_GEN` SELF-HEALS from the
    * data (the max stamp across the tables and the tombstones) instead
    * of degrading to 0: the degrade-to-0 rule is fine for counters, but
    * here it would stamp fresh entries BELOW live tombstones,
    * suppressing correctly ingested docs and letting the next rewrite
    * delete them. */
  def curGen: Long =
    AtomicDir.read(fs, hpath("_GEN")).flatMap(_.trim.toLongOption).getOrElse {
      val recovered = (tables.map { case (name, schema) => (name, schema, "gen") } :+
          (("tombstones", TombSchema, "tgen")))
        .filter(t => exists(t._1))
        .map { case (name, schema, genCol) =>
          read(name, schema).agg(coalesce(max(col(genCol)), lit(0L))).collect()(0).getLong(0)
        }
        .foldLeft(0L)(math.max)
      if (recovered > 0)
        log.warn(s"$root/_GEN missing or torn - recovered generation $recovered " +
          "from the sidecar data")
      recovered
    }

  /** Advance and commit `_GEN`; returns the new generation. */
  def nextGen(): Long = {
    val g = curGen + 1
    AtomicDir.write(fs, hpath("_GEN"), g.toString)
    g
  }

  /** The entries still live under the generation rule. */
  def live(entries: DataFrame): DataFrame =
    if (!tombstoned) entries
    else {
      val t = read("tombstones", TombSchema)
        .groupBy(col("doc_name")).agg(max(col("tgen")).as("tgen"))
      entries.join(t, Seq("doc_name"), "left_outer")
        .filter(col("tgen").isNull || col("gen") > col("tgen")).drop("tgen")
    }

  /** Tombstone the doc_names of `names` (no-op without a sidecar). */
  def tombstone(names: DataFrame): Unit =
    if (indexed)
      names.select(col("doc_name")).distinct()
        .withColumn("tgen", lit(curGen))
        .write.mode(SaveMode.Append).parquet(path("tombstones"))

  /** Stage each `(name, write)` table (`write` gets the staged path) and
    * swap it in, then run `afterSwap`, then clear the tombstones. */
  protected final def rewrite[T](staged: Seq[(String, String => Unit)])(afterSwap: => T): T = {
    staged.foreach { case (name, write) =>
      write(path(s".tmp_$name"))
      AtomicDir.swap(fs, hpath(s".tmp_$name"), hpath(name), hpath(s".old_$name"))
    }
    spark.catalog.refreshByPath(root)
    val out = afterSwap
    if (tombstoned) fs.delete(hpath("tombstones"), true)
    out
  }

  /** Roll back or forward a crashed [[rewrite]] swap and drop staged
    * residue, counters' included. */
  def recover(): Unit =
    AtomicDir.recover(fs, new Path(root), ".old_",
      ".tmp_" +: counters.map(AtomicDir.stagedPrefix))
}
