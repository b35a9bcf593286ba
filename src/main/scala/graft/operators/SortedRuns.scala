package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.util.AtomicDir

/** A partitioned directory of sorted Parquet runs, and its lifecycle
  * written once. Two layouts of the store are this directory: the
  * records (`vector_store/content_type=<ct>/`, sorted by (doc_name,
  * page_num)) and each channel's ANN index (`ann_index_<ch>/cell=<n>/`,
  * sorted by (doc_name, row_id)). This class owns the partition
  * listing, the staged sorted rewrite of one partition (compaction,
  * predicate delete and split children all use it), the file-granular
  * name delete and the crash recovery of both. Its owners keep their
  * policy: which partitions an op touches, generations, tombstones,
  * counters. Every mutation runs under the owner's writer lease.
  *
  * '''Layout rules.'''
  *  - Every file holds one contiguous, sorted range of `sortCols`, so
  *    the doc_name min/max stats in its footer let a scoped read skip
  *    row groups and the name delete skip whole files.
  *  - A rewrite into one file is a single unbounded partition: it needs
  *    no range bounds, so it runs no sample job. A rewrite into n > 1
  *    files range-partitions on `sortCols`.
  *  - A predicate delete keeps the partition's file count (at least
  *    one). It removes rows; changing file counts is compaction's job,
  *    and a large partition must not collapse into one file.
  *
  * '''On-disk names''' ([[AtomicDir]]'s protocol, kept stable so old
  * crash residue still recovers): a partition rewrite stages at
  * `.compact_tmp_<part>` beside the partitions and swaps with the
  * aside `.compact_old_<part>`; the name delete stages at
  * `.delete_tmp_batch` inside the partition and swaps each rewritten
  * file with the aside `.delete_old_<file>`. [[recover]] rolls both
  * back or forward. */
private[graft] final class SortedRuns(spark: SparkSession, root: String, partCol: String,
    dataSchema: StructType, sortCols: Seq[String]) {
  import SortedRuns._

  private val rootP = new Path(root)
  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs: FileSystem = rootP.getFileSystem(conf)

  /** The partition dirs in name order; none under a missing root. */
  def partitions: Seq[Path] =
    if (!fs.exists(rootP)) Nil
    else fs.listStatus(rootP)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
      .map(_.getPath).sortBy(_.getName).toSeq

  /** The dir of the partition whose `partCol` is `value`. */
  def dir(value: String): Path = new Path(rootP, s"$partCol=$value")

  /** The `partCol` value of a partition dir. */
  def valueOf(dir: Path): String = dir.getName.stripPrefix(s"$partCol=")

  private def files(dir: Path): Array[FileStatus] =
    fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))

  private def fileCount(dir: Path): Int = files(dir).length

  /** A partition's rows from its parquet footers: driver metadata I/O,
    * no Spark job. */
  def rowCount(dir: Path): Long = files(dir).map(footerRows(_, conf)).sum

  /** A partition's rows, without the partition column: exactly what
    * its rewritten files must contain. */
  def read(dir: Path): DataFrame = spark.read.schema(dataSchema).parquet(dir.toString)

  /** Write `rows` (the data columns) as `nFiles` sorted runs staged
    * beside the partitions, and swap them in as partition `value`. */
  def rewrite(value: String, rows: DataFrame, nFiles: Int): Unit = {
    val sort = sortCols.map(col)
    val laid = if (nFiles <= 1) rows.repartition(1) else rows.repartitionByRange(nFiles, sort: _*)
    val name = s"$partCol=$value"
    val staged = new Path(rootP, s".compact_tmp_$name")
    laid.sortWithinPartitions(sort: _*).write.mode(SaveMode.Overwrite).parquet(staged.toString)
    AtomicDir.swap(fs, staged, dir(value), new Path(rootP, s".compact_old_$name"))
  }

  /** Rewrite partition `value` as `targetFiles` sorted runs; rows and
    * every read are invariant. Returns the rows rewritten. */
  def compact(value: String, targetFiles: Int): Long = {
    val d = dir(value)
    val n = rowCount(d)
    rewrite(value, read(d), targetFiles)
    n
  }

  /** [[compact]] every partition holding more than `targetFiles`
    * parquet files; the others are neither read nor moved. Returns
    * (value, rows rewritten) per compacted partition. */
  def compact(targetFiles: Int): Seq[(String, Long)] =
    partitions.filter(fileCount(_) > targetFiles).map { d =>
      val v = valueOf(d)
      v -> compact(v, targetFiles)
    }

  /** Drop the rows of partition `value` that `keep` rejects (a NULL
    * keep drops the row, so callers pass a NULL-safe form). The read
    * carries no partition column, so `partCol` is restored as the
    * partition's literal value for the predicate and dropped again
    * before the write. Returns rows removed. */
  def deleteWhere(value: String, keep: Column): Long = {
    val d = dir(value)
    val before = rowCount(d)
    rewrite(value, read(d).withColumn(partCol, lit(value)).filter(keep).drop(partCol),
      math.max(1, fileCount(d)))
    before - rowCount(d)
  }

  /** FILE-granular delete of the named docs from partition `value`:
    * the footers (driver metadata I/O) identify exactly which files
    * can hold a victim ([[fileTouchesNames]]), and only THOSE files
    * rewrite, O(touched files) rather than the whole partition.
    *
    * The rewrite is ONE Spark job for all touched files (rows tagged
    * with their source file via `input_file_name`, one output file per
    * source via a partitioned write). Each output then swaps in over
    * its source file, and an all-rows-deleted file is replaced by a
    * ZERO-ROW file rather than removed, so a missing live file is
    * always crash state, never a completed delete. Returns rows
    * removed. */
  def deleteNames(value: String, names: Seq[String]): Long = {
    val d = dir(value)
    recoverFiles(d)
    val sortedNames = names.sorted.toArray
    def rowsAt(p: Path) = footerRows(fs.getFileStatus(p), conf)
    val touched = files(d).filter(f => fileTouchesNames(f, sortedNames, conf))
      .map(_.getPath).sortBy(_.getName)
    if (touched.isEmpty) return 0L
    val before = touched.map(rowsAt).sum
    // file NAMES are unique within the dir (input_file_name returns the
    // full URI, whose encoding is not worth depending on); repartition
    // on the tag puts each source's rows in one task
    val fileIdx = touched.map(_.getName).zipWithIndex.toMap
    val staged = new Path(d, ".delete_tmp_batch")
    spark.read.schema(dataSchema).parquet(touched.map(_.toString): _*)
      .withColumn("__f", element_at(typedLit(fileIdx),
        substring_index(input_file_name(), "/", -1)))
      .filter(!col("doc_name").isin(names: _*))
      .repartition(col("__f"))
      .sortWithinPartitions((col("__f") +: sortCols.map(col)): _*)
      .write.mode(SaveMode.Overwrite).partitionBy("__f").parquet(staged.toString)
    def partFile(p: Path, what: String) =
      fs.listStatus(p).map(_.getPath).find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new java.io.IOException(s"deleteNames: no $what part file under $p"))
    var removed = before
    touched.foreach { live =>
      val k = fileIdx(live.getName)
      val outDir = new Path(staged, s"__f=$k")
      val replacement =
        if (fs.exists(outDir)) partFile(outDir, "replacement")
        else {
          // every row of this file was a victim: stage a ZERO-ROW
          // replacement so the live file never goes missing
          val empty = new Path(staged, s"__empty_$k")
          spark.read.schema(dataSchema).parquet(live.toString).limit(0).coalesce(1)
            .write.mode(SaveMode.Overwrite).parquet(empty.toString)
          partFile(empty, "zero-row")
        }
      removed -= rowsAt(replacement)
      AtomicDir.swap(fs, replacement, live, new Path(d, s".delete_old_${live.getName}"))
    }
    fs.delete(staged, true)
    removed
  }

  /** Crash recovery ([[AtomicDir.recover]]) of the partition swaps at
    * the root and the per-file delete swaps inside each partition.
    * Returns whether a partition was restored. */
  def recover(): Boolean = {
    val restored = AtomicDir.recover(fs, rootP, ".compact_old_", Seq(".compact_tmp_"))
    partitions.foreach(recoverFiles)
    restored
  }

  private def recoverFiles(d: Path): Unit =
    AtomicDir.recover(fs, d, ".delete_old_", Seq(".delete_tmp_"))
}

private[graft] object SortedRuns {

  /** A parquet file's row count from its footer: driver metadata I/O. */
  def footerRows(f: FileStatus, conf: org.apache.hadoop.conf.Configuration): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
    try r.getRecordCount finally r.close()
  }

  /** Whether a sorted parquet file can hold any of the (sorted) victim
    * names — per row group, the doc_name column chunk's min/max stats
    * (parquet truncates stats to BOUNDS, so containment stays safe);
    * missing stats degrade to "touched" (rewrite, never skip). Driver
    * metadata I/O only. */
  def fileTouchesNames(f: FileStatus, sortedNames: Array[String],
      conf: org.apache.hadoop.conf.Configuration): Boolean = {
    import scala.jdk.CollectionConverters._
    val nameBytes = sortedNames.map(_.getBytes("UTF-8"))
    def cmp(a: Array[Byte], b: Array[Byte]) = java.util.Arrays.compareUnsigned(a, b)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getBlocks.asScala.exists { block =>
      block.getColumns.asScala.find(_.getPath.toDotString == "doc_name") match {
        case Some(c) =>
          val st = c.getStatistics
          if (st == null || !st.hasNonNullValue) true // no stats: must rewrite
          else {
            val mn = st.getMinBytes
            val mx = st.getMaxBytes
            nameBytes.exists(v => cmp(mn, v) <= 0 && cmp(v, mx) <= 0)
          }
        case None => true // column absent from footer: must rewrite
      }
    } finally r.close()
  }
}
