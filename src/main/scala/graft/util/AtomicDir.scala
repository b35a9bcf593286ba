package graft.util

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}

/** The one on-disk commit protocol of a graft store: every rename in
  * the store, and every small metadata file but the writer lease
  * (mutual exclusion, not a commit), goes through here, so crash
  * safety is argued once and fault-tested once (`CrashSweepSpec`
  * fails the N-th rename/create of every lifecycle op and reopens the
  * store).
  *
  * '''Names.''' A commit first writes its new content under a
  * dot-prefixed STAGED name; while a previous copy is live, that copy
  * moves to a dot-prefixed ASIDE name until the new one is live.
  * Dot-prefixed names are invisible to Spark's file listing and are
  * never listed by the snapshot manifest, so no residue ever serves.
  * The callers' prefixes are part of the on-disk format: `.tmp_` /
  * `.old_` (sidecar dirs and small files), `.compact_tmp_` /
  * `.compact_old_` (store partitions, index cells), `.ann_build_tmp_`
  * / `.ann_build_old_` (whole indexes), `.delete_tmp_` /
  * `.delete_old_` (files a delete rewrites) and `.<stem>_tmp_<uuid>`
  * (small and versioned files, see [[stagedPrefix]]).
  *
  * '''Swap''' ([[swap]]): with nothing live, one rename staged → live.
  * Otherwise live → aside, staged → live, then the aside is dropped.
  * At every instant either live or aside holds a complete copy; a
  * delete-then-rename order would lose the only copy to a crash in
  * between, silently, since a missing partition or cell just drops
  * out of results.
  *
  * '''Recovery''' ([[recover]], run by a writer before it touches a
  * dir): an aside whose live name is MISSING means the crash hit
  * between the two renames, so the aside is renamed back (restore);
  * an aside beside a live copy means the swap completed, so the aside
  * is dropped; anything staged never reached its commit rename and is
  * dropped (the op starts over).
  *
  * '''Small files''' ([[write]]/[[read]]): a replacement stages the
  * value and renames it over the live name. Where the filesystem
  * replaces atomically on rename (POSIX local) that single rename is
  * the commit; where rename refuses to overwrite (HDFS) the write
  * falls back to [[swap]] with the aside `.old_<name>`, and [[read]]
  * falls back to that aside, so a reader never sees the value torn
  * and never sees it missing. Last writer wins (the store is
  * single-writer). An absent file reads as None. Small and versioned
  * files carry no checksum file: on a checksummed filesystem (local
  * `file:`) they are written through its raw filesystem, since there
  * a file rename is two renames (data, then `.crc`).
  *
  * '''Versioned files''' ([[commitVersion]]/[[readLatest]]):
  * `<prefix>N` files whose next version is renamed in under a name
  * that never existed, so the commit is one atomic rename on any
  * filesystem; superseded versions are dropped after it. A reader
  * that lists version N just as the writer commits N+1 and drops N
  * re-lists, at most three times. */
object AtomicDir {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val ReadAttempts = 3

  /** Replace `live` with `staged`, keeping the superseded copy at
    * `aside` until the new one is live. */
  def swap(fs: FileSystem, staged: Path, live: Path, aside: Path): Unit = {
    val hadLive = fs.exists(live)
    // an aside beside a live copy is superseded (the recovery rule);
    // left in place it would block the rename where rename never
    // overwrites
    if (hadLive) fs.delete(aside, true)
    if (hadLive && !fs.rename(live, aside))
      throw new java.io.IOException(s"swap: rename $live -> $aside failed")
    if (!fs.rename(staged, live))
      throw new java.io.IOException(s"swap: rename $staged -> $live failed" +
        (if (hadLive) s" (original preserved at $aside - recovery restores it)" else ""))
    if (hadLive) fs.delete(aside, true)
  }

  /** Restore or drop every aside (`asidePrefix` + suffix, live name
    * `liveName(suffix)`) in `dir`, and drop every staged entry (names
    * starting with one of `stagedPrefixes`), in both cases only where
    * `only` accepts the suffix after the prefix. Returns whether any
    * live copy was restored. A missing `dir` holds nothing to recover. */
  def recover(fs: FileSystem, dir: Path, asidePrefix: String,
      stagedPrefixes: Seq[String],
      liveName: String => String = identity,
      only: String => Boolean = _ => true): Boolean = {
    val entries =
      try fs.listStatus(dir).toSeq.map(_.getPath)
      catch { case _: java.io.FileNotFoundException => Nil }
    def matching(prefix: String)(p: Path) =
      p.getName.startsWith(prefix) && only(p.getName.stripPrefix(prefix))
    var restored = false
    entries.filter(matching(asidePrefix)).foreach { aside =>
      val live = new Path(dir, liveName(aside.getName.stripPrefix(asidePrefix)))
      if (!fs.exists(live)) {
        if (!fs.rename(aside, live))
          throw new java.io.IOException(s"recover: rename $aside -> $live failed")
        log.warn(s"recover: restored $live from an interrupted swap")
        restored = true
      } else fs.delete(aside, true)
    }
    entries.filter(p => stagedPrefixes.exists(matching(_)(p))).foreach(fs.delete(_, true))
    restored
  }

  /** The staged-name prefix of a small or versioned file:
    * `.<stem>_tmp_`, the stem being the name without its leading `_`
    * and version suffix, lower-cased (`_GEN` → `.gen_tmp_`,
    * `_splits.v` → `.splits_tmp_`, `manifest.v` → `.manifest_tmp_`). */
  def stagedPrefix(name: String): String =
    s".${name.stripPrefix("_").takeWhile(_ != '.').toLowerCase}_tmp_"

  private def aside(p: Path): Path = new Path(p.getParent, s".old_${p.getName}")

  /** The filesystem small and versioned files are written through:
    * past a checksummed filesystem's `.crc` layer (the local `file:`
    * default), whose file rename moves the data and then its checksum,
    * so a crash between the two would leave the live name under a
    * stale checksum that fails every read. A file without a `.crc`
    * reads unverified. */
  private def unchecked(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case _ => fs
  }

  private def stage(fs: FileSystem, dir: Path, name: String, text: String): Path = {
    val staged = new Path(dir, stagedPrefix(name) + java.util.UUID.randomUUID())
    val out = unchecked(fs).create(staged, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    staged
  }

  /** Replace the small file `p` with `text` (see the class doc). */
  def write(fs: FileSystem, p: Path, text: String): Unit = {
    // a checksum an older writer left beside `p` would no longer match
    fs match {
      case c: ChecksumFileSystem => c.getRawFileSystem.delete(c.getChecksumFile(p), false)
      case _ =>
    }
    val staged = stage(fs, p.getParent, p.getName, text)
    val raw = unchecked(fs)
    if (!raw.rename(staged, p)) swap(raw, staged, p, aside(p))
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Whether a read failed because its file was swapped away under it:
    * gone, or (on a checksummed filesystem) caught between the data
    * and checksum renames. */
  private def vanished(e: java.io.IOException): Boolean = e match {
    case _: java.io.FileNotFoundException | _: org.apache.hadoop.fs.ChecksumException => true
    case _ => false
  }

  /** The small file `p`'s content; None when it does not exist. */
  def read(fs: FileSystem, p: Path): Option[String] = {
    def attempt(candidates: List[Path]): Option[String] = candidates match {
      case Nil => None
      case c :: rest =>
        try Some(readText(fs, c))
        catch {
          // a checksum mismatch on the LAST candidate is not a race
          // but damage, and must not read as "absent"
          case e: java.io.IOException if vanished(e) &&
              (rest.nonEmpty || e.isInstanceOf[java.io.FileNotFoundException]) =>
            attempt(rest)
        }
    }
    // live, then the aside of a non-atomic replacement, then live
    // again (the replacement may have completed in between)
    attempt(List(p, aside(p), p))
  }

  private def versions(fs: FileSystem, dir: Path,
      prefix: String): (Seq[(Path, Int)], Seq[Path]) = {
    val names =
      try fs.listStatus(dir).toSeq.map(_.getPath)
      catch { case _: java.io.FileNotFoundException => Nil }
    (names.filter(_.getName.startsWith(prefix))
      .flatMap(p => p.getName.stripPrefix(prefix).toIntOption.map(p -> _)),
      names.filter(_.getName.startsWith(stagedPrefix(prefix))))
  }

  /** Commit `text` as the next version `<prefix>N+1` in `dir`, then
    * drop the superseded versions and any crashed commit's staged
    * file. Returns the committed path. */
  def commitVersion(fs: FileSystem, dir: Path, prefix: String, text: String): Path = {
    val (vs, staleStaged) = versions(fs, dir, prefix)
    val staged = stage(fs, dir, prefix, text)
    val dest = new Path(dir, s"$prefix${vs.map(_._2).maxOption.getOrElse(0) + 1}")
    if (!unchecked(fs).rename(staged, dest))
      throw new java.io.IOException(s"commitVersion: rename $staged -> $dest failed")
    (vs.map(_._1) ++ staleStaged).foreach(fs.delete(_, false))
    dest
  }

  /** The latest committed version in `dir`: (file name, content), or
    * None when no version exists. */
  def readLatest(fs: FileSystem, dir: Path, prefix: String): Option[(String, String)] = {
    def attempt(left: Int): Option[(String, String)] =
      versions(fs, dir, prefix)._1.maxByOption(_._2).map(_._1) match {
        case None => None
        case Some(p) =>
          try Some(p.getName -> readText(fs, p))
          catch {
            case e: java.io.IOException if vanished(e) =>
              if (left > 1) attempt(left - 1)
              else throw new IllegalStateException(
                s"readLatest: a ${prefix}N file under $dir kept vanishing across " +
                  s"$ReadAttempts list/read attempts - either the listing is eventually " +
                  "consistent (retry) or a version was removed without a successor", e)
          }
      }
    attempt(ReadAttempts)
  }
}
