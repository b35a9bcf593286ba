package graft

import java.io.{FileNotFoundException, IOException, OutputStream}
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream,
  FilterFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Crash injection for store specs: the local filesystem under its own
  * scheme (`faulty:///abs/path`), behind a `FilterFileSystem` that
  *
  *  - counts every `rename`/`create` outside Spark's committer
  *    (`_temporary`) and the writer lease (`_LOCK`, mutual exclusion
  *    rather than a commit), and fails the N-th one when armed;
  *  - after that failure behaves like a dead process: every further
  *    create, rename, delete and mkdirs throws, so no catch or finally
  *    block can tidy up what a real crash would have left behind
  *    (reads still work — they change nothing);
  *  - renames with HDFS semantics: a rename onto an existing path
  *    returns false instead of replacing it, so the non-atomic
  *    replacement paths run here while every other spec covers the
  *    POSIX ones;
  *  - can make the next `open`s of matching files throw
  *    FileNotFoundException, or the write into a matching new file
  *    fail (a torn write), for race and torn-file cases.
  *
  * Fault state lives in a [[FaultFs.Scope]]: one per directory tree
  * registered with [[FaultFs.scope]] (so concurrent cases on separate
  * stores crash independently), and a global one for every other path
  * (the object's own reset/crashAt/... act on it). State is JVM-wide:
  * the tasks of a local Spark session share it. */
class FaultFs extends FilterFileSystem(new FaultFs.Local) {
  import FaultFs._

  override def rename(src: Path, dst: Path): Boolean = {
    scopeOf(src).mutation(s"rename $src -> $dst", src, dst)
    if (exists(dst)) false else super.rename(src, dst)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val s = scopeOf(f)
    s.mutation(s"create $f", f)
    s.tearIfArmed(f, super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  }

  override def create(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable,
      checksumOpt: Options.ChecksumOpt): FSDataOutputStream = {
    val s = scopeOf(f)
    s.mutation(s"create $f", f)
    s.tearIfArmed(f, super.create(f, permission, flags, bufferSize, replication,
      blockSize, progress, checksumOpt))
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val s = scopeOf(f)
    s.mutation(s"create $f", f)
    s.tearIfArmed(f, super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    scopeOf(f).checkAlive()
    super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    scopeOf(f).checkAlive()
    super.mkdirs(f, permission)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (scopeOf(f).takeOpenFault(f)) throw new FileNotFoundException(s"injected vanish: $f")
    super.open(f, bufferSize)
  }
}

object FaultFs {
  val Scheme = "faulty"

  /** The local filesystem, answering to [[Scheme]]. */
  class Local extends RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create(s"$Scheme:///")
  }

  /** Route `faulty:` paths through [[FaultFs]] in `conf`. */
  def register(conf: Configuration): Unit =
    conf.set(s"fs.$Scheme.impl", classOf[FaultFs].getName)

  /** `faulty:` URI of a local directory. */
  def uri(localDir: String): String =
    s"$Scheme://${new java.io.File(localDir).getAbsolutePath}"

  final class Scope private[FaultFs] () {
    private var count = 0
    private var failAt = 0
    private var dead = false
    private var ops = Vector.empty[String]
    private var openFault: Option[(String => Boolean, Int)] = None
    private var tearFault: Option[String => Boolean] = None

    /** Disarm every fault, revive, and zero the op counter. */
    def reset(): Unit = synchronized {
      count = 0; failAt = 0; dead = false; ops = Vector.empty
      openFault = None; tearFault = None
    }

    /** Crash at the `n`-th counted rename/create from now on (counting
      * restarts). */
    def crashAt(n: Int): Unit = synchronized { reset(); failAt = n }

    /** Counted rename/create ops since the last reset, in order. */
    def counted: Vector[String] = synchronized(ops)

    def crashed: Boolean = synchronized(dead)

    /** The next `times` opens of files whose name matches throw
      * FileNotFoundException. */
    def vanishOnOpen(name: String => Boolean, times: Int = 1): Unit = synchronized {
      openFault = Some((name, times))
    }

    /** The write into the next created file whose name matches fails
      * after the create (the file is left as the create left it), and
      * the process counts as crashed from there on. */
    def tearWriteOf(name: String => Boolean): Unit = synchronized {
      tearFault = Some(name)
    }

    private def crash(what: String) =
      new IOException(s"injected crash: $what (the writer is dead)")

    private[FaultFs] def checkAlive(): Unit = synchronized {
      if (dead) throw crash("filesystem mutation after the crash point")
    }

    private[FaultFs] def mutation(what: String, paths: Path*): Unit = synchronized {
      checkAlive()
      if (!paths.exists(p => p.toUri.getPath.contains("/_temporary") ||
          p.getName == "_LOCK")) {
        count += 1
        ops :+= what
        if (count == failAt) {
          dead = true
          throw crash(s"op $count: $what")
        }
      }
    }

    private[FaultFs] def takeOpenFault(f: Path): Boolean = synchronized {
      openFault match {
        case Some((name, n)) if name(f.getName) =>
          openFault = if (n > 1) Some((name, n - 1)) else None
          true
        case _ => false
      }
    }

    private[FaultFs] def tearIfArmed(f: Path, out: FSDataOutputStream): FSDataOutputStream =
      synchronized {
        tearFault match {
          case Some(name) if name(f.getName) =>
            tearFault = None
            val scope = this
            new FSDataOutputStream(new OutputStream {
              def write(b: Int): Unit = tear()
              override def write(b: Array[Byte], off: Int, len: Int): Unit = tear()
              private def tear(): Unit = {
                scope.synchronized { dead = true }
                throw crash(s"torn write into $f")
              }
              override def close(): Unit = out.close()
            }, null)
          case _ => out
        }
      }
  }

  private val global = new Scope
  private val scopes = new java.util.concurrent.ConcurrentHashMap[String, Scope]

  /** The fault scope of every path under the local directory `dir`. */
  def scope(dir: String): Scope =
    scopes.computeIfAbsent(new java.io.File(dir).getAbsolutePath + "/", _ => new Scope)

  private def scopeOf(p: Path): Scope = {
    val path = p.toUri.getPath + "/"
    var found = global
    scopes.forEach((root, s) => if (path.startsWith(root)) found = s)
    found
  }

  def reset(): Unit = global.reset()
  def crashAt(n: Int): Unit = global.crashAt(n)
  def crashed: Boolean = global.crashed
  def vanishOnOpen(name: String => Boolean, times: Int = 1): Unit =
    global.vanishOnOpen(name, times)
  def tearWriteOf(name: String => Boolean): Unit = global.tearWriteOf(name)
}
