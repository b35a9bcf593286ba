package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.util.AtomicDir

/** [[AtomicDir]]'s own contract on a filesystem whose rename refuses
  * to overwrite (HDFS semantics, via [[FaultFs]]). */
class AtomicDirSpec extends AnyFunSuite {
  private val conf = new org.apache.hadoop.conf.Configuration()
  FaultFs.register(conf)
  private val root = new Path(FaultFs.uri("target/atomic_dir_spec"))
  private lazy val fs = root.getFileSystem(conf)

  private def fresh(): Unit = {
    FaultFs.reset()
    fs.delete(root, true)
    fs.mkdirs(root)
  }

  private def names = fs.listStatus(root).map(_.getPath.getName).toSet

  test("small-file replacement on a non-overwriting rename: never torn, never missing") {
    fresh()
    val p = new Path(root, "_NDOCS")
    assert(AtomicDir.read(fs, p).isEmpty)
    AtomicDir.write(fs, p, "1")
    AtomicDir.write(fs, p, "22")
    assert(AtomicDir.read(fs, p).contains("22"))
    assert(names == Set("_NDOCS"))
    // crash at op 4 of (create staged, refused overwrite rename,
    // live -> aside, staged -> live): readers fall back to the aside,
    // and recovery puts it back
    FaultFs.crashAt(4)
    intercept[java.io.IOException](AtomicDir.write(fs, p, "333"))
    FaultFs.reset()
    assert(!names.contains("_NDOCS"))
    assert(AtomicDir.read(fs, p).contains("22"))
    assert(AtomicDir.recover(fs, root, ".old_", Seq(AtomicDir.stagedPrefix("_NDOCS"))))
    assert(AtomicDir.read(fs, p).contains("22"))
    assert(names == Set("_NDOCS"))
  }

  test("on a checksummed filesystem small and versioned files carry no .crc") {
    // there a file rename is two renames (data, then checksum), and a
    // crash between them would leave the live name under a stale one
    val local = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    val dir = local.makeQualified(new Path("target/atomic_dir_spec_crc"))
    local.delete(dir, true)
    local.mkdirs(dir)
    val p = new Path(dir, "_GEN")
    val out = local.create(p, true) // an older writer's checksummed file
    try out.write("1".getBytes("UTF-8")) finally out.close()
    assert(local.exists(local.getChecksumFile(p)))
    AtomicDir.write(local, p, "22")
    AtomicDir.write(local, p, "333")
    AtomicDir.commitVersion(local, dir, "_splits.v", "a")
    assert(local.getRawFileSystem.listStatus(dir).map(_.getPath.getName).toSet ==
      Set("_GEN", "_splits.v1"))
    assert(AtomicDir.read(local, p).contains("333"))
    assert(AtomicDir.readLatest(local, dir, "_splits.v").contains("_splits.v1" -> "a"))
  }

  test("versioned commits keep one version; readers re-list past a vanished one") {
    fresh()
    AtomicDir.commitVersion(fs, root, "_splits.v", "a")
    AtomicDir.commitVersion(fs, root, "_splits.v", "b")
    assert(names == Set("_splits.v2"))
    FaultFs.vanishOnOpen(_.startsWith("_splits.v"), times = 2)
    assert(AtomicDir.readLatest(fs, root, "_splits.v").contains("_splits.v2" -> "b"))
    FaultFs.vanishOnOpen(_.startsWith("_splits.v"), times = 3)
    intercept[IllegalStateException](AtomicDir.readLatest(fs, root, "_splits.v"))
  }
}
