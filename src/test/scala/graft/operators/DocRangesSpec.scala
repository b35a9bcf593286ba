package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Pure-math edge cases of the prefix→cell routing sidecar's range
  * test — the proof obligation is one-sided: `false` must NEVER be
  * returned for a range that contains a string with the prefix. */
class DocRangesSpec extends AnyFunSuite {
  private def may(mn: String, mx: String, p: String): Boolean =
    GraftVectorDB.rangeMayContainPrefix(mn, mx, p)

  test("basic overlap and exclusion") {
    assert(may("corpus/a", "corpus/z", "corpus/"))
    assert(may("corpus/a", "corpus/z", "corpus/m"))
    assert(!may("corpus/a", "corpus/z", "tenants/"))
    assert(!may("tenants/a", "tenants/z", "corpus/"))
    // the whole range sits BELOW the prefix window
    assert(!may("aaa", "bbb", "ccc"))
    // the whole range sits ABOVE it
    assert(!may("ddd", "eee", "ccc"))
    // range straddles the window
    assert(may("aaa", "zzz", "ccc"))
  }

  test("boundary cases: prefix equals an endpoint") {
    assert(may("corpus/", "corpus/", "corpus/"))
    assert(may("corpus/a", "corpus/a", "corpus/a"))
    // max IS a string with the prefix
    assert(may("aaa", "ccc", "ccc"))
    assert(may("aaa", "cccX", "ccc"))
    // min is the last string under the prefix window's start: excluded
    assert(!may("aaa", "ccb￿", "ccc"))
  }

  test("empty prefix matches everything") {
    assert(may("anything", "whatever", ""))
  }

  test("0xFF-boundary bytes in the prefix") {
    // a prefix ending in U+00FF (0xC3 0xBF in UTF-8): the upper bound
    // must carry into the preceding byte, not overflow
    val p = "aÿ"
    assert(may("aÿ0", "aÿz", p))
    assert(!may("b", "c", p))
    // range below the prefix
    assert(!may("a", "aþ", p))
  }

  test("unsigned byte order: non-ASCII sorts after ASCII as Spark's UTF8String does") {
    // 'é' (0xC3 0xA9) > 'z' (0x7A) in unsigned byte order
    assert(GraftVectorDB.maxU8("z", "é") == "é")
    assert(GraftVectorDB.minU8("z", "é") == "z")
    assert(!may("aaa", "zzz", "é")) // é-prefix cannot live in [aaa, zzz]
    assert(may("aaa", "é1", "é"))
  }

  test("a reader re-lists when the listed version vanishes under it") {
    val conf = new org.apache.hadoop.conf.Configuration()
    graft.FaultFs.register(conf)
    val dir = new org.apache.hadoop.fs.Path(graft.FaultFs.uri("target/docranges_vanish_spec"))
    val fs = dir.getFileSystem(conf)
    graft.FaultFs.reset()
    fs.delete(dir, true)
    val ranges = Map(0 -> ("corpus/a", "corpus/m"), 1 -> ("corpus/n", "corpus/z"))
    GraftVectorDB.writeDocRanges(fs, dir, ranges)
    // an appendAnnIndex committing v(N+1) and dropping vN between this
    // reader's list and open
    graft.FaultFs.vanishOnOpen(_.startsWith("_docranges.v"))
    assert(GraftVectorDB.readDocRanges(fs, dir) == ranges)
  }
}
