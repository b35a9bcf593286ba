package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `graft.util.AtomicDir` the store's only commit protocol: a
  * Hadoop `rename(` anywhere else in src/main, or a Hadoop `create(`
  * other than the writer lease's exclusive create (mutual exclusion,
  * not a commit), fails this spec. */
class CommitProtocolGuardSpec extends AnyFunSuite {
  test("hadoop rename/create appear in src/main only inside AtomicDir (and the lease)") {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val rename = """\.rename\(""".r
    val create = """(?i)\b\w*fs\.create\(""".r
    val offenders = walk(new java.io.File("src/main/scala"))
      .filterNot(_.getName == "AtomicDir.scala")
      .flatMap { f =>
        scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex.collect {
          case (line, i) if rename.findFirstIn(line).nonEmpty ||
              (create.findFirstIn(line).nonEmpty && !line.contains("fs.create(leasePath,")) =>
            s"${f.getPath}:${i + 1}: ${line.trim}"
        }
      }
    assert(offenders.isEmpty,
      s"commit through graft.util.AtomicDir instead:\n${offenders.mkString("\n")}")
  }
}
