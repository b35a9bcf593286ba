package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scans over src/main. Keeps `graft.util.AtomicDir` the store's
  * only commit protocol: a Hadoop `rename(` anywhere else, or a Hadoop
  * `create(` other than the writer lease's exclusive create (mutual
  * exclusion, not a commit), fails this spec. Keeps the partition and
  * file rewrite names inside `graft.operators.SortedRuns`, the one
  * owner of that lifecycle. Keeps every store sidecar read on its
  * declared schema (no footer inference, no schema-merge job). Keeps
  * src/main a library with a fixed set of entry points: one-off
  * measurement programs belong outside it. */
class CommitProtocolGuardSpec extends AnyFunSuite {
  private val root = new java.io.File("src/main/scala")

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil

  private def lines(f: java.io.File): Seq[(String, Int)] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().zipWithIndex.toList finally src.close()
  }

  test("hadoop rename/create appear in src/main only inside AtomicDir (and the lease)") {
    val rename = """\.rename\(""".r
    val create = """(?i)\b\w*fs\.create\(""".r
    val offenders = walk(root)
      .filterNot(_.getName == "AtomicDir.scala")
      .flatMap { f =>
        lines(f).collect {
          case (line, i) if rename.findFirstIn(line).nonEmpty ||
              (create.findFirstIn(line).nonEmpty && !line.contains("fs.create(leasePath,")) =>
            s"${f.getPath}:${i + 1}: ${line.trim}"
        }
      }
    assert(offenders.isEmpty,
      s"commit through graft.util.AtomicDir instead:\n${offenders.mkString("\n")}")
  }

  test("partition and file rewrite residue is named only by SortedRuns") {
    // the store's records and every ANN index share one sorted-run
    // lifecycle; a second copy of its rewrite or recovery would name
    // these prefixes again (AtomicDir's Scaladoc lists them as format)
    val residue = Seq(".compact_tmp_", ".compact_old_", ".delete_tmp_", ".delete_old_")
    val offenders = walk(root).filterNot(_.getName == "SortedRuns.scala").flatMap { f =>
      lines(f).collect {
        case (line, i) if residue.exists(line.contains) &&
            !(f.getName == "AtomicDir.scala" && line.trim.startsWith("*")) =>
          s"${f.getPath}:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty,
      s"rewrite partitions through graft.operators.SortedRuns:\n${offenders.mkString("\n")}")
  }

  test("sidecar reads declare their schemas: no mergeSchema in src/main") {
    val merge = walk(root).flatMap { f =>
      lines(f).collect { case (line, i) if line.contains("mergeSchema") =>
        s"${f.getPath}:${i + 1}: ${line.trim}" }
    }
    assert(merge.isEmpty, s"read with a declared schema instead:\n${merge.mkString("\n")}")
    val sidecars = Seq("GenSidecar.scala", "NearDupSidecar.scala", "LexicalSidecar.scala",
      "AnnSidecar.scala", "SortedRuns.scala")
      .map(n => new java.io.File(root, s"graft/operators/$n"))
    assert(sidecars.forall(_.isFile), s"sidecar components missing: ${sidecars.filterNot(_.isFile)}")
    val reads = sidecars.flatMap(f => lines(f).collect {
      case (line, i) if line.contains("spark.read") => (s"${f.getPath}:${i + 1}", line) })
    assert(reads.nonEmpty, "the sidecar components read no Parquet?")
    val inferred = reads.filterNot(_._2.contains(".schema("))
    assert(inferred.isEmpty,
      s"a sidecar read must pass its declared schema:\n${inferred.map(_._1).mkString("\n")}")
  }

  test("src/main has exactly the six kept entry points") {
    val kept = Set("graft/Bench.scala", "graft/Verify.scala", "graft/tools/Serve.scala",
      "graft/tools/ScaleGen.scala", "graft/tools/Explain.scala", "graft/tools/Demo.scala")
    val entry = """\bdef main\(|\b(extends|with)\s+App\b""".r
    val found = walk(root).flatMap { f =>
      lines(f).collect { case (line, i) if entry.findFirstIn(line).nonEmpty =>
        root.toPath.relativize(f.toPath).toString.replace('\\', '/') -> s"${f.getPath}:${i + 1}"
      }
    }
    val offenders = found.filterNot { case (rel, _) => kept(rel) }.map(_._2)
    assert(offenders.isEmpty,
      s"a measurement program belongs outside src/main:\n${offenders.mkString("\n")}")
    assert(found.map(_._1).toSet == kept)
  }
}
