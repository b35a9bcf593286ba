package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** GraftSession sizes Spark's generated-class cache to hold a working
  * set past the default 100 entries: a curate pass generates about 300
  * classes, and at the default every warm pass recompiled nearly all
  * of them. Here 150 distinct single-stage plans run twice; the second
  * round must find its classes cached. */
class CodegenCacheSpec extends AnyFunSuite {
  import SparkTestSession._

  test("a working set past 100 generated classes is compiled once, not per round") {
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // each literal makes a distinct generated source, so a distinct key
    def round(): Long = {
      val before = compiled
      for (i <- 1 to 150)
        spark.range(4).selectExpr(s"id * $i + 7 as x").collect()
      compiled - before
    }
    val t0 = System.nanoTime()
    val first = round()
    val second = round()
    info(f"round one compiled $first generated classes, round two $second, " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(first >= 150, s"round one compiled only $first classes")
    assert(second <= first / 20,
      s"round two recompiled $second of $first generated classes")
  }
}
