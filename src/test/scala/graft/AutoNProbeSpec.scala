package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AnnIndex, GraftVectorDB}

/** Scale-adaptive probe budget — the serving twin of the adaptive cell
  * count: a fixed `nProbe = 20` that probes 33% of a 61-cell index is
  * 3.9% of the 512 cells a 10×-grown store rebuilds to; SURVEY.md round 9
  * (item 3) records exactly that as recall@5 decay (0.997 sf1 → 0.903 sf10)
  * while the cell geometry stayed anchored. `AutoNProbe` (the store
  * surfaces' default) resolves the budget from the LIVE cell count:
  * floor `NProbe` below 8×NProbe cells (all existing behavior and
  * job pins unchanged), 1/8 of the cells past it. */
class AutoNProbeSpec extends AnyFunSuite {
  import SparkTestSession._

  private def rmRf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmRf))
    f.delete()
  }

  private def key(r: org.apache.spark.sql.Row) =
    (r.getAs[String]("doc_name"), r.getAs[String]("content_id"),
      r.getAs[Double]("sim_r"))

  test("autoNProbe floors at NProbe below 8xNProbe cells and holds a 1/8 fraction past it") {
    assert(AnnIndex.autoNProbe(1) == AnnIndex.NProbe)
    assert(AnnIndex.autoNProbe(61) == AnnIndex.NProbe)   // the sf1 geometry
    assert(AnnIndex.autoNProbe(160) == AnnIndex.NProbe)  // boundary: 160/8 = 20
    assert(AnnIndex.autoNProbe(161) == 21)
    assert(AnnIndex.autoNProbe(512) == 64)               // the sf10 geometry
    // idempotent resolution: layered call sites (public surface +
    // probe helper) must agree
    assert(AnnIndex.resolveNProbe(AnnIndex.AutoNProbe, 512) == 64)
    assert(AnnIndex.resolveNProbe(64, 512) == 64)
    assert(AnnIndex.resolveNProbe(
      AnnIndex.resolveNProbe(AnnIndex.AutoNProbe, 512), 512) == 64)
    // explicit values always win, including below the floor
    assert(AnnIndex.resolveNProbe(3, 512) == 3)
  }

  /** The cell ids a plan's partition filters pin. */
  private def scanCells(df: org.apache.spark.sql.DataFrame): Set[Int] = {
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    scans.flatMap(_.partitionFilters.flatMap(_.collect {
      case in: org.apache.spark.sql.catalyst.expressions.In =>
        in.list.collect {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v }
      case s: org.apache.spark.sql.catalyst.expressions.InSet =>
        s.hset.toSeq.collect { case i: Int => i }
      case org.apache.spark.sql.catalyst.expressions.EqualTo(_,
          org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)) => Seq(v)
    }.flatten)).toSet
  }

  test("past the floor the default probe set scales with the cells; every surface equals its explicit-nProbe twin") {
    import spark.implicits._
    val dir = "target/vdb_auto_nprobe"
    rmRf(new java.io.File(dir))
    val db = new GraftVectorDB(spark, dir)
    assert(db.ingest(Tables.load(spark, sf, "documents")) > 0)
    db.buildAnnIndex(cells = 200)
    val np = AnnIndex.autoNProbe(200)
    assert(np == 25, "200 cells must resolve to a 25-cell probe budget")

    val q = "fast query join table"
    // the default plan probes MORE than the old fixed 20 — and exactly
    // the same cells as the explicit autoNProbe(cells) call
    val defCells = scanCells(db.ann("text").scanPlan(q, 5, AnnIndex.AutoNProbe))
    assert(defCells.size == np, s"default probe set was ${defCells.size} cells")
    assert(defCells == scanCells(db.ann("text").scanPlan(q, 5, np)))

    // result parity on all four serving surfaces: the sentinel is pure
    // resolution, not a behavior fork
    assert(db.searchAnn(q, 5).collect().map(key).toSeq ==
      db.searchAnn(q, 5, nProbe = np).collect().map(key).toSeq)
    assert(db.searchAnnPq(q, 5).collect().map(key).toSeq ==
      db.searchAnnPq(q, 5, nProbe = np).collect().map(key).toSeq)
    val batch = Seq((1L, q), (2L, "slow merge sort line"), (3L, "hash vector stream"))
      .toDF("q_id", "q_text")
    assert(db.searchAllAnn(batch, 5).collect().map(key).toSeq ==
      db.searchAllAnn(batch, 5, nProbe = np).collect().map(key).toSeq)
    assert(db.searchAllAnnPq(batch, 5).collect().map(key).toSeq ==
      db.searchAllAnnPq(batch, 5, nProbe = np).collect().map(key).toSeq)
  }
}
