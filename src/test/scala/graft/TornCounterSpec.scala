package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraftVectorDB

/** A counter torn mid-replacement must not silently drop the keyword
  * half of hybrid search: an in-place truncate-and-write left
  * `_NDOCS` empty, which read as 0 and switched BM25 off until the
  * next lexical maintenance. */
class TornCounterSpec extends AnyFunSuite {
  import SparkTestSession._

  test("a torn _NDOCS write during ingest keeps hybrid search's lexical hits") {
    FaultFs.register(spark.sparkContext.hadoopConfiguration)
    FaultFs.reset()
    val local = new java.io.File("target/torn_counter_spec")
    def rmRf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmRf))
      f.delete()
    }
    rmRf(local)
    val dir = FaultFs.uri(local.getPath)
    val docs = Tables.load(spark, sf, "documents")
    val db = new GraftVectorDB(spark, dir)
    db.ingest(docs.filter(col("doc_id") < 30))
    db.indexLexical()
    val q = "fast query join table"
    def lexHits(d: GraftVectorDB) =
      d.searchHybrid(q, 5).collect().count(r => !r.isNullAt(r.fieldIndex("lex_rnk")))
    assert(lexHits(db) > 0)
    FaultFs.tearWriteOf(_.toLowerCase.contains("ndocs"))
    intercept[java.io.IOException](
      db.ingest(docs.filter(col("doc_id") >= 30 && col("doc_id") < 40)))
    assert(FaultFs.crashed)
    FaultFs.reset()
    new java.io.File(local, "_LOCK").delete()
    assert(lexHits(new GraftVectorDB(spark, dir)) > 0,
      "a torn counter must not switch off the lexical half")
  }
}
