package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.DocStreams

/** SOURCE-AGNOSTICISM pin for the streaming curation gates (VERDICT
  * r15 item 8): every StreamingSpec parity proof drives the gates
  * from a FILE stream; this suite drives the identical transforms
  * from a [[MemoryStream]] — the in-memory stand-in for any push
  * source (the Kafka seam without the dependency). If the gate
  * transforms were accidentally coupled to the file source (schema
  * inference order, partition-file batching, implicit arrival
  * ordering), the parity here would break: a MemoryStream delivers
  * hand-chosen micro-batches in hand-chosen splits.
  */
class MemoryStreamGateSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._
  import MemoryStreamGateSpec.Doc

  private def docRows: Seq[Doc] =
    Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .collect()
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq

  private def gateRows(df: org.apache.spark.sql.DataFrame)
      : Set[(String, String, Long, Double)] =
    df.select("file_hash", "lang_pred", "n_tokens", "quality_r").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet

  test("curation gate over a MemoryStream == batch gate, split across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val docs = docRows
    val src = MemoryStream[Doc]
    val q = DocStreams.curateGate(src.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("mem_gate_plain").start()
    try {
      // three uneven micro-batches, out of doc_id order — the split a
      // push source actually delivers; the gate must not care
      val (a, rest) = docs.splitAt(docs.length / 3)
      val (b, c) = rest.splitAt(rest.length / 2)
      src.addData(b)
      q.processAllAvailable()
      src.addData(c)
      src.addData(a)
      q.processAllAvailable()
      val got = gateRows(spark.table("mem_gate_plain"))
      val want = gateRows(DocStreams.curateBatch(spark, sf))
      assert(got.nonEmpty && got == want,
        s"missing: ${(want -- got).take(3)}; spurious: ${(got -- want).take(3)}")
      assert(got.size < docs.size, "the gate must actually gate")
    } finally q.stop()
  }

  test("gopher+C4-gated stream over a MemoryStream == the file-stream gate") {
    implicit val sqlCtx = spark.sqlContext
    val docs = docRows
    val src = MemoryStream[Doc]
    val q = DocStreams.curateGate(src.toDF(), gopherRules = true, c4Rules = true)
      .writeStream.outputMode("append")
      .format("memory").queryName("mem_gate_full").start()
    try {
      docs.grouped(math.max(docs.size / 4, 1)).foreach(src.addData(_))
      q.processAllAvailable()
      val got = gateRows(spark.table("mem_gate_full"))
      // the reference twin: the SAME transform over a static frame
      // (curateGate works unchanged on batch — the documented parity)
      val want = gateRows(DocStreams.curateGate(
        Tables.load(spark, sf, "documents"), gopherRules = true,
        c4Rules = true))
      assert(got == want)
    } finally q.stop()
  }

  test("within-stream duplicate collapses identically from a MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val docs = docRows
    // replay one surviving document VERBATIM in a later micro-batch:
    // first-wins dedup must keep exactly one row for its hash
    val src = MemoryStream[Doc]
    val q = DocStreams.curateGate(src.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("mem_gate_dup").start()
    try {
      src.addData(docs)
      q.processAllAvailable()
      val firstPass = gateRows(spark.table("mem_gate_dup"))
      val survivorHash = firstPass.head._1
      val survivor = docs.find(d =>
        md5Hex(d.text) == survivorHash).getOrElse(docs.head)
      src.addData(Seq(survivor.copy(doc_id = 999999L)))
      q.processAllAvailable()
      val secondPass = gateRows(spark.table("mem_gate_dup"))
      assert(secondPass == firstPass, "a replayed hash must not re-emit")
    } finally q.stop()
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

object MemoryStreamGateSpec {
  /** Top level, not inside the spec: generated code must construct it
    * without an outer instance, or the encoder falls back to the
    * interpreter. */
  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
}
