package graft.functions.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** tokens: array<string> → the L2-normalized, 6dp-rounded linear
  * projection of the document's tf-idf vector — the fused in-plan form
  * of every fitted projection channel's embedding (LSA / SGNS serving,
  * `graft.operators.ProjectionEncoder`).
  *
  * This replaces the O(V·len) per-term `filter` HOF passes plus the
  * O(V·dim) interpreted zip_with/aggregate folds (the seam the round-9
  * survey documented as untenable past V ≈ 1k) with one hash-map count
  * pass O(len) and a SPARSE projection O(nnz·dim) — the arithmetic is
  * the EXACT encodeLocal fold (ascending vocab index, ((0+x₀p₀)+x₁p₁)+…
  * with exact-zero terms skipped, which is bit-identical because
  * adding ±0.0 to a running double sum never changes it here), so the
  * in-plan / driver 6dp bit-parity contract is preserved and
  * spec-asserted per channel.
  *
  * The fitted model ships as a TORRENT BROADCAST, not plan literals:
  * at the production V=65536 clamp the term-major projection is
  * ~32 MB, and a plan-literal form re-serializes that with the
  * expression tree ONCE PER STAGE on the driver and deserializes it
  * once per TASK (the V-sweep in SURVEY.md round 12, item 8 measured
  * ~0.25 s/task — thousands of wasted CPU-seconds per 100 TB scan
  * stage). The broadcast handle is bytes in the task binary; the model
  * transfers once per executor and is shared by every task and every
  * stage that serves the channel. Per-row work is V-independent either way. */
case class ProjectTfidf(child: Expression,
    model: Broadcast[ProjectTfidf.Model], dim: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(DoubleType)

  @transient private lazy val m: ProjectTfidf.Model = model.value
  @transient private lazy val index: java.util.HashMap[UTF8String, Integer] = {
    val h = new java.util.HashMap[UTF8String, Integer](m.vocab.length * 2)
    var i = 0
    while (i < m.vocab.length) {
      h.put(UTF8String.fromString(m.vocab(i)), i)
      i += 1
    }
    h
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val idfArr = m.idf
    val projArr = m.projByTerm
    val n = arr.numElements()
    // Present-term vocab indices, duplicates = term frequency. O(len)
    // space — never a V-sized buffer, so serving cost is V-independent.
    val hits = new Array[Int](math.max(n, 1))
    var nh = 0
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (t != null) {
        val idx = index.get(t)
        if (idx != null) { hits(nh) = idx.intValue; nh += 1 }
      }
      i += 1
    }
    // Ascending vocab index = the encodeLocal fold order (bit-parity).
    java.util.Arrays.sort(hits, 0, nh)
    val lat = new Array[Double](dim)
    i = 0
    while (i < nh) {
      val idx = hits(i)
      var c = 1
      while (i + 1 < nh && hits(i + 1) == idx) { c += 1; i += 1 }
      val x = c.toDouble * idfArr(idx)
      if (x != 0.0) {
        val row = projArr(idx)
        var d = 0
        while (d < dim) { lat(d) += x * row(d); d += 1 }
      }
      i += 1
    }
    var sq = 0.0
    var d = 0
    while (d < dim) { sq += lat(d) * lat(d); d += 1 }
    val nrm = math.max(math.sqrt(sq), 1e-12)
    d = 0
    while (d < dim) {
      lat(d) = BigDecimal(lat(d) / nrm)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      d += 1
    }
    new GenericArrayData(lat)
  }

  override protected def withNewChildInternal(c: Expression): ProjectTfidf =
    copy(child = c)
}

object ProjectTfidf {
  /** The fitted (vocab, idf, term-major projection) triple — primitive
    * arrays so the one-time broadcast transfer is compact. */
  final class Model(val vocab: Array[String], val idf: Array[Double],
      val projByTerm: Array[Array[Double]]) extends Serializable

  /** Broadcast a fitted model once per channel; `proj` rows are latent
    * dims (dim × V, the fit's natural shape), transposed here to
    * term-major for the sparse serving loop. */
  def broadcastModel(spark: org.apache.spark.sql.SparkSession,
      vocab: Array[String], idf: Array[Double],
      proj: Array[Array[Double]], dim: Int): Broadcast[Model] = {
    val byTerm = Array.tabulate(vocab.length)(i =>
      Array.tabulate(dim)(d => proj(d)(i)))
    spark.sparkContext.broadcast(new Model(vocab, idf, byTerm))
  }

  /** Serving column over an already-broadcast model. */
  def apply(tokens: Column, model: Broadcast[Model], dim: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(ProjectTfidf(
      org.apache.spark.sql.graft.ColumnBridge.expression(tokens), model, dim))

  /** One-shot convenience (probe/test use): broadcast + column. */
  def apply(tokens: Column, vocab: Array[String], idf: Array[Double],
      proj: Array[Array[Double]], dim: Int): Column =
    apply(tokens, broadcastModel(
      org.apache.spark.sql.SparkSession.active, vocab, idf, proj, dim), dim)
}
