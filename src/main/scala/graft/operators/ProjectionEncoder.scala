package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The shared serving half of every fitted LINEAR-PROJECTION text
  * channel: a document embeds as `normalize(projᵀ · tfidf(doc))`,
  * where the V×dim projection is whatever the fit produced — the LSA
  * eigenbasis ([[LsaEncoder]]) or SGNS word vectors ([[SgnsEncoder]]).
  * One definition of the in-plan (`encode`, Column HOFs) and
  * driver-local (`encodeLocal`) arithmetic, fold orders matched so the
  * two are bit-identical on the 6dp grid — the parity discipline every
  * registry channel carries (ChannelRegistrySpec asserts it per
  * channel). A real ONNX/neural encoder drops into the same two
  * ChannelDef functions; everything downstream (ingest, index
  * build/append, exact/ANN/PQ search, batch twins, delete,
  * maintenance) is channel-generic. */
private[operators] object ProjectionEncoder {

  /** Build the ChannelDef for a fitted (vocab, idf, proj) triple.
    * `proj` is dim rows × vocabSize columns (row d = the d-th latent
    * direction's loadings). */
  def channel(name: String, contentTypes: Seq[String],
      vocab: Array[String], idf: Array[Double],
      proj: Array[Array[Double]], dim: Int): GraftVectorDB.ChannelDef = {
    val vocabSize = vocab.length
    val vIdx = vocab.zipWithIndex.toMap
    // the fused native expression ([[graft.functions.expressions
    // .ProjectTfidf]]): one O(len) count pass + a sparse O(nnz·dim)
    // projection — the round-9 "per-term filter passes" seam closed;
    // arithmetic is the exact encodeLocal fold, so 6dp bit-parity is
    // preserved (spec-asserted per channel). The model broadcasts
    // ONCE here and every encode column reuses the handle — at the
    // V=65536 clamp the plan-literal form cost ~0.25 s of model
    // deserialization per task (V-sweep, SURVEY.md round 12, item 8)
    val bc = graft.functions.expressions.ProjectTfidf.broadcastModel(
      org.apache.spark.sql.SparkSession.active, vocab, idf, proj, dim)
    def encode(c: Column): Column =
      graft.functions.expressions.ProjectTfidf(
        graft.functions.TextFunctions.tokens(c), bc, dim)
    def encodeLocal(s: String): Array[Double] = {
      val raw = tfidfLocal(s, vocab, vIdx, idf)
      val lat = new Array[Double](dim)
      var d = 0
      while (d < dim) {
        // the EXACT fold order of the Column aggregate: ((0 + x₀p₀) +
        // x₁p₁) + … — bit-identity depends on it
        var acc = 0.0
        var i = 0
        while (i < vocabSize) { acc += raw(i) * proj(d)(i); i += 1 }
        lat(d) = acc
        d += 1
      }
      var sq = 0.0
      d = 0
      while (d < dim) { sq += lat(d) * lat(d); d += 1 }
      val nrm = math.max(math.sqrt(sq), 1e-12)
      d = 0
      while (d < dim) {
        lat(d) = BigDecimal(lat(d) / nrm)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        d += 1
      }
      lat
    }
    GraftVectorDB.ChannelDef(name, contentTypes, encode, encodeLocal, dim)
  }

  /** The driver twin of the Column tf-idf vector — tokenization is
    * THE shared [[VectorStore.tokensLocal]] (one definition of the
    * SQL trim/split semantics, not a third hand-maintained copy). */
  def tfidfLocal(s: String, vocab: Array[String],
      vIdx: Map[String, Int], idf: Array[Double]): Array[Double] = {
    val raw = new Array[Double](vocab.length)
    VectorStore.tokensLocal(s).foreach { t =>
      vIdx.get(t).foreach(i => raw(i) += 1.0)
    }
    var i = 0
    while (i < vocab.length) { raw(i) *= idf(i); i += 1 }
    raw
  }
}
