package graftbench

import org.apache.spark.sql.SparkSession

/** Seeded input generators. graft receives only what these produce;
  * the same seed always yields the same corpus, query stream, write
  * batches and stream batches.
  *
  * The distributions are those measured on graft's sf0.1 test tables
  * (see NOTES.md); only the row counts are smaller. Documents are
  * 10-100 words (uniform) drawn uniformly from the same 30-word
  * vocabulary, 41% `en` and the rest split over `zh`/`es`/`fr`/`de`,
  * 20 source folders (`doc_id % 20`), 5% near-duplicates (an earlier
  * text plus " dup") and 0.2% exact duplicates. Embeddings are 64-dim
  * unit vectors with 10 labels. Lineitem has quantity 1-50, discount
  * 0-0.10, tax 0-0.08, the six returnflag/linestatus pairs evenly, about
  * four lines per order and ship dates from 1995-01-02 over seven years. */
object Gen {
  val Vocab: Vector[String] = Vector("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)
  final case class Line(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String,
      l_linestatus: String, l_shipdate: java.sql.Timestamp)

  private def words(r: scala.util.Random, n: Int): String =
    Iterator.fill(n)(Vocab(r.nextInt(Vocab.size))).mkString(" ")

  private def lang(r: scala.util.Random): String = {
    val u = r.nextDouble()
    if (u < 0.41) "en" else if (u < 0.5575) "zh" else if (u < 0.705) "es"
    else if (u < 0.8525) "fr" else "de"
  }

  def source(docId: Long, sources: Int): String = s"src${docId % sources}"

  /** `n` documents with ids `0 until n`: 5% near-dups of an earlier doc,
    * 0.2% exact dups. */
  def documents(seed: Long, n: Int, sources: Int): Vector[Doc] = {
    val r = new scala.util.Random(seed * 7919L + 17L)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val u = r.nextDouble()
      val t =
        if (i > 0 && u < 0.05) texts(r.nextInt(i)) + " dup"
        else if (i > 0 && u < 0.052) texts(r.nextInt(i))
        else words(r, 10 + r.nextInt(91))
      texts(i) = t
      Doc(i.toLong, t, lang(r), source(i.toLong, sources), t.length.toLong)
    }.toVector
  }

  def embeddings(seed: Long, n: Int): Vector[Emb] = {
    val r = new scala.util.Random(seed * 104729L + 3L)
    (0 until n).map { i =>
      val v = Array.fill(64)(r.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      Emb(i.toLong, v.map(x => (x / nrm).toFloat), r.nextInt(10))
    }.toVector
  }

  def lineitem(seed: Long, n: Int): Vector[Line] = {
    val r = new scala.util.Random(seed * 15485863L + 5L)
    val t0 = java.sql.Timestamp.valueOf("1995-01-02 00:00:00").getTime
    val span = 7L * 365 * 86400000L
    (0 until n).map { i =>
      val qty = (1 + r.nextInt(50)).toDouble
      Line(i / 4L, r.nextInt(2000).toLong, r.nextInt(100).toLong, 1 + i % 7,
        qty, math.round(qty * (900 + r.nextInt(1200)) * 100) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        Seq("R", "A", "N")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)),
        new java.sql.Timestamp(t0 + (r.nextDouble() * span).toLong / 86400000L * 86400000L))
    }.toVector
  }

  /** Write the three tables the curate queries read as `dir/<table>.parquet`,
    * one thread each (the first jobs of a session are mostly start-up). */
  def writeCorpus(spark: SparkSession, dir: String, seed: Long,
      docs: Int, embs: Int, lines: Int, sources: Int): Unit = {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = Seq(
      Future(documents(seed, docs, sources).toDF().coalesce(1).write.parquet(s"$dir/documents.parquet")),
      Future(embeddings(seed, embs).toDF().coalesce(1).write.parquet(s"$dir/embeddings.parquet")),
      Future(lineitem(seed, lines).toDF().coalesce(1).write.parquet(s"$dir/lineitem.parquet")))
    writes.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
  }

  /** One read request: an HTTP `/search` (scope optional) or a library
    * `searchHybrid` call. */
  final case class Req(hybrid: Boolean, text: String, scope: Option[String])

  /** Query pool of `pool` 3-6-word queries; requests draw pool ranks
    * Zipf-skewed (exponent 1), so popular queries repeat. */
  final class Queries(seed: Long, client: Int, pool: Int, sources: Int,
      hybridShare: Double) {
    private val poolRng = new scala.util.Random(seed * 31L + 1L)
    val texts: Vector[String] = Vector.fill(pool)(words(poolRng, 3 + poolRng.nextInt(4)))
    private val cdf = {
      val w = (1 to pool).map(k => 1.0 / k)
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toVector
    }
    private val r = new scala.util.Random(seed * 1000003L + client)
    def next(): Req = {
      val u = r.nextDouble()
      val rank = cdf.indexWhere(_ >= u) match { case -1 => pool - 1; case k => k }
      val hybrid = r.nextDouble() < hybridShare
      val scoped = !hybrid && r.nextBoolean()
      Req(hybrid, texts(rank),
        if (scoped) Some(s"corpus/src${r.nextInt(sources)}/") else None)
    }
  }

  /** Write batch `b`: one planted doc whose text no other doc shares
    * (the freshness probe), then `size - 1` docs of which every eighth is
    * an exact re-send of a stored doc. Returns the batch and the planted
    * doc. */
  def writeBatch(seed: Long, b: Int, size: Int, stored: Vector[Doc],
      sources: Int): (Vector[Doc], Doc) = {
    val r = new scala.util.Random(seed * 2654435761L + b)
    val planted = plantedDoc(seed, 20000000L + b, sources, s"w$b")
    val rest = (1 until size).map { i =>
      if (i % 8 == 7) stored(r.nextInt(stored.size))
      else {
        val id = 10000000L + b.toLong * size + i
        val t = words(r, 10 + r.nextInt(91))
        Doc(id, t, lang(r), source(id, sources), t.length.toLong)
      }
    }
    (planted +: rest.toVector, planted)
  }

  /** A short doc (one chunk) whose marker tokens appear nowhere else. */
  def plantedDoc(seed: Long, id: Long, sources: Int, tag: String): Doc = {
    val t = s"plant${seed}x$tag alpha${tag}q omega${tag}z ${Vocab(id.toInt % Vocab.size)} marker$tag"
    Doc(id, t, "en", source(id, sources), t.length.toLong)
  }

  /** Stream micro-batch `b`: the base corpus recycled with fresh ids
    * and 15% per-word vocabulary substitution; each doc is, with
    * probability `repeatShare`, an exact repeat of a doc the stream
    * already carried. `seen` accumulates every emitted text. */
  def streamBatch(seed: Long, b: Int, size: Int, base: Vector[Doc],
      repeatShare: Double, seen: scala.collection.mutable.ArrayBuffer[String]): Vector[Doc] = {
    val r = new scala.util.Random(seed * 6700417L + b)
    (0 until size).map { i =>
      val id = 100000000L + b.toLong * size + i
      val from = base((b * size + i) % base.size)
      val t =
        if (seen.nonEmpty && r.nextDouble() < repeatShare) seen(r.nextInt(seen.size))
        else from.text.split(" ")
          .map(w => if (r.nextDouble() < 0.15) Vocab(r.nextInt(Vocab.size)) else w)
          .mkString(" ")
      seen += t
      Doc(id, t, from.lang, from.source, t.length.toLong)
    }.toVector
  }
}
