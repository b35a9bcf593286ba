package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AnnIndex, KnnSearch}

/** Recall of the approximate indexes against the exact brute-force
  * top-k on the same query/corpus split (the correctness story for the
  * [rows-only] inventory entries). */
class AnnIndexSpec extends AnyFunSuite {
  import SparkTestSession._

  private def hitSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet

  lazy val exact = hitSet(KnnSearch.knn(spark, sf))

  test("ann_ivf recall@5 >= 0.9 vs brute force") {
    val ivf = hitSet(AnnIndex.ivf(spark, sf))
    val recall = (ivf & exact).size.toDouble / exact.size
    info(s"ivf recall@5 = $recall")
    // measured 0.92–0.98 (SURVEY.md round 2, item 2): MLlib KMeans' seeded
    // random init samples per-partition, so centroids — and recall —
    // vary slightly with core count; the bound holds across configs
    assert(recall >= 0.9)
  }

  test("ann_lsh recall@5 >= 0.9 vs brute force, neighbors from corpus") {
    val rows = AnnIndex.lsh(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("n_id") >= 10))
    val recall = (rows.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet & exact).size.toDouble / exact.size
    info(s"lsh recall@5 = $recall")
    assert(recall >= 0.9) // measured 0.94, fully deterministic (md5 planes)
  }

  test("ann_pq recall@5 >= 0.9 vs brute force") {
    val pq = hitSet(AnnIndex.pq(spark, sf))
    val recall = (pq & exact).size.toDouble / exact.size
    info(s"pq recall@5 = $recall")
    // grid-probed: 0.96 at sf0.001, 0.98 at sf0.01 (M=16, K=16, shortlist=100)
    assert(recall >= 0.9)
  }

  test("ann_imi recall@5 >= 0.9 vs brute force") {
    val imi = hitSet(AnnIndex.imi(spark, sf))
    val recall = (imi & exact).size.toDouble / exact.size
    info(s"imi recall@5 = $recall")
    // 64 product cells, 40 probed (~62% — the flat-IVF operating
    // fraction on this worst-case unclustered corpus); deterministic
    // (driver Lloyd from the hash-uniform sample, no MLlib RNG)
    assert(recall >= 0.9)
  }

  test("ann_imi routing: every vector's cell is its argmin half-space pair") {
    // exhaustive config == brute force is the oracle's hash check;
    // here pin the product-structure invariant instead: probing all
    // k1² cells yields exactly the brute top-5
    val exh = hitSet(AnnIndex.imi(spark, sf, AnnIndex.ImiK, AnnIndex.ImiK * AnnIndex.ImiK))
    assert(exh == exact)
  }

  test("ImiRoute multi-sequence traversal == enumerated pair ranking, cell for cell") {
    // the r17 routing rework (BENCH_imi_r17: enumeration costs more
    // than a flat scan at 64k cells) must probe EXACTLY the cells the
    // k1²-enumerating window picked — same metric, same (sum desc,
    // cell asc) tie-break — across every query and probe depth,
    // including depths past the cell count and a k1 with score ties
    import graft.functions.expressions.ImiRoute
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val k1 = 8; val halfDim = 32
    def mix(x0: Long): Iterator[Double] = new Iterator[Double] {
      var s = x0
      def hasNext = true
      def next(): Double = {
        s += 0x9e3779b97f4a7c15L
        var z = s
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        ((z ^ (z >>> 31)) >>> 11).toDouble / (1L << 53).toDouble - 0.5
      }
    }
    val it = mix(99L)
    val books = Array.fill(2)(Array.fill(k1)(Array.fill(halfDim)(it.next())))
    val qs = (0L until 20L).map { q =>
      val g = mix(q * 7 + 1)
      (q, Array.fill(2 * halfDim)(g.next()).toSeq)
    }.toDF("q_id", "qv")
    for (nProbe <- Seq(1, 7, 40, k1 * k1, k1 * k1 + 5)) {
      val fast = qs.select($"q_id", posexplode(
          ImiRoute($"qv", books, halfDim, nProbe)).as(Seq("rnk", "cell")))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
        .groupBy(_._1).map { case (q, rows) =>
          q -> rows.sortBy(_._2).map(_._3).toSeq }
      // the enumerated reference: all k1² pair sums, window-ranked
      val ref = qs.collect().map { r =>
        val qv = r.getAs[Seq[Double]]("qv").toArray
        def score(h: Int, i: Int): Double = {
          val c = books(h)(i)
          var acc = 0.0
          var d = 0
          while (d < halfDim) { acc += qv(h * halfDim + d) * c(d); d += 1 }
          acc - c.map(x => x * x).sum / 2
        }
        val pairs = for (i <- 0 until k1; j <- 0 until k1)
          yield (i * k1 + j, score(0, i) + score(1, j))
        r.getLong(0) -> pairs.sortBy { case (cell, s) => (-s, cell) }
          .take(math.min(nProbe, k1 * k1)).map(_._1)
      }.toMap
      fast.foreach { case (q, cells) =>
        assert(cells == ref(q), s"query $q nProbe=$nProbe")
      }
    }
  }

  test("ann_ivfpq (composed) recall@5 >= 0.9 vs brute force") {
    val ivfpq = hitSet(AnnIndex.ivfpq(spark, sf))
    val recall = (ivfpq & exact).size.toDouble / exact.size
    info(s"ivfpq recall@5 = $recall")
    // the composition's misses are (IVF probe misses) ∪ (ADC shortlist
    // misses): both components measure ≥ 0.94 alone on this worst-case
    // unclustered corpus, and the shortlist pass only sees probed-cell
    // candidates, so the composed recall stays above the same bar
    assert(recall >= 0.9)
  }
}
