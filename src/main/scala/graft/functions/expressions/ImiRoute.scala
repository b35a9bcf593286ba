package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** IMI query routing via the multi-sequence traversal (Babenko &
  * Lempitsky, CVPR 2012 §3.2): the nProbe best product cells —
  * ranked by s₀[i]+s₁[j] = <q,(c₁|c₂)> − |(c₁|c₂)|²/2, the exact
  * probeCells L2 metric — WITHOUT materializing all k₁² pair sums.
  *
  * Why it exists (BENCH_imi_r17.json): full pair
  * enumeration materializes `cells` scalar sums per query, so
  * enumerated IMI routing measured MORE expensive than a flat
  * broadcast scan at 64k cells (8.4 vs 1.7 s/100 queries) even
  * though its distance evaluations are 2·√cells half-dim instead of
  * `cells` full-dim. The traversal restores the √ win to the query
  * side: O(2·k₁·dim/2) score evaluations + an O(nProbe·log) frontier
  * heap walk, never k₁² of anything.
  *
  * Exactness contract (pinned in AnnIndexSpec against the enumerated
  * window formulation): pairs pop in non-increasing sum order (the
  * frontier property — sum(a+1,b) ≤ sum(a,b) once each half's scores
  * are sorted descending), the walk keeps popping while the boundary
  * sum ties, and the collected candidates re-sort by (sum DESC,
  * cell id ASC) before truncation — the window's
  * `orderBy(cdist.desc, cell)` tie-break exactly. Output cells are
  * emitted in that order.
  *
  * Per-row cost is query-side (a search batch, not the corpus), so
  * interpreted eval (CodegenFallback) is free in practice; the
  * corpus-side assignment path stays [[PqEncode]] (codegen'd). */
case class ImiRoute(child: Expression,
    books: Array[Array[Array[Double]]], half: Int, nProbe: Int)
    extends UnaryExpression with CodegenFallback {

  require(books.length == 2, "IMI routes over exactly two half-space books")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  private lazy val chalf: Array[Array[Double]] =
    books.map(_.map(c => c.map(x => x * x).sum / 2))

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = v.numElements()
    val k1 = books(0).length
    // half-space scores, the probeCells metric per concatenated pair
    val s = Array.ofDim[Double](2, k1)
    var h = 0
    while (h < 2) {
      val base = h * half
      val lim = math.min(half, math.max(0, n - base))
      var k = 0
      while (k < k1) {
        val c = books(h)(k)
        var acc = 0.0
        var d = 0
        while (d < lim) { acc += v.getDouble(base + d) * c(d); d += 1 }
        s(h)(k) = acc - chalf(h)(k)
        k += 1
      }
      h += 1
    }
    // per-half index order: score desc, then original index asc (the
    // secondary key only breaks exact double ties deterministically)
    def order(sc: Array[Double]): Array[Int] =
      Array.range(0, k1).sortBy(i => (-sc(i), i))
    val o0 = order(s(0))
    val o1 = order(s(1))
    // frontier walk over the (a, b) grid: (a, b) enters when a parent
    // pops, so pops are non-increasing in sum
    case class Cand(sum: Double, cell: Int, a: Int, b: Int)
    val heap = new java.util.PriorityQueue[Cand](16,
      (x: Cand, y: Cand) =>
        if (x.sum != y.sum) java.lang.Double.compare(y.sum, x.sum)
        else Integer.compare(x.cell, y.cell))
    val seen = new java.util.BitSet(k1 * k1)
    def push(a: Int, b: Int): Unit =
      if (a < k1 && b < k1 && !seen.get(a * k1 + b)) {
        seen.set(a * k1 + b)
        heap.add(Cand(s(0)(o0(a)) + s(1)(o1(b)), o0(a) * k1 + o1(b), a, b))
      }
    push(0, 0)
    val want = math.min(nProbe, k1 * k1)
    val out = new java.util.ArrayList[Cand](want + 8)
    var boundary = Double.NaN
    while (!heap.isEmpty &&
        (out.size < want || heap.peek().sum >= boundary)) {
      val c = heap.poll()
      out.add(c)
      if (out.size == want) boundary = c.sum
      push(c.a + 1, c.b)
      push(c.a, c.b + 1)
    }
    // ties at the boundary re-rank globally by (sum desc, cell asc) —
    // the enumerated window's exact order — then truncate
    val arr = out.toArray(new Array[Cand](out.size))
    java.util.Arrays.sort(arr, (x: Cand, y: Cand) =>
      if (x.sum != y.sum) java.lang.Double.compare(y.sum, x.sum)
      else Integer.compare(x.cell, y.cell))
    new GenericArrayData(arr.take(want).map(_.cell))
  }

  override protected def withNewChildInternal(newChild: Expression): ImiRoute =
    copy(child = newChild)
}

object ImiRoute {
  def apply(qv: Column, books: Array[Array[Array[Double]]], half: Int,
      nProbe: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(ImiRoute(
      org.apache.spark.sql.graft.ColumnBridge.expression(qv), books, half, nProbe))
}
