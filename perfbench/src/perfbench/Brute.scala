package perfbench

/** Harness-side brute force over generated points — the reference the
  * engine's outputs are checked against. Cosine is computed with the
  * engine's exact arithmetic (three index-order accumulators, then
  * dot / (sqrt(xx) * sqrt(yy))), so exact kinds must agree bit for bit
  * once rounded. */
final class Brute(vecs: Array[Array[Double]]) {
  private val xx: Array[Double] = vecs.map { v =>
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    s
  }

  def scores(q: Array[Double]): Array[Double] = {
    var yy = 0.0; var i = 0
    while (i < q.length) { yy += q(i) * q(i); i += 1 }
    val out = new Array[Double](vecs.length)
    var p = 0
    while (p < vecs.length) {
      val v = vecs(p)
      var dot = 0.0; var j = 0
      while (j < v.length) { dot += v(j) * q(j); j += 1 }
      out(p) = dot / (math.sqrt(xx(p)) * math.sqrt(yy))
      p += 1
    }
    out
  }
}

object Brute {
  /** Spark's round(x, 6) on a double (HALF_UP over the decimal string). */
  def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  def micro(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong

  /** The first `k` of `idx` under `before` (a strict "ranks ahead of"),
    * in rank order. */
  def top(idx: Iterator[Int], k: Int)(before: (Int, Int) => Boolean)
      : Seq[Int] = {
    // max-heap on rank: the head is the worst kept element
    val heap = new java.util.PriorityQueue[Int](k + 1,
      (a: Int, b: Int) => if (before(a, b)) 1 else if (before(b, a)) -1 else 0)
    idx.foreach { i =>
      if (heap.size < k) heap.add(i)
      else if (before(i, heap.peek())) { heap.poll(); heap.add(i) }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (!heap.isEmpty) out += heap.poll()
    out.reverse.toSeq
  }
}
