package graftbench

/** Reference computations in plain driver arrays, used only to check the
  * engine's outputs. Vertices are dense ids 0 until n; an edge is packed as
  * `src << 32 | dst`. */
object Ref {
  def pack(s: Long, d: Long): Long = (s << 32) | d
  def srcOf(e: Long): Int = (e >>> 32).toInt
  def dstOf(e: Long): Int = e.toInt

  /** Sorted, distinct packed edges. */
  def normalize(edges: Array[Long]): Array[Long] = {
    val a = edges.clone()
    java.util.Arrays.sort(a)
    var w = 0
    var i = 0
    while (i < a.length) { if (i == 0 || a(i) != a(i - 1)) { a(w) = a(i); w += 1 }; i += 1 }
    java.util.Arrays.copyOf(a, w)
  }

  /** Out-adjacency offsets of sorted packed edges. */
  private def offsets(n: Int, e: Array[Long]): Array[Int] = {
    val off = new Array[Int](n + 1)
    e.foreach(x => off(srcOf(x) + 1) += 1)
    var v = 0
    while (v < n) { off(v + 1) += off(v); v += 1 }
    off
  }

  /** Jacobi PageRank from 1/n: stop at L∞ < tol, or after `steps` sweeps
    * when tol = 0 (the engine's fixed-step mode). Edges must be sorted and
    * distinct, with a self-loop on every vertex. */
  def pagerank(n: Int, e: Array[Long], tol: Double = 1e-10, steps: Int = 500,
      damping: Double = 0.85): Array[Double] = {
    val off = offsets(n, e)
    var r = Array.fill(n)(1.0 / n)
    val c0 = (1 - damping) / n
    var it = 0
    var resid = Double.MaxValue
    while (it < steps && (tol <= 0 || resid >= tol)) {
      val acc = new Array[Double](n)
      var u = 0
      while (u < n) {
        val w = r(u) / (off(u + 1) - off(u))
        var k = off(u)
        while (k < off(u + 1)) { acc(dstOf(e(k))) += w; k += 1 }
        u += 1
      }
      resid = 0.0
      var v = 0
      while (v < n) {
        val nr = c0 + damping * acc(v)
        resid = math.max(resid, math.abs(nr - r(v)))
        acc(v) = nr
        v += 1
      }
      r = acc
      it += 1
    }
    r
  }

  /** Undirected view: edges plus reversals, sorted and distinct. */
  def symmetrize(e: Array[Long]): Array[Long] =
    normalize(e ++ e.map(x => pack(dstOf(x), srcOf(x))))

  /** Component label = smallest vertex id in the component (union-find). */
  def components(n: Int, sym: Array[Long]): Array[Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    sym.foreach { x =>
      val a = find(srcOf(x)); val b = find(dstOf(x))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    Array.tabulate(n)(v => find(v).toLong)
  }

  /** Synchronous label propagation: every round each vertex takes the most
    * frequent label among its neighbours (self-loops count), smallest label
    * on ties; stops after `rounds` or when no label changed. */
  def labelPropagation(n: Int, sym: Array[Long], rounds: Int): Array[Long] = {
    val off = offsets(n, sym)
    var labels = Array.tabulate(n)(_.toLong)
    var r = 0
    var changed = true
    val buf = new Array[Long](sym.length)
    while (r < rounds && changed) {
      val next = new Array[Long](n)
      var v = 0
      while (v < n) {
        val deg = off(v + 1) - off(v)
        if (deg == 0) next(v) = labels(v)
        else {
          var k = 0
          while (k < deg) { buf(k) = labels(dstOf(sym(off(v) + k))); k += 1 }
          java.util.Arrays.sort(buf, 0, deg)
          var best = buf(0); var bestN = 0
          var i = 0
          while (i < deg) {
            var j = i
            while (j < deg && buf(j) == buf(i)) j += 1
            if (j - i > bestN) { bestN = j - i; best = buf(i) }
            i = j
          }
          next(v) = best
        }
        v += 1
      }
      changed = !java.util.Arrays.equals(next, labels)
      labels = next
      r += 1
    }
    labels
  }

  /** Triangles of the undirected simple graph, self-loops ignored. */
  def triangles(n: Int, sym: Array[Long]): Long = {
    val up = sym.filter(x => srcOf(x) < dstOf(x))
    val off = offsets(n, up)
    val mark = new Array[Int](n)
    java.util.Arrays.fill(mark, -1)
    var count = 0L
    var a = 0
    while (a < n) {
      var k = off(a)
      while (k < off(a + 1)) { mark(dstOf(up(k))) = a; k += 1 }
      k = off(a)
      while (k < off(a + 1)) {
        val b = dstOf(up(k))
        var q = off(b)
        while (q < off(b + 1)) { if (mark(dstOf(up(q))) == a) count += 1; q += 1 }
        k += 1
      }
      a += 1
    }
    count
  }

  /** Jaccard similarity of lowercased character 5-gram sets — the shingles
    * `Dedup.minhash` hashes (a text shorter than 5 is one shingle). */
  def jaccard5(a: String, b: String): Double = {
    def grams(s0: String): Set[String] = {
      val s = s0.toLowerCase(java.util.Locale.ROOT)
      if (s.length <= 5) Set(s) else (0 to s.length - 5).map(i => s.substring(i, i + 5)).toSet
    }
    val ga = grams(a); val gb = grams(b)
    val common = ga.count(gb.contains)
    common.toDouble / (ga.size + gb.size - common)
  }

  /** Largest absolute difference; +∞ when the lengths differ. */
  def maxDiff(a: Array[Double], b: Array[Double]): Double =
    if (a.length != b.length) Double.PositiveInfinity
    else a.indices.foldLeft(0.0)((m, i) => math.max(m, math.abs(a(i) - b(i))))
}
