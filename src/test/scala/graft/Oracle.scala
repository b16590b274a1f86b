package graft

import scala.collection.mutable

import graft.model.{DynamicVariant, PagerankOptions}
import graft.model.DynamicVariant._

/** Test-only in-memory oracles — direct transliteration of the reference
  * kernels (FIXTURES.md §4), executable on graphs up to ~10^4 edges.
  *
  * PageRank: pagerankUpdateRank + sync pagerankInvoke semantics
  * (/root/reference/inc/pagerank.hxx:131-141, 335-373): pull-based Jacobi
  * sweep, C0=(1−P)/N, L∞ stop. Run at tolerance 1e-100 / 500 iters for
  * golden ranks (mirrors the reference's oracle runs, main.cxx:68,85).
  */
object Oracle {

  /** Dedupe + in/out adjacency. Edges must already include self-loops. */
  final class G(edgesRaw: Seq[(Long, Long)]) {
    val edges: Set[(Long, Long)] = edgesRaw.toSet
    val verts: Seq[Long] =
      edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val outDeg: Map[Long, Int] =
      edges.groupBy(_._1).map { case (u, es) => u -> es.size }
    val inNbrs: Map[Long, Seq[Long]] =
      edges.groupBy(_._2).map { case (v, es) => v -> es.map(_._1).toSeq }
    val outNbrs: Map[Long, Seq[Long]] =
      edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSeq }
  }

  def pagerank(g: G, init: Option[Map[Long, Double]] = None,
      damping: Double = 0.85, tol: Double = 1e-10,
      maxIter: Int = 500): Map[Long, Double] = {
    val n = g.verts.size
    val c0 = (1 - damping) / n
    var r: Map[Long, Double] = init match {
      case None => g.verts.map(_ -> 1.0 / n).toMap
      case Some(q) => g.verts.map(v => v -> q.getOrElse(v, 0.0)).toMap
    }
    var it = 0
    var el = Double.MaxValue
    while (it < maxIter && el >= tol) {
      val a = g.verts.map { v =>
        val s = g.inNbrs.getOrElse(v, Nil).map(u => r(u) / g.outDeg(u)).sum
        v -> (c0 + damping * s)
      }.toMap
      el = g.verts.map(v => math.abs(a(v) - r(v))).max
      r = a
      it += 1
    }
    r
  }

  /** Sequential Jacobi reference for the dynamic variants, with the
    * semantics of the reference's pagerankInvoke
    * (/root/reference/inc/pagerank.hxx:335-373, inc/pagerankPrune.hxx):
    *  - ranks start from `prev` (0.0 for vertices absent from it);
    *  - seeds = out-neighbours in x of deletion sources ∪ out-neighbours in
    *    y of insertion sources (the DF marking, pagerank.hxx:631-637);
    *  - ND sweeps every vertex, DT the BFS closure of the seeds in y; both
    *    frontiers stay fixed;
    *  - DF grows the frontier by the out-neighbours (in y) of every swept
    *    vertex whose relΔ exceeds frontierTolerance;
    *  - DF-P uses the closed-form self-loop removal, keeps a swept vertex
    *    only while relΔ > pruneTolerance, and expands past the self edge;
    *  - stop when L∞(a − r) < tolerance or the frontier is empty.
    * `x` and `y` must carry a self-loop on every vertex.
    * @return (ranks over y's vertices, supersteps run) */
  def dynamic(x: Seq[(Long, Long)], y: Seq[(Long, Long)],
      prev: Map[Long, Double], ins: Seq[(Long, Long)],
      del: Seq[(Long, Long)], variant: DynamicVariant,
      opts: PagerankOptions = PagerankOptions()): (Map[Long, Double], Int) = {
    val gx = new G(x)
    val gy = new G(y)
    val p = opts.damping
    val c0 = (1 - p) / gy.verts.size
    def outY(u: Long): Seq[Long] = gy.outNbrs.getOrElse(u, Nil)
    val seeds = del.map(_._1).distinct.flatMap(gx.outNbrs.getOrElse(_, Nil)) ++
      ins.map(_._1).distinct.flatMap(outY)
    var frontier: Set[Long] = variant match {
      case ND => gy.verts.toSet
      case DT =>
        var seen = seeds.toSet
        var hop = seen
        while (hop.nonEmpty) {
          hop = hop.flatMap(outY) -- seen
          seen ++= hop
        }
        seen
      case DF | DFP => seeds.toSet
    }
    var r = gy.verts.map(v => v -> prev.getOrElse(v, 0.0)).toMap
    var iter = 0
    var residual = Double.MaxValue
    while (iter < opts.maxIterations && residual >= opts.tolerance &&
        frontier.nonEmpty) {
      val a = frontier.iterator.map { v =>
        val s = gy.inNbrs(v).map(u => r(u) / gy.outDeg(u)).sum
        val d = gy.outDeg(v).toDouble
        v -> (if (variant == DFP) (c0 + p * (s - r(v) / d)) / (1 - p / d)
          else c0 + p * s)
      }.toMap
      def relDelta(v: Long): Double = {
        val d = math.abs(a(v) - r(v))
        if (d == 0.0) 0.0 else d / math.max(a(v), r(v))
      }
      residual = a.keys.map(v => math.abs(a(v) - r(v))).max
      val changed = a.keys.filter(relDelta(_) > opts.frontierTolerance)
      frontier = variant match {
        case ND | DT => frontier
        case DF => frontier ++ changed.flatMap(outY)
        case DFP => a.keys.filter(relDelta(_) > opts.pruneTolerance).toSet ++
          changed.flatMap(u => outY(u).filter(_ != u))
      }
      r = r ++ a
      iter += 1
    }
    (r, iter)
  }

  def connectedComponents(g: G): Map[Long, Long] = {
    val parent = mutable.Map[Long, Long](g.verts.map(v => v -> v): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    g.edges.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    g.verts.map(v => v -> find(v)).toMap
  }

  /** Sync LP, mode label with smallest-label tie-break (SURVEY.md §2.9). */
  def labelPropagation(g: G, rounds: Int): Map[Long, Long] =
    labelPropagationRounds(g, rounds)._1

  /** [[labelPropagation]] plus the rounds it ran: it stops after the first
    * round that changes no label. */
  def labelPropagationRounds(g: G, rounds: Int): (Map[Long, Long], Int) = {
    var labels: Map[Long, Long] = g.verts.map(v => v -> v).toMap
    var r = 0
    var changed = true
    while (r < rounds && changed) {
      val next = g.verts.map { v =>
        val nbrs = g.outNbrs.getOrElse(v, Nil) // symmetric graph: out == all
        if (nbrs.isEmpty) v -> labels(v)
        else {
          val freq = nbrs.groupBy(labels).map { case (l, xs) => (l, xs.size) }
          val best = freq.toSeq.minBy { case (l, c) => (-c, l) }._1
          v -> best
        }
      }.toMap
      changed = next != labels
      labels = next
      r += 1
    }
    (labels, r)
  }

  /** Brute-force triangle count on the symmetrized graph w/o self-loops. */
  def triangles(g: G): Long = {
    val adj = g.outNbrs.map { case (u, vs) => u -> vs.filter(_ != u).toSet }
    val vs = g.verts
    var n = 0L
    for {
      a <- vs
      b <- adj.getOrElse(a, Set.empty) if b > a
      c <- adj.getOrElse(b, Set.empty) if c > b
      if adj.getOrElse(a, Set.empty).contains(c)
    } n += 1
    n
  }

  def allclose(a: Map[Long, Double], b: Map[Long, Double],
      atol: Double = 1e-6): Boolean =
    a.keySet == b.keySet && a.forall { case (k, v) => math.abs(v - b(k)) <= atol }

  def maxDiff(a: Map[Long, Double], b: Map[Long, Double]): Double =
    a.keys.map(k => math.abs(a(k) - b.getOrElse(k, Double.NaN))).max
}
