package graft.model

/** Core data model for the graft link-graph engine.
  *
  * Mirrors the abstractions of the reference (puzzlef/pagerank-openmp-dynamic)
  * re-expressed as Spark Dataset row types — see SURVEY.md §1.4:
  *  - `DiGraph<K,V,E>`  (reference /root/reference/inc/Graph.hxx:17-372) → `Dataset[Edge]`
  *  - rank vector `vector<V>` (inc/pagerank.hxx:343)                    → `Dataset[Rank]`
  *  - `PagerankOptions` defaults (inc/pagerank.hxx:24-55, main.cxx:62-64).
  */

/** One directed edge. The reference keys vertices as uint32; we use Long ids
  * assigned by a deterministic dense dictionary (UrlDictionary). */
final case class Edge(src: Long, dst: Long)

/** A staged edge with a deterministic global sequence number — replays the
  * reference's temporal-prefix protocol (/root/reference/inc/snap.hxx:41-58:
  * base graph = first 90% of lines, batches = next fraction·|E| lines). */
final case class StagedEdge(src: Long, dst: Long, seq: Long)

/** Per-vertex PageRank value (reference: vector<double> over span). */
final case class Rank(id: Long, rank: Double)

/** Per-vertex out-degree (the divisor in the PR kernel; the reference
  * pre-annotates it on the transposed graph, inc/transpose.hxx:79-100). */
final case class Degree(id: Long, outDeg: Long)

/** A Common-Crawl-style web page row (BASELINE.json input_hint). */
final case class Page(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** PageRank options — defaults exactly as the reference driver:
  *  damping 0.85, maxIterations 500 (/root/reference/inc/pagerank.hxx:52),
  *  tolerance 1e-10 (L∞ stop, main.cxx:62, inc/pagerank.hxx:364),
  *  frontierTolerance / pruneTolerance 1e-6 (main.cxx:63-64).
  *
  * `useL1Residual`: the north rule's text says "1e-10 L1 residual"; the
  * reference's in-loop check is L∞ (L1 is only the reported error metric) —
  * both are available for the static sweeps, defaulting to the reference's
  * L∞ (SURVEY.md §2.5); the dynamic variants always stop on L∞.
  */
final case class PagerankOptions(
    damping: Double = 0.85,
    tolerance: Double = 1e-10,
    frontierTolerance: Double = 1e-6,
    pruneTolerance: Double = 1e-6,
    maxIterations: Int = 500,
    useL1Residual: Boolean = false,
    checkpointEvery: Int = 10,
    checkpointDir: Option[String] = None,
    /** In-degree above which a dst is treated as a hub and its contribution
      * aggregation is salted two-phase (None = auto: max(1M, |E|/parts/4)).
      * Set low only in tests to force the salted plan at toy scale. */
    hubThreshold: Option[Long] = None)

/** Result of one PageRank run — mirrors the reference's PagerankResult
  * (/root/reference/inc/pagerank.hxx:64-113): converged ranks, iteration
  * count, and phase timings (init / mark / compute, in ms).
  *
  * `stepTimesMs` is the per-superstep wall-time trace (empty where an
  * engine doesn't record it). Throughput protocols derive edges/sec from
  * per-superstep statistics rather than total time: on shared/virtualized
  * hosts a single multi-second whole-box stall (hypervisor steal, GC
  * freeze) inside a 6-superstep window otherwise poisons the entire
  * measurement, and the steady-state superstep rate — not the stall — is
  * what transfers to a cluster. Bench ships BOTH the MIN-superstep rate
  * (tightest uninterfered-rate bound; interference is strictly additive)
  * and the MEDIAN-superstep rate (robust to the min's asymmetric stall
  * exposure across core counts), and the headline scaling efficiency is
  * the more conservative of the two. Static engines fill it.
  *
  * `supersteps` holds one [[Superstep]] record per iteration of a frontier
  * run ([[graft.pagerank.CsrDynamic]]: every dynamic variant, the carried
  * batch paths and the streaming front end), so `supersteps.size ==
  * iterations` there; static engines leave it empty. */
final case class PagerankStats(
    iterations: Int,
    initTimeMs: Double,
    markTimeMs: Double,
    computeTimeMs: Double,
    finalResidual: Double,
    stepTimesMs: Seq[Double] = Nil,
    supersteps: Seq[Superstep] = Nil)

/** What one frontier superstep measured; its iteration is its index in
  * [[PagerankStats.supersteps]].
  *  - `residual`: max |Δrank| over the swept vertices
  *  - `flagged`: vertices still flagged after the sweep (marks in flight
  *    to the next round not counted), `flaggedEdges` their out-edges
  *  - `kernelCritMs`: the slowest task's in-kernel time — the part of the
  *    superstep's wall that is sweep work on the critical path. Supersteps
  *    fused into one job share that job's wall, so there is no per-step
  *    wall: divide `computeTimeMs` by the record count. */
final case class Superstep(residual: Double, flagged: Long,
    flaggedEdges: Long, kernelCritMs: Double)

/** The four dynamic PageRank variants of the reference's pagerankInvoke
  * (reference inc/pagerank.hxx:482-729, inc/pagerankPrune.hxx). Each
  * seeds its frontier from the batch's DF marking (out-neighbours in x of
  * deletion sources, in y of insertion sources, pagerank.hxx:631-637):
  *  - ND: every vertex, fixed frontier (warm full sweep)
  *  - DT: the marking's closure in y, fixed frontier
  *  - DF: the marking, grown by every vertex whose relΔ > frontierTolerance
  *  - DFP: DF with closed-form self-loop removal and a frontier that drops
  *    vertices at rest (relΔ ≤ pruneTolerance) */
sealed trait DynamicVariant {
  /** The frontier never grows during iteration. */
  def fixedFrontier: Boolean = this == DynamicVariant.ND || this == DynamicVariant.DT
  def prune: Boolean = this == DynamicVariant.DFP
}
object DynamicVariant {
  case object ND extends DynamicVariant
  case object DT extends DynamicVariant
  case object DF extends DynamicVariant
  case object DFP extends DynamicVariant
  val all: Seq[DynamicVariant] = Seq(ND, DT, DF, DFP)
}
