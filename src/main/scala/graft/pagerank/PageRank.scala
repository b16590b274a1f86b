package graft.pagerank

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.EdgeOps
import graft.util.Ckpt._
import graft.model.{DynamicVariant, PagerankOptions, PagerankStats}

/** Result of one PageRank run: converged per-vertex ranks + phase stats —
  * mirrors the reference's PagerankResult (/root/reference/inc/pagerank.hxx:64-113). */
final case class PagerankRun(ranks: DataFrame, stats: PagerankStats)

/** Prebuilt degree-annotated link state of the static DataFrame superstep
  * — the engine's analog of the reference's cached degree-annotated
  * transpose xt/yt (/root/reference/main.cxx:83,104-105). Built once with
  * [[PageRank.buildLinks]] and passed into [[PageRank.static]] so repeated
  * static runs over one graph never pay the O(|E|) shuffle+aggregate
  * rebuild.
  *
  * `links` columns: src, dst, outDeg (+ salt when `hubs` present); cached
  * src-hash-partitioned. `hubs` is the broadcastable (dst, saltMod) skew map
  * — a performance hint, never a correctness input.
  */
final case class LinkState(links: DataFrame, degs: DataFrame, n: Long,
    nEdges: Long, hubs: Option[DataFrame])

/** The five PageRank variants of the reference: static as BSP Dataset
  * supersteps, the four dynamic variants on the [[CsrDynamic]] engine.
  *
  * Numeric contract (SURVEY.md §2.5): damping P=0.85, teleport C0=(1−P)/N,
  * stop when L∞(a−r) < tolerance=1e-10, maxIterations=500
  * (/root/reference/inc/pagerank.hxx:52,364, main.cxx:62). The kernel is the
  * pull-based update a[v] = C0 + P·Σ_{u∈in(v)} r[u]/outdeg(u)
  * (/root/reference/inc/pagerank.hxx:131-141). The reference's degree-annotated
  * transpose is never materialized: grouping contributions by `dst` IS the
  * transpose (one equi-join + partial/final hash aggregation per superstep).
  *
  * Deviation (documented, SURVEY.md §7.4 R1): the reference driver runs the
  * ASYNC (in-place Gauss–Seidel-ish) variants, which are thread-schedule-
  * dependent; we run the reference's own synchronous (Jacobi) semantics —
  * both converge to the same fixed point, and acceptance is allclose 1e-6 at
  * tol 1e-10. Unaffected vertices copy r→a (as the reference's prune kernel
  * does explicitly, /root/reference/inc/pagerankPrune.hxx:60).
  *
  * Scale shape per static superstep: the big edge table is cached
  * hash-partitioned by `src` and never moves; only the O(|V|) rank vector is
  * exchanged (join on src), and raw contributions are exchanged by dst
  * BEFORE aggregating (clustered keys → flat per-task hash maps). Hub
  * in-degree skew is absorbed by the salted two-phase aggregation planned at
  * [[buildLinks]] (no reduce key ever receives more than ~a quarter-partition
  * of rows — the AQE-off PR session has no skew-join splitting to fall back
  * on). [[CsrPageRank.static]] is the partition-local CSR form of the same
  * sweep. The dynamic variants freeze x (plus y's self-loops) into CSR
  * blocks, splice the raw batch into them with [[CsrDynamic.applyBatch]]
  * and run the O(frontier) push loop from the variant's seeding of the
  * splice's marks — one engine and one entry, as the reference runs every
  * variant through one pagerankInvoke (reference inc/pagerank.hxx:335-373).
  * The batch may be raw: the splice deletes, then inserts, and skips
  * duplicate rows, present insertions and absent deletions.
  *
  * All graphs passed in must already carry self-loops on every vertex
  * ([[EdgeOps.withSelfLoops]]) — the reference driver's invariant that
  * removes dangling mass (/root/reference/main.cxx:127-128).
  */
class PageRank(spark: SparkSession, opts: PagerankOptions = PagerankOptions()) {

  private val P = opts.damping

  // ---------------------------------------------------------------- variants

  /** V1 — pagerankStatic (/root/reference/inc/pagerank.hxx:441-467):
    * all vertices affected, cold init 1/N, as DataFrame supersteps (see
    * the class doc). `state` reuses a prebuilt [[LinkState]] of `yEdges`.
    *
    * With opts.checkpointDir set, the rank vector is written through
    * [[Checkpointer]] every `checkpointEvery` supersteps plus always on the
    * final one, so `Checkpointer.latest` resumes from at most
    * checkpointEvery-1 steps back and the converged state is always
    * durable. */
  def static(yEdges: DataFrame, state: Option[LinkState] = None): PagerankRun = {
    val t0 = System.nanoTime()
    val parts = spark.sparkContext.defaultParallelism
    val st = state.getOrElse(buildLinks(yEdges))
    val links = st.links
    val n = st.n
    // Empty graph → empty result (reference: `if (xt.empty) return {}`,
    // /root/reference/inc/pagerank.hxx:444).
    if (n == 0) {
      return PagerankRun(st.degs.select(col("id"), lit(0.0).as("rank")),
        PagerankStats(0, 0, 0, 0, 0.0))
    }
    val c0 = (1 - P) / n

    // Every per-iteration vector is localCheckpoint(eager)-ed: iterative
    // plans reference their predecessor more than once, so without eager
    // lineage truncation the logical plan doubles per superstep
    // (SURVEY.md §7.4 R5).
    var ranks = st.degs.select(col("id"), lit(1.0 / n).as("rank"))
      .repartition(parts, col("id")).ckpt()
    val t1 = System.nanoTime()

    var iter = 0
    var residual = Double.MaxValue
    val stepTimes = scala.collection.mutable.ArrayBuffer[Double]()

    while (iter < opts.maxIterations && residual >= opts.tolerance) {
      val stepT0 = System.nanoTime()
      // Aggregate AFTER an explicit repartition by dst: links are clustered
      // by src, so dst keys are ~random per map task — a pre-shuffle partial
      // aggregation would build a near-|V|-sized hash map per task (combine
      // ratio ≈ 1) and sit at the spill boundary. Shuffling the raw
      // contributions first costs ~25% more shuffle bytes but the partial+
      // final aggregation pair then runs post-exchange on clustered keys
      // (per-task map = |V|/parts entries), flat in memory.
      // With hub dsts present, the exchange key is (dst, salt) and a second
      // O(|V| + hubs·saltMod)-row aggregation folds the salted partials —
      // no reduce key ever receives more than ~hubThreshold rows.
      val rawContribs = links
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
      val contribs =
        if (st.hubs.isEmpty)
          rawContribs
            .select(col("dst").as("id"), (col("rank") / col("outDeg")).as("rc"))
            .repartition(parts, col("id"))
            .groupBy(col("id"))
            .agg(sum(col("rc")).as("c"))
        else
          rawContribs
            .select(col("dst").as("id"), col("salt"),
              (col("rank") / col("outDeg")).as("rc"))
            .repartition(parts, col("id"), col("salt"))
            .groupBy(col("id"), col("salt"))
            .agg(sum(col("rc")).as("rc"))
            .groupBy(col("id"))
            .agg(sum(col("rc")).as("c"))

      // This localCheckpoint is the ONE expensive materialization job of the
      // superstep; it also truncates lineage, which would otherwise double
      // per superstep.
      val newRanks = contribs
        .select(col("id"), (lit(c0) + lit(P) * col("c")).as("rank")).ckpt()

      // Residual over the full vectors — two checkpointed RDDs, cheap O(|V|)
      // job (L∞ default, like the reference's liNormDelta; L1 behind the
      // flag). Throughput-measurement mode (tolerance <= 0): the stop rule
      // can never fire, so the residual job is skipped entirely and the
      // superstep is exactly one materialization job.
      if (opts.tolerance <= 0) {
        residual = Double.MaxValue
      } else {
        val normCol =
          if (opts.useL1Residual) sum(abs(col("rank") - col("prev")))
          else max(abs(col("rank") - col("prev")))
        val row = newRanks
          .join(ranks.withColumnRenamed("rank", "prev"), Seq("id"))
          .agg(normCol.as("res")).collect()(0)
        residual = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
      }

      iter += 1
      val willStop = iter >= opts.maxIterations || residual < opts.tolerance
      opts.checkpointDir.foreach { dir =>
        if (willStop || iter % opts.checkpointEvery == 0)
          Checkpointer.save(dir, iter, newRanks, residual)
      }

      // Swap buffers (reference's swap(a, r), pagerank.hxx:366); old
      // checkpoint RDDs are reclaimed by the ContextCleaner once
      // unreferenced (spark.cleaner.referenceTracking.cleanCheckpoints).
      ranks = newRanks
      stepTimes += (System.nanoTime() - stepT0) / 1e6
    }

    val t3 = System.nanoTime()
    PagerankRun(ranks, PagerankStats(iter, (t1 - t0) / 1e6, 0.0,
      (t3 - t1) / 1e6, residual, stepTimes.toSeq))
  }

  /** V2 — pagerankNaiveDynamic (/root/reference/inc/pagerank.hxx:482-509):
    * all vertices affected, warm init from previous ranks. New vertices
    * start at 0.0, NOT 1/N (/root/reference/inc/pagerank.hxx:287-295 copies
    * q[v], which is 0 for previously-absent ids — SURVEY.md §7.4 R3). Runs
    * as ND over y with an empty batch. */
  def naiveDynamic(yEdges: DataFrame, prevRanks: DataFrame): PagerankRun =
    dynamic(DynamicVariant.ND, yEdges, yEdges, yEdges.limit(0), yEdges.limit(0),
      prevRanks)

  /** V3 — pagerankDynamicTraversal (/root/reference/inc/pagerank.hxx:525-615):
    * affected = the closure in y of the DF marking; frontier fixed across
    * supersteps. The closure is out-edge-closed, so every push lands inside
    * the affected set. */
  def dynamicTraversal(xEdges: DataFrame, yEdges: DataFrame,
      insertions: DataFrame, deletions: DataFrame,
      prevRanks: DataFrame): PagerankRun =
    dynamic(DynamicVariant.DT, xEdges, yEdges, insertions, deletions, prevRanks)

  /** V4 — pagerankDynamicFrontier (/root/reference/inc/pagerank.hxx:631-729):
    * initial marking = out-neighbors (in x) of each deleted edge's source and
    * out-neighbors (in y) of each inserted edge's source; after each
    * superstep, any vertex whose relative change exceeds frontierTolerance
    * marks its out-neighbors in y. Frontier grows monotonically (the driver's
    * ASYNCF=true semantics, /root/reference/main.cxx:96). */
  def dynamicFrontier(xEdges: DataFrame, yEdges: DataFrame,
      insertions: DataFrame, deletions: DataFrame,
      prevRanks: DataFrame): PagerankRun =
    dynamic(DynamicVariant.DF, xEdges, yEdges, insertions, deletions, prevRanks)

  /** V5 — pagerankPruneDynamicFrontier (/root/reference/inc/pagerankPrune.hxx:301-329):
    * DF marking + closed-form self-loop removal
    * a[v] = (C0 + P·(av − rv/d)) / (1 − P/d)  (pagerankPrune.hxx:29-41),
    * and the frontier can SHRINK: a swept vertex stays marked only while its
    * relative change exceeds pruneTolerance (pagerankPrune.hxx:62-67);
    * expansion skips the self edge.
    * Note the reference's OMP prune driver divides C0 by span, not order
    * (pagerankPrune.hxx:261) — with our dense 0-based ids span==order, so
    * C0=(1−P)/N is exact (SURVEY.md §7.4 R2). */
  def dynamicFrontierPrune(xEdges: DataFrame, yEdges: DataFrame,
      insertions: DataFrame, deletions: DataFrame,
      prevRanks: DataFrame): PagerankRun =
    dynamic(DynamicVariant.DFP, xEdges, yEdges, insertions, deletions, prevRanks)

  /** Dynamic `variant` on the batch x → y from `prevRanks`: the one-shot
    * form of the [[CsrDynamic]] engine. It freezes x plus y's self-loops (a
    * vertex only y has joins with rank 0.0), aligns the warm ranks (+ exact
    * S) and splices the raw batch in — the same [[CsrDynamic.applyBatch]]
    * a carried batch loop runs. ND freezes y and splices an empty batch. */
  def dynamic(variant: DynamicVariant, xEdges: DataFrame, yEdges: DataFrame,
      insertions: DataFrame, deletions: DataFrame,
      prevRanks: DataFrame): PagerankRun = {
    val none = yEdges.select("src", "dst").limit(0)
    val (frozen, ins, del) =
      if (variant == DynamicVariant.ND) (yEdges, none, none)
      else (EdgeOps.withSelfLoops(xEdges, yEdges.where(col("src") === col("dst"))
        .select(col("src").as("id"))), insertions, deletions)
    val g = new CsrPageRank(spark, opts).build(frozen)
    val dyn = new CsrDynamic(spark, opts)
    val st = dyn.stateFromRanks(g, prevRanks)
    val (_, run, _) = dyn.applyBatch(g, st, ins, del, variant)
    // the run's ranks read only the spliced, checkpointed generation
    st.unpersist(false)
    g.blocks.unpersist(false)
    run
  }

  // ------------------------------------------------------------- link state

  /** Build the degree-annotated link state: materialized ONCE
    * (localCheckpoint), hash-partitioned by src; this is the only |E|-sized
    * structure and it never moves again. Checkpointing (vs plain persist)
    * also cuts the upstream ingest DAG out of every superstep's plan.
    *
    * Hub in-degree skew (SURVEY.md §4, §7.4 R4): a web-scale dst can have
    * 10⁸-10⁹ in-edges; aggregating contributions by dst alone would funnel
    * all of them through one reduce key → one straggler task per superstep
    * (the reference absorbs this with schedule(dynamic,2048),
    * /root/reference/inc/pagerank.hxx:202). Hub dsts are detected ONCE here,
    * their rows annotated with salt = pmod(xxhash64(src), saltMod), and the
    * superstep aggregates two-phase: (dst, salt) partial → dst final. A dst
    * is a hub when its in-degree exceeds ~¼ of a partition's edge share (so
    * the hub set is ≤ 4·parts keys — always broadcastable); saltMod spreads
    * its rows over up to `parts` reduce keys. Graphs with no hubs keep the
    * one-phase plan — zero overhead.
    */
  def buildLinks(yEdges: DataFrame): LinkState = {
    val parts = spark.sparkContext.defaultParallelism
    var links = EdgeOps.linksWithDeg(yEdges)
      .repartition(parts, col("src"))
      .ckpt()
    val nEdges = links.count()
    val hubThreshold = opts.hubThreshold.getOrElse(
      math.max(1000000L, nEdges / parts / 4))
    // No dst's in-degree can exceed |E|: when nEdges ≤ hubThreshold the hub
    // set is empty BY CONSTRUCTION — skip the detection aggregation+ckpt
    // job outright (it cost one full job per buildLinks on small graphs; at
    // scale nEdges ≫ 1e6 and the detection runs exactly as before).
    val hubsOpt =
      if (nEdges <= hubThreshold) None
      else {
        val hubs = links.groupBy(col("dst"))
          .agg(count(lit(1)).as("inDeg"))
          .where(col("inDeg") > hubThreshold)
          .select(col("dst"),
            least(lit(parts.toLong), ceil(col("inDeg") / hubThreshold).cast("long"))
              .as("saltMod"))
          .ckpt()
        if (hubs.count() > 0) Some(hubs) else None
      }
    hubsOpt.foreach { h =>
      links = links.join(broadcast(h), Seq("dst"), "left")
        .select(col("src"), col("dst"), col("outDeg"),
          pmod(xxhash64(col("src")), coalesce(col("saltMod"), lit(1L)))
            .as("salt"))
        .repartition(parts, col("src"))
        .ckpt()
    }
    // With self-loops, every vertex is a src: degrees table == vertex set.
    val degs = links.select(col("src").as("id"), col("outDeg")).distinct()
      .ckpt()
    LinkState(links, degs, degs.count(), nEdges, hubsOpt)
  }
}
