package graft.pagerank

import org.apache.spark.{Aggregator, HashPartitioner, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.model.{PagerankOptions, PagerankStats, Superstep}
import CsrPageRank.{contributionSums, pack, CsrBlock, CsrGraph, IdxPartitioner,
  Msg, PartitionAcc, PushAcc, SparsePush}
import CsrDynamic._

/** Dynamic Frontier / DF-P PageRank over partition-local CSR blocks — the
  * north rule's "dynamic/incremental PageRank over partition-local CSR
  * blocks" realized as push-based delta propagation (the CSR analog of the
  * reference's frontier kernels, /root/reference/inc/pagerank.hxx:679-729,
  * inc/pagerankPrune.hxx:183-281).
  *
  * Loop state per partition, aligned to the CSR block's sorted vertex array:
  *   rank : Array[Double]   current rank vector block
  *   s    : Array[Double]   EXACT incoming-contribution sums
  *                          S(v) = Σ_{u→v} rank(u)·invDeg(u)
  *   flag : Array[Boolean]  affected (frontier) membership
  *
  * Because S is maintained incrementally, a superstep touches ONLY the
  * frontier: sweep each flagged v (a = C0 + P·S, or the DF-P closed form),
  * push Δrank·invDeg to its out-neighbors through the static sweep's kernel,
  * [[CsrPageRank.PushAcc]]`.pushRow`, as packed sparse arrays (keeping
  * every S exact), and mark receivers whose sender's relative change
  * exceeded frontierTolerance (DF expansion, pagerank.hxx:688-692; DF-P
  * additionally unflags swept vertices at rest and skips the self edge,
  * pagerankPrune.hxx:62-67). One shuffle per superstep and one job per
  * fused BLOCK of up to [[CsrDynamic.fuseMax]] (8) supersteps, fewer
  * when a block's cached supersteps could outgrow a quarter of the
  * storage memory ([[runLoop]]'s block fusion), with
  * work O(Σ outdeg(changed)) instead of O(|E|) — this is what makes a
  * 1e-4·|E| batch converge in milliseconds-per-superstep at web scale.
  * Every run returns what it measured in its own stats: one
  * [[graft.model.Superstep]] per superstep (residual, flagged vertices and
  * their out-edges, critical-path kernel time), gathered from the
  * superstep's per-partition accumulator. The engine keeps no
  * process-global counters, so concurrent runs never mix their figures.
  *
  * A batch is applied by SPLICING the CSR blocks in place of a rebuild
  * ([[applyBatch]]): batch edges are routed to their src partitions with
  * dst pre-resolved to (part, idx); each touched src's adjacency segment is
  * rewritten (array copy, no shuffle of untouched edges — the reference's
  * amortized lazy adjacency merge, /root/reference/inc/_bitset.hxx:227-262),
  * while the SAME pass pushes S-correction deltas (old-degree terms
  * retracted, new-degree terms added) and the DF initial marking
  * (out-neighbors in x of deletion srcs, in y of insertion srcs,
  * pagerank.hxx:631-637) into a sparse [[CsrPageRank.PushAcc]], whose
  * messages are the first round's traffic. The splice, its edge count and
  * the initial mark count share one Spark job, so a one-edge batch of ~10
  * supersteps is four jobs: that one, two fused loop blocks and the
  * terminal S fold (an empty batch is two).
  *
  * This is the one engine of [[PageRank]]'s dynamic variants (ND, DT, DF,
  * DF-P) and of the streaming front end; CsrDynamicSpec asserts allclose
  * vs the sequential Jacobi reference (test `Oracle.dynamic`) and the
  * converged in-memory oracle.
  * Semantics requirement: the vertex universe is FIXED (every batch endpoint
  * already has its self-loop in the base graph) — the same eager-universe
  * contract the reference's temporal loader establishes
  * (/root/reference/inc/snap.hxx:133).
  */
class CsrDynamic(spark: SparkSession, opts: PagerankOptions = PagerankOptions(),
    /** Same dense-vs-sparse push-buffer threshold as [[CsrPageRank]]: while
      * |V|·8B fits, pushes accumulate into a zeroed thread-local dense
      * buffer addressed by global (part, idx) offset — primitive arrays,
      * no hashing, no boxing (a boxed HashMap here made a dynamic superstep
      * cost 2-3× a STATIC superstep, erasing the frontier win); beyond it,
      * a packed-key open-address primitive map bounded by the frontier's
      * out-edges (the 10¹²-vertex regime). Under the threshold a superstep
      * task still picks the sparse map when its frontier is small (see
      * [[runLoop]]). */
    maxDenseBytes: Long = 128L * 1024 * 1024) {

  private val ip = (parts: Int) => new IdxPartitioner(parts)

  /** Static run that also returns the carried dynamic state (ranks + S) —
    * the batch loop's base-graph step. */
  def staticWithState(g: CsrGraph): (PagerankRun, RDD[CsrState]) = {
    val run = new CsrPageRank(spark, opts).staticOnGraph(g)
    (run, stateFromRanks(g, run.ranks))
  }

  /** Align a (id, rank) DataFrame to the graph's partition-local blocks and
    * derive the carried dynamic state (rank, exact S, clear flags). Vertices
    * of `g` absent from `prevRanks` warm-start at 0.0 — the reference's
    * pagerankInitializeRanksFrom copies q[v], which is 0 for previously-
    * absent ids (/root/reference/inc/pagerank.hxx:287-295, SURVEY.md §7.4
    * R3). This is the entry point of [[PageRank]]'s dynamic variants into
    * this engine. */
  def stateFromRanks(g: CsrGraph, prevRanks: org.apache.spark.sql.DataFrame)
      : RDD[CsrState] = {
    val parts = g.vCounts.length
    val ranks: RDD[Array[Double]] = prevRanks.select("id", "rank").rdd
      .map(r => (r.getLong(0), r.getDouble(1)))
      .partitionBy(new HashPartitioner(parts))
      .zipPartitions(g.blocks, preservesPartitioning = true) { (rIt, bIt) =>
        val b = bIt.next()
        val arr = new Array[Double](b.srcs.length)
        rIt.foreach { case (id, rk) =>
          val i = java.util.Arrays.binarySearch(b.srcs, id)
          if (i >= 0) arr(i) = rk
        }
        Iterator.single(arr)
      }
    ranks.persist(StorageLevel.MEMORY_AND_DISK).count()
    // exact S for the given ranks — one full sweep job, once per base graph
    // (batches thereafter keep S exact incrementally)
    val state = contributionSums(g, ranks, spark.sparkContext.broadcast(g.vCounts),
      dense = g.n * 8L <= maxDenseBytes) { (s, r) =>
      CsrState(r, s, new Array[Boolean](r.length))
    }
    state.persist(StorageLevel.MEMORY_AND_DISK)
    // pre-materialization truncation (see applyBatchImpl): carried state
    // must not retain the full static-run superstep chain behind prevRanks
    state.localCheckpoint()
    state.count()
    ranks.unpersist(false)
    state
  }

  /** Resolve a seed-id DataFrame to packed per-partition mark messages —
    * the DF initial marking (fm) delivered as the first round's traffic. */
  private def marksFromIds(blocks: RDD[CsrBlock],
      ids: org.apache.spark.sql.DataFrame): RDD[(Int, Msg)] = {
    val parts = blocks.getNumPartitions
    ids.select("id").rdd.map(r => (r.getLong(0), ()))
      .partitionBy(new HashPartitioner(parts))
      .zipPartitions(blocks, preservesPartitioning = false) { (iIt, bIt) =>
        val b = bIt.next()
        val p = TaskContext.getPartitionId()
        val buf = new scala.collection.mutable.ArrayBuilder.ofInt
        iIt.foreach { case (id, _) =>
          val i = java.util.Arrays.binarySearch(b.srcs, id)
          if (i < 0) throw new CsrDynamic.UniverseGrowthRequired(
            s"seed vertex $id outside the frozen vertex universe — rebuild " +
              "the CSR graph over the grown edge set (see scaladoc)")
          buf += i
        }
        val arr = buf.result()
        if (arr.isEmpty) Iterator.empty
        else Iterator.single(
          (p, (Array.empty[Int], Array.empty[Double], arr): Msg))
      }
  }

  /** One dynamic run over an already-updated graph: warm state + explicit
    * seed marking (the one-shot form of [[applyBatch]], used by
    * [[PageRank]]'s dynamic variants where the batch is already merged into
    * `g` by the caller). Flags start CLEARED — the reference allocates a
    * fresh affected vector per invocation (inc/pagerank.hxx:683).
    * `fixedFrontier` = Dynamic Traversal semantics (V3,
    * inc/pagerank.hxx:577-615): the affected set is the seed marking
    * (caller passes the BFS closure) and never grows during iteration. */
  def runFromSeeds(g: CsrGraph, state: RDD[CsrState],
      seeds: org.apache.spark.sql.DataFrame, prune: Boolean,
      fixedFrontier: Boolean = false)
      : (PagerankRun, RDD[CsrState]) = {
    val t0 = System.nanoTime()
    val parts = g.vCounts.length
    val marks = marksFromIds(g.blocks, seeds).partitionBy(ip(parts))
    val cur0 = state.zipPartitions(marks, preservesPartitioning = true) {
      (stIt, mIt) =>
        val st0 = stIt.next()
        // fresh frontier per invocation; rank/S arrays are shared (the
        // superstep's copy-on-write clone protects the cached originals)
        val st = CsrState(st0.rank, st0.s, new Array[Boolean](st0.rank.length))
        Iterator.single((st, mIt.toArray))
    }
    cur0.persist(StorageLevel.MEMORY_AND_DISK)
    val marks0 = cur0.mapPartitions(c => Iterator.single(markCount(c))).fold(0L)(_ + _)
    runLoop(g, cur0, marks0, prune, t0, System.nanoTime(), fixedFrontier)
  }

  /** Splice a tidied batch into the CSR graph and run DF / DF-P from the
    * carried state. Returns (updated graph, run result, carried state for
    * the next batch).
    *
    * `insertions` must be tidy (not already present, endpoints in the
    * universe); `deletions` must exist. Use EdgeOps.tidy* upstream.
    */
  /** Stream-safety invariant: the returned graph blocks and carried state
    * are lineage-truncated (local-checkpointed) at their materializing job,
    * so an indefinite batch loop retains NO per-superstep shuffle lineage
    * from past batches — carried structures are always O(1) deep. */
  def applyBatch(g: CsrGraph, state: RDD[CsrState],
      insertions: DataFrame, deletions: DataFrame,
      prune: Boolean): (CsrGraph, PagerankRun, RDD[CsrState]) =
    applyBatchImpl(g, state, insertions, deletions, prune,
      seeds = None, fixedFrontier = false)

  /** Carried-state splice with an EXPLICIT affected set instead of the DF
    * marking: the batch is spliced exactly as [[applyBatch]] (S corrections
    * kept), but the splice's own marks are discarded and `seeds` become the
    * frontier. With `fixedFrontier = true` this is the carried form of
    *  - Dynamic Traversal (seeds = the BFS closure of the batch in y,
    *    /root/reference/inc/pagerank.hxx:577-615), and
    *  - Naive-dynamic (seeds = ALL vertices ⇒ warm full Jacobi sweep,
    *    pagerank.hxx:482-509) —
    * so a reference-protocol batch loop can advance EVERY technique by
    * splice, never re-freezing (/root/reference/main.cxx:87-103 keeps one
    * evolving graph). */
  def applyBatchSeeded(g: CsrGraph, state: RDD[CsrState],
      insertions: DataFrame, deletions: DataFrame, seeds: DataFrame,
      prune: Boolean, fixedFrontier: Boolean = true)
      : (CsrGraph, PagerankRun, RDD[CsrState]) =
    applyBatchImpl(g, state, insertions, deletions, prune,
      seeds = Some(seeds), fixedFrontier = fixedFrontier)

  private def applyBatchImpl(g: CsrGraph, state: RDD[CsrState],
      insertions: DataFrame, deletions: DataFrame, prune: Boolean,
      seeds: Option[DataFrame], fixedFrontier: Boolean)
      : (CsrGraph, PagerankRun, RDD[CsrState]) = {
    val t0 = System.nanoTime()
    val sc = spark.sparkContext
    val parts = g.vCounts.length
    val hp = new HashPartitioner(parts)

    // Route batch edges to the DST partition to resolve (part, idx), then to
    // the SRC partition for the splice. Both shuffles are O(|batch|).
    def edgeRdd(df: DataFrame, isDel: Boolean): RDD[(Long, (Long, Boolean))] =
      df.select("src", "dst").rdd.map(r => (r.getLong(1), (r.getLong(0), isDel)))
    val routed = edgeRdd(insertions, isDel = false)
      .union(edgeRdd(deletions, isDel = true))
      .partitionBy(hp)
      .zipPartitions(g.blocks, preservesPartitioning = false) { (eIt, bIt) =>
        val b = bIt.next()
        val p = TaskContext.getPartitionId()
        eIt.map { case (dst, (src, isDel)) =>
          val di = java.util.Arrays.binarySearch(b.srcs, dst)
          if (di < 0) throw new UniverseGrowthRequired(
            s"batch dst $dst outside the frozen vertex universe — grow: add " +
              "self-loops for novel vertices and re-freeze (see " +
              "UniverseGrowthRequired scaladoc)")
          (homePart(src, parts), (src, isDel, p, di))
        }
      }
      .partitionBy(ip(parts))

    // Splice blocks; emit S-corrections + DF initial marking as messages.
    // Nothing runs here: the splice is materialized by the one job below
    // that also counts the initial marks, and the spliced edge total rides
    // that job as a retry-idempotent per-partition accumulator.
    val vc = sc.broadcast(g.vCounts)
    val nEdgesAcc = new PartitionAcc[Long]
    sc.register(nEdgesAcc)
    val spliced = routed.zipPartitions(g.blocks, state,
      preservesPartitioning = true) { (eIt, bIt, stIt) =>
      val b = bIt.next()
      val st = stIt.next()
      val out = spliceBlock(b, st, eIt, vc.value.length)
      nEdgesAcc.add((TaskContext.getPartitionId(), out._1.offsets.last.toLong))
      Iterator.single(out)
    }.persist(StorageLevel.MEMORY_AND_DISK)

    val newBlocks = spliced.map(_._1)
    newBlocks.persist(StorageLevel.MEMORY_AND_DISK)
    // Truncate lineage AT the materializing job below. This must happen
    // BEFORE the first job ever touches newBlocks: RDD.doCheckpoint() is
    // guarded by a one-shot private flag set on first materialization, so a
    // later `rdd.localCheckpoint().count()` on an already-materialized RDD
    // is silently a NO-OP — the idiom this replaced. Without truncation a
    // carried structure keeps every superstep's ShuffleDependency of the
    // batch that built it strongly reachable, the ContextCleaner can never
    // unregister those shuffles, and a long stream accumulates map-output
    // registrations + on-disk shuffle files without bound (measured: +14
    // permanently-live deps per batch, 76k tmpfs files and per-superstep
    // driver overhead growing 74→450 ms across 45 endurance batches).
    newBlocks.localCheckpoint()

    // Loop state: (state with patches NOT yet applied, patch messages as the
    // first round's incoming traffic). The input g.blocks/state stay
    // persisted — the CALLER owns them (it may advance several technique
    // tracks from the same snapshot, reference main.cxx:87-99).
    val cur: RDD[(CsrState, Array[(Int, Msg)])] = seeds match {
      case None => spliced.map { case (_, st, patches) => (st, patches) }
      case Some(sd) =>
        // explicit-frontier mode: keep the splice's S corrections, drop its
        // DF marking, deliver the seed marking instead (targets stay home:
        // a (p, msg) emitted AT partition p routes back to p)
        val seedMarks = marksFromIds(newBlocks, sd).partitionBy(ip(parts))
        spliced.map { case (_, st, patches) =>
          (st, patches.map { case (q, m) =>
            (q, (m._1, m._2, Array.empty[Int]): Msg)
          })
        }.zipPartitions(seedMarks, preservesPartitioning = true) {
          (cIt, mIt) =>
            val (st, pat) = cIt.next()
            Iterator.single((st, pat ++ mIt.toArray))
        }
    }
    // ONE job splices and materializes BOTH long-lived caches (blocks +
    // loop state): each zipped partition pulls its newBlocks and cur
    // partitions out of the spliced cache, so nothing is computed twice.
    cur.persist(StorageLevel.MEMORY_AND_DISK)
    // same pre-materialization truncation as newBlocks above: releases the
    // splice's two batch shuffles (and seed marking) once this job runs
    cur.localCheckpoint()
    val marks0 = newBlocks.zipPartitions(cur, preservesPartitioning = true) {
      (bIt, cIt) => bIt.foreach(_ => ()); Iterator.single(markCount(cIt))
    }.fold(0L)(_ + _)
    spliced.unpersist(false)
    val newG = CsrGraph(newBlocks, g.vCounts, g.n, nEdgesAcc.value.values.sum)
    val (run, finalState) =
      runLoop(newG, cur, marks0, prune, t0, System.nanoTime(), fixedFrontier)
    (newG, run, finalState)
  }

  /** The superstep loop: ONE job per fused BLOCK of 1..fuseMax supersteps
    * (see the block-fusion comment inside). `cur0` pairs each
    * partition's state (flags CLEARED — fresh frontier per invocation,
    * matching the reference's per-call affected vector,
    * /root/reference/inc/pagerank.hxx:683) with the first round's outgoing
    * messages (S corrections + initial DF marking), which carry `marks0`
    * marks. With no marks the frontier is empty from the start: the loop
    * runs no superstep, and the terminal fold applies the S corrections. */
  private def runLoop(g: CsrGraph,
      cur0: RDD[(CsrState, Array[(Int, Msg)])], marks0: Long, prune: Boolean,
      t0: Long, t1: Long, fixedFrontier: Boolean = false)
      : (PagerankRun, RDD[CsrState]) = {
    val sc = spark.sparkContext
    val parts = g.vCounts.length
    val vc = sc.broadcast(g.vCounts)
    var cur = cur0
    val c0 = (1 - opts.damping) / g.n
    val damp = opts.damping
    val fTol = opts.frontierTolerance
    val pTol = opts.pruneTolerance
    val denseOk = g.n * 8L <= maxDenseBytes
    val nGlob = g.n // primitive capture — never close over `g` (holds RDDs)
    val fixedF = fixedFrontier
    var iter = 0
    var active = marks0
    var residual = if (active > 0) Double.MaxValue else 0.0

    /** Define ONE superstep lazily — no action here. The accumulator is
      * registered UNNAMED: named accumulators pin an entry in the context
      * registry per registration — one per superstep across a long-lived
      * streaming session is a slow leak; unnamed ones are weak-ref'd and
      * reclaimed with the superstep's closure. The five per-superstep
      * scalars ride ONE packed vector accumulator: each task result then
      * carries a single accumulator update instead of five, and the driver
      * merges once — per-partition OVERWRITE-idempotent, which also makes
      * the kernel safe to run inside a ShuffleMapStage (block fusion
      * below), where Spark may re-count updates on stage retry. */
    def defineStep(prev: RDD[(CsrState, Array[(Int, Msg)])])
        : (RDD[(CsrState, Array[(Int, Msg)])], PartitionAcc[Array[Double]]) = {
      val statAcc = new PartitionAcc[Array[Double]]
      sc.register(statAcc)
      val msgs = msgShuffle(prev.flatMap(_._2.iterator), ip(parts))
      val nxt = prev.zipPartitions(msgs, g.blocks,
        preservesPartitioning = false) { (stIt, mIt, bIt) =>
        val tTask0 = System.nanoTime()
        val st0 = stIt.next()._1
        val b = bIt.next()
        val p = TaskContext.getPartitionId()
        // Drain the (few, packed) incoming message batches first so the
        // clone decisions below can see what this task will actually touch.
        val msgsArr = mIt.toArray
        var hasDelta = false
        var hasMarks = false
        var mi = 0
        while (mi < msgsArr.length) {
          val m = msgsArr(mi)._2
          if (m._1.length > 0) hasDelta = true
          if (m._3.length > 0) hasMarks = true
          mi += 1
        }
        // frontier out-edge bound from the carried flags; marked targets
        // add their spans as the marks are applied below
        var fe0 = 0L
        var ii = 0
        while (ii < st0.flag.length) {
          if (st0.flag(ii)) fe0 += b.offsets(ii + 1) - b.offsets(ii)
          ii += 1
        }
        if (!hasDelta && !hasMarks && fe0 == 0L) {
          // FAST PATH (r6): nothing to apply, nothing to sweep — pass the
          // cached state through UNCLONED. Safe because every mutating path
          // clones before writing (copy-on-write), so a shared array is
          // never written through any generation. On small-frontier
          // supersteps most partitions take this path, skipping three
          // O(|V_p|) array clones + the push buffer's O(|V_p|) zero/scan
          // per task — a dominant share of the in-stage per-task constant
          // the r5 stage decomposition measured (VERDICT r5 "Next" #1).
          // INVARIANT: fe0 == 0 means "no flagged vertex" only because every
          // CSR vertex has at least one out-edge (its self-loop): build()
          // makes every vertex a src, and spliceBlock's require refuses a
          // batch that would delete a vertex's last edge. A flagged vertex
          // with no out-edges would add 0 to fe0 and skip its rank update.
          statAcc.add((p, Array(0.0, 0.0, 0.0, 0.0,
            (System.nanoTime() - tTask0).toDouble)))
          Iterator.single((st0, Array.empty[(Int, Msg)]))
        } else {
        // copy-on-write, selective (r6): the incoming state objects live in
        // the previous RDD's cache — mutating them in place would corrupt
        // the cached partition if this task were retried after a partial
        // sweep. But only what THIS task mutates needs the clone: s is
        // written only when deltas arrived; rank/flag only when a sweep
        // runs (existing flags or incoming marks).
        val sweeps = hasMarks || fe0 > 0L
        val st = CsrState(
          if (sweeps) st0.rank.clone() else st0.rank,
          if (hasDelta) st0.s.clone() else st0.s,
          if (sweeps) st0.flag.clone() else st0.flag)
        // (1) apply incoming deltas to S, marks to flags
        mi = 0
        while (mi < msgsArr.length) {
          val m = msgsArr(mi)._2
          val idxs = m._1; val deltas = m._2; val marks = m._3
          var j = 0
          while (j < idxs.length) { st.s(idxs(j)) += deltas(j); j += 1 }
          j = 0
          while (j < marks.length) {
            val t = marks(j)
            if (!st.flag(t)) {
              st.flag(t) = true
              fe0 += b.offsets(t + 1) - b.offsets(t)
            }
            j += 1
          }
          mi += 1
        }
        // (2) sweep the frontier, push deltas, expand — primitive-array
        // accumulation (dense thread-local buffer / open-address map),
        // never a boxed hash map in the per-edge hot loop. The dense
        // buffer costs O(|V|) zero-on-acquire + O(|V|) emit scan per TASK,
        // which dominates the whole superstep when the frontier is small
        // (measured by a stage breakdown: it was most of the sweep stage at
        // 12M-vertex scale) — so the choice is per-task: sparse only when
        // this task's frontier out-edges (exact upper bound on its pushes,
        // counted post-message-apply, pre-prune) are under |V|/32, where
        // the open-address map is unambiguously cheaper; near-full sweeps
        // (the expansion phase — most supersteps of a converging run) keep
        // the dense buffer and its ~2 ns/edge adds.
        val push = PushAcc(vc.value, denseOk && fe0 * 32L >= nGlob,
          math.min(b.dstPart.length.toLong, math.max(16L, fe0)).toInt)
        var maxD = 0.0
        var nActive = 0L
        var flagEdges = 0L
        var i = 0
        while (i < st.rank.length) {
          if (st.flag(i)) {
            val r0 = st.rank(i)
            val inv = b.invDeg(i)
            val a =
              if (!prune) c0 + damp * st.s(i)
              else (c0 + damp * (st.s(i) - r0 * inv)) / (1.0 - damp * inv)
            val d = math.abs(a - r0)
            if (d > maxD) maxD = d
            val relD = if (d == 0.0) 0.0 else d / math.max(a, r0)
            if (prune) st.flag(i) = relD > pTol // frontier can shrink
            if (d != 0.0) {
              st.rank(i) = a
              val dw = (a - r0) * inv
              // fixed-frontier (DT) mode never expands the affected set;
              // DF-P expansion skips the self edge (v != u)
              push.pushRow(b, i, dw, mark = !fixedF && relD > fTol,
                selfPart = if (prune) p else -1)
            }
            if (st.flag(i)) {
              nActive += 1
              flagEdges += b.offsets(i + 1) - b.offsets(i)
            }
          }
          i += 1
        }
        val outArr = push.emit().toArray
        // still-active = flagged locally + marks in flight (receivers get
        // flagged next round) — folded into the stats, no extra job
        statAcc.add((p, Array(maxD, nActive.toDouble + push.markCount,
          flagEdges.toDouble, push.markCount.toDouble,
          (System.nanoTime() - tTask0).toDouble)))
        Iterator.single((st, outArr))
        }
      }
      nxt.persist(StorageLevel.MEMORY_AND_DISK)
      (nxt, statAcc)
    }

    // BLOCK FUSION: define up to `fuseMax` supersteps lazily, then run ONE
    // job. Each intermediate superstep's kernel then executes as the MAP
    // stage of its successor's message shuffle — kernel + push emit +
    // shuffle write in a single stage — instead of paying a separate
    // 32-task message-map stage plus a job gap per superstep (measured at
    // 4M pages: ~38 ms of a ~165 ms small-frontier superstep wall). The
    // fused supersteps' states persist as a side effect of those map
    // stages, so the narrow zip consumer of each state reads it from
    // cache. The per-step records are read in order and the loop keeps
    // the FIRST superstep whose residual fell under the tolerance or whose
    // frontier emptied, as the static sweep does, so iterations, ranks and
    // records equal the one-job-per-superstep loop's; supersteps a block
    // ran past that point are discarded. Overshoot therefore costs only
    // discarded work, never results: the run opens with a full block, and
    // each later block covers the supersteps still expected at the run's
    // mean residual decay so far (a small-batch run of ~10 supersteps takes
    // two loop jobs). The mean, not the fastest single-step decay: DF-P
    // residuals zig-zag, and one steep step (0.09 on the fixture of
    // BatchJobsSpec, against a mean of 0.5) would cut every later block to
    // two or three supersteps. DF's residual decay slows as it converges,
    // so the mean over-states its speed and later blocks come out short,
    // not long (at 4M pages no block ran past its stop point).
    //
    // A block holds every one of its supersteps' states and outgoing
    // messages in the cache until its job ends. `fuseCap` bounds that: at
    // worst a superstep clones every vertex's state (rank, S, flag: 17 B)
    // and sends one (index, delta) message per edge (12 B), and a block's
    // supersteps must fit in a quarter of the cluster's storage memory.
    // Without the cap, dense DF supersteps at 4M pages on a 6 GB heap ran
    // ~3× slower fused than one per job, with the disk busy (up to 65%
    // iowait).
    val genBytes = 17.0 * g.n + 12.0 * g.nEdges
    val storageBytes =
      sc.getExecutorMemoryStatus.values.map(_._1.toDouble).sum
    val fuseCap =
      math.max(1, math.min(fuseMax.toDouble, storageBytes / 4 / genBytes).toInt)
    var firstResidual = Double.NaN
    val records = Vector.newBuilder[Superstep]
    while (iter < opts.maxIterations && residual >= opts.tolerance &&
        active > 0) {
      val remain =
        if (iter < 2 || residual >= firstResidual) fuseCap.toDouble
        else math.ceil(math.log(opts.tolerance / residual) * (iter - 1) /
          math.log(residual / firstResidual))
      val block = math.max(1.0, math.min(remain,
        math.min(fuseCap, opts.maxIterations - iter).toDouble)).toInt
      val steps = new scala.collection.mutable.ArrayBuffer[
        (RDD[(CsrState, Array[(Int, Msg)])], PartitionAcc[Array[Double]])](block)
      var chain = cur
      var k = 0
      while (k < block) {
        val s = defineStep(chain)
        steps += s
        chain = s._1
        k += 1
      }
      // lineage-cap cadence (was: every 15th superstep) at block ends
      if ((iter + block) / 15 > iter / 15) chain.localCheckpoint()
      chain.count()
      var si = 0
      var stop = false
      while (!stop) {
        val stats = steps(si)._2.value.values
        residual = if (stats.isEmpty) 0.0 else stats.map(_(0)).max
        active = stats.map(_(1).toLong).sum
        // flagged = still-active minus the in-flight marks: the exact
        // flagged-vertex count, not the loop's flag+marks upper estimate
        records += Superstep(residual,
          flagged = (active.toDouble - stats.map(_(3)).sum).toLong,
          flaggedEdges = stats.map(_(2)).sum.toLong,
          kernelCritMs = if (stats.isEmpty) 0.0 else stats.map(_(4)).max / 1e6)
        if (firstResidual.isNaN) firstResidual = residual
        si += 1
        stop = si == steps.length || residual < opts.tolerance || active == 0
      }
      cur.unpersist(false)
      steps.indices.foreach(j => if (j != si - 1) steps(j)._1.unpersist(false))
      cur = steps(si - 1)._1
      iter += si
    }
    val t3 = System.nanoTime()

    import spark.implicits._
    // Fold the terminal round's in-flight S-deltas into the carried state —
    // dropping them would let the "exact S" invariant drift by up to
    // |final frontier|·tolerance per batch, compounding across long streams.
    // One cheap extra job; flags/ranks are shared (not mutated).
    val termMsgs = msgShuffle(cur.flatMap(_._2.iterator), ip(parts))
    val finalState = cur.zipPartitions(termMsgs,
      preservesPartitioning = false) { (stIt, mIt) =>
      val st0 = stIt.next()._1
      val st = CsrState(st0.rank, st0.s.clone(), st0.flag)
      mIt.foreach { case (_, (idxs, deltas, _)) =>
        var j = 0
        while (j < idxs.length) { st.s(idxs(j)) += deltas(j); j += 1 }
      }
      Iterator.single(st)
    }
    finalState.persist(StorageLevel.MEMORY_AND_DISK)
    // pre-materialization truncation (see applyBatchImpl): the carried
    // state must not retain this run's superstep chain, or an indefinite
    // stream leaks every superstep's shuffle registration
    finalState.localCheckpoint()
    finalState.count()
    val out = g.blocks.zipPartitions(finalState,
      preservesPartitioning = false) { (bIt, stIt) =>
      bIt.next().srcs.iterator.zip(stIt.next().rank.iterator)
    }.toDF("id", "rank")
    cur.unpersist(false)
    val run = PagerankRun(out,
      PagerankStats(iter, 0.0, (t1 - t0) / 1e6, (t3 - t1) / 1e6, residual,
        supersteps = records.result()))
    (run, finalState)
  }

}

object CsrDynamic {

  /** Max supersteps fused into one Spark job, for this loop's block fusion
    * (see [[CsrDynamic.runLoop]]) and the static sweep's
    * ([[CsrPageRank.staticDetailed]]). Both keep the first superstep that
    * meets the stop rule and discard the rest of its block, so fusion
    * changes job counts, never iterations or ranks. */
  val fuseMax: Int = 8

  /** Thrown when a batch/seed touches a vertex outside the frozen universe.
    * The CSR engine's universe is fixed at freeze time (the reference's
    * eager-universe contract, /root/reference/inc/snap.hxx:133); the
    * documented GROWTH POLICY is: catch this, add self-loops for the novel
    * vertices to the edge set, re-freeze (CsrPageRank.build on the grown
    * graph — N and the teleport term C0 change, so a full warm re-rank is
    * the correct semantics), and resume dynamic batches from the new
    * universe. graft.streaming.IncrementalPageRank implements exactly this
    * fallback for mid-stream novel vertices. */
  final class UniverseGrowthRequired(msg: String)
      extends RuntimeException(msg)

  /** Marks in flight in one partition's loop-state records. */
  private def markCount(cur: Iterator[(CsrState, Array[(Int, Msg)])]): Long =
    cur.map(_._2.iterator.map(_._2._3.length.toLong).sum).sum

  /** Per-partition loop state, aligned to the CSR block's vertex array. */
  final case class CsrState(rank: Array[Double], s: Array[Double],
      flag: Array[Boolean])

  /** Shuffle a superstep's packed message batches to their target
    * partitions on the SORT-path writer, scoped to this one shuffle. A pure
    * function of its input: it defines the shuffle and records nothing. With
    * ≤ bypassMergeThreshold (200) reduce partitions Spark's bypass writer
    * opens one compressed stream per reduce partition per MAP task — on the
    * dynamic loop's near-empty message data that per-file setup was 46.7 s
    * of 48.4 s executor time across one 20-superstep run (measured). A
    * map-side combine makes the shuffle ineligible for bypass, routing it
    * to the sort path's single output file per map task. The combine is
    * structurally inert map-side — each map task holds ONE partition state
    * and emits at most one Msg per target partition, so keys are unique
    * within a task — and reduce-side merging is plain concatenation, which
    * the consumers' apply-loops treat identically to separate records.
    * Deliberately NOT done via spark.shuffle.sort.bypassMergeThreshold=0:
    * session-wide that moved the DataFrame engine's large SQL exchanges
    * onto UnsafeShuffleWriter's 64 MB humongous pages and degraded them
    * ~15× on a 48 GB G1 heap (see GraftSession). The ShuffledRDD is built
    * directly rather than through `combineByKey`, which would run Spark's
    * closure cleaner on its three functions every superstep: each cleaning
    * reads and parses the declaring class file, and a JFR profile of
    * perfbench stream-small on a 4-core host put this loop's closure
    * cleaning at ~9 ms of driver CPU per batch. */
  def msgShuffle(msgs: RDD[(Int, Msg)],
      p: org.apache.spark.Partitioner): RDD[(Int, Msg)] =
    new ShuffledRDD[Int, Msg, Msg](msgs, p)
      .setAggregator(mergeMsgs)
      .setMapSideCombine(true)

  private val mergeMsgs: Aggregator[Int, Msg, Msg] = {
    val merge = (a: Msg, b: Msg) =>
      (a._1 ++ b._1, a._2 ++ b._2, a._3 ++ b._3)
    Aggregator[Int, Msg, Msg]((m: Msg) => m, merge, merge)
  }

  /** Home partition of a vertex id under Spark's HashPartitioner(parts). */
  def homePart(id: Long, parts: Int): Int = {
    val h = (id ^ (id >>> 32)).toInt
    val m = h % parts
    if (m < 0) m + parts else m
  }

  /** Rewrite one partition's CSR block with its batch slice; push S
    * corrections and the DF initial marking through a [[SparsePush]] and
    * return its packed messages.
    *
    * Per touched src u (local index i):
    *  - retract old terms: Δ −= rank(u)·invDegOld to every OLD neighbor
    *  - add new terms:     Δ += rank(u)·invDegNew to every NEW neighbor
    *  - mark OLD neighbors if u had an (existing) deletion; NEW neighbors if
    *    u had a (novel) insertion — pagerank.hxx:631-637's fm rule.
    * Untouched srcs' segments are array-copied verbatim.
    */
  def spliceBlock(b: CsrBlock, st: CsrState,
      batch: Iterator[(Int, (Long, Boolean, Int, Int))], parts: Int)
      : (CsrBlock, CsrState, Array[(Int, Msg)]) = {
    // group the batch by local src index
    val insBy = new java.util.HashMap[Int, java.util.ArrayList[Long]]()
    val delBy = new java.util.HashMap[Int, java.util.HashSet[java.lang.Long]]()
    batch.foreach { case (_, (src, isDel, dp, di)) =>
      val i = java.util.Arrays.binarySearch(b.srcs, src)
      if (i < 0) throw new UniverseGrowthRequired(
        s"batch src $src outside the frozen vertex universe — grow: add " +
          "self-loops for novel vertices and re-freeze (see " +
          "UniverseGrowthRequired scaladoc)")
      val key = pack(dp, di)
      if (isDel) delBy.computeIfAbsent(i, _ => new java.util.HashSet[java.lang.Long]())
        .add(key)
      else insBy.computeIfAbsent(i, _ => new java.util.ArrayList[Long]())
        .add(key)
    }
    // Flags are CLEARED for the new run (fresh per-invocation affected
    // vector, /root/reference/inc/pagerank.hxx:683) — carrying the previous
    // batch's converged frontier forward would grow the DF frontier
    // monotonically across batches until every superstep is a full sweep.
    // rank/S arrays are shared, never mutated here (the superstep's
    // copy-on-write clone protects the cached originals).
    def cleared(state: CsrState): CsrState =
      CsrState(state.rank, state.s, new Array[Boolean](state.rank.length))
    if (insBy.isEmpty && delBy.isEmpty)
      return (b, cleared(st), Array.empty)

    val n = b.srcs.length
    val newOffsets = new Array[Int](n + 1)
    val outP = new scala.collection.mutable.ArrayBuilder.ofInt
    val outI = new scala.collection.mutable.ArrayBuilder.ofInt
    outP.sizeHint(b.dstPart.length)
    outI.sizeHint(b.dstIdx.length)
    val newInv = new Array[Double](n)
    // starts at its minimum capacity and grows with the touched targets
    val patch = new SparsePush(parts, edgeBound = 0)
    var i = 0
    var w = 0
    while (i < n) {
      newOffsets(i) = w
      val from = b.offsets(i)
      val until = b.offsets(i + 1)
      val ins = insBy.get(i)
      val del = delBy.get(i)
      if (ins == null && del == null) {
        outP.addAll(b.dstPart, from, until - from)
        outI.addAll(b.dstIdx, from, until - from)
        w += until - from
        newInv(i) = b.invDeg(i)
      } else {
        // old adjacency as packed keys
        val oldKeys = new java.util.ArrayList[Long](until - from)
        var e = from
        while (e < until) { oldKeys.add(pack(b.dstPart(e), b.dstIdx(e))); e += 1 }
        val present = new java.util.HashSet[java.lang.Long](oldKeys.size * 2)
        oldKeys.forEach(k => present.add(k))
        val newKeys = new java.util.ArrayList[Long](oldKeys.size + 4)
        oldKeys.forEach { k =>
          if (del == null || !del.contains(k)) newKeys.add(k)
        }
        var hadIns = false
        if (ins != null) ins.forEach { k =>
          if (!present.contains(k)) { newKeys.add(k); present.add(k); hadIns = true }
        }
        // effective deletion = any old key actually removed (deleting a
        // non-existent edge is a no-op, inc/_bitset.hxx:297-301)
        var removed = false
        if (del != null) {
          val oit = oldKeys.iterator()
          while (oit.hasNext && !removed) {
            if (del.contains(oit.next())) removed = true
          }
        }
        require(newKeys.size > 0,
          s"vertex ${b.srcs(i)} would lose its last edge (self-loop contract)")
        val invOld = b.invDeg(i)
        val invNew = 1.0 / newKeys.size
        newInv(i) = invNew
        val r = st.rank(i)
        // retract old contributions, add new (also covers pure degree change)
        // and mark out-nbrs of u in x on deletion, in y on insertion
        oldKeys.forEach(k => patch.add(k, -r * invOld, removed))
        newKeys.forEach { k =>
          patch.add(k, r * invNew, hadIns)
          outP += (k >>> 32).toInt
          outI += (k & 0xffffffffL).toInt
        }
        w += newKeys.size
      }
      i += 1
    }
    newOffsets(n) = w
    val nb = CsrBlock(b.srcs, newInv, newOffsets, outP.result(), outI.result())
    (nb, cleared(st), patch.emit().toArray)
  }
}
