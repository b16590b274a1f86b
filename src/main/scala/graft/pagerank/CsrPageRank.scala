package graft.pagerank

import org.apache.spark.{HashPartitioner, Partitioner, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.AccumulatorV2

import scala.reflect.ClassTag

import graft.model.{PagerankOptions, PagerankStats}

/** Partition-local CSR fast path for static PageRank — the engine's analog
  * of the reference's frozen `DiGraphCsr` sweep
  * (/root/reference/inc/csr.hxx:107-287, inc/pagerank.hxx:198-208), demanded
  * by SURVEY.md §1.4/§7.1 step 6.
  *
  * The DataFrame path pays per superstep: SQL planning, two exchanges
  * (rank join + contribution agg) of row-at-a-time UnsafeRows, and a
  * separate residual job. This path freezes the graph ONCE into
  * per-partition CSR blocks over primitive arrays, keeps the rank vector as
  * one dense `Array[Double]` per partition (the reference's flat rank
  * vector, partition-blocked), and runs each superstep as ONE shuffle of
  * packed primitive arrays, with a block of supersteps fused into one job:
  *
  *   sweep (local):   for each src i: w = rank(i)·invDeg(i); `pushRow` w
  *                    into the task's [[CsrPageRank.PushAcc]], indexed by
  *                    the PRE-RESOLVED (dstPart, dstIdx) of every out-edge —
  *                    no hashing, no boxing, no codegen in the hot loop;
  *   exchange:        one packed (idxs, deltas) message per non-empty
  *                    (srcPart → dstPart) — ≤ #parts² records total,
  *                    pre-combined map-side (hub in-degree skew is absorbed
  *                    here: a hub receives ≤ parts partial entries);
  *   combine+resid:   add incoming sparse arrays into a dense block
  *                    ([[CsrPageRank.contributionSums]]), apply
  *                    a[v] = C0 + P·Σ, fold the L∞ delta into a per-partition
  *                    overwrite accumulator (retry-safe) — all in the same
  *                    task that materializes the new block.
  *
  * `PushAcc.pushRow` is the one accumulation kernel of every CSR PageRank
  * loop: this sweep, the S initialisation of [[CsrDynamic]], its DF/DF-P
  * supersteps and (through the sparse map's per-key `add`) its batch splice.
  *
  * Semantics are EXACTLY the static DataFrame run's (Jacobi full sweep,
  * same numeric contract): CsrPageRankSpec asserts allclose 1e-12 and equal
  * iteration counts. Callers that want this route call [[static]]
  * directly.
  *
  * Same caller contract as [[PageRank]]: simple digraph with self-loops on
  * every vertex (⇒ every vertex is a src AND receives ≥1 contribution).
  */
class CsrPageRank(spark: SparkSession, opts: PagerankOptions = PagerankOptions(),
    /** Sweep uses a dense |V|-wide accumulator while |V|·8B fits under this
      * (the buffer is PER CONCURRENT TASK — at 32 local cores the worst-case
      * heap is 32× this); beyond it, a packed-key open-address map bounded
      * by the partition's edge count (the 10¹²-vertex regime). Overridable
      * for tests. */
    maxDenseBytes: Long = 128L * 1024 * 1024) {

  import CsrPageRank._

  private val P = opts.damping

  // -------------------------------------------------------------- build

  /** Freeze the edge DataFrame into partition-local CSR blocks.
    * Three one-time shuffles: edges→srcPart, dst-resolution join, edge
    * annotations back to srcPart (amortized over the ~50-80 supersteps a
    * 1e-10 run takes — the reference builds its CSR once per snapshot too,
    * /root/reference/inc/csr.hxx:388-415). */
  def build(yEdges: DataFrame): CsrGraph = {
    val sc = spark.sparkContext
    val parts = sc.defaultParallelism
    val hp = new HashPartitioner(parts)
    val ip = new IdxPartitioner(parts)

    val edges: RDD[(Long, Long)] = yEdges.select("src", "dst").rdd
      .map(r => (r.getLong(0), r.getLong(1)))
      .partitionBy(hp)

    // Partition-local adjacency over sorted unique srcs + global dst ids.
    // (srcs, invDeg, offsets, dstsGlobal) per partition.
    val adj = edges.mapPartitions({ it =>
      val buf = it.toArray
      java.util.Arrays.sort(buf, (a: (Long, Long), b: (Long, Long)) =>
        java.lang.Long.compare(a._1, b._1))
      val m = buf.length
      var nSrc = 0
      var i = 0
      while (i < m) { if (i == 0 || buf(i)._1 != buf(i - 1)._1) nSrc += 1; i += 1 }
      val srcs = new Array[Long](nSrc)
      val offsets = new Array[Int](nSrc + 1)
      val dsts = new Array[Long](m)
      var s = -1
      i = 0
      while (i < m) {
        if (s < 0 || buf(i)._1 != srcs(s)) { s += 1; srcs(s) = buf(i)._1; offsets(s) = i }
        dsts(i) = buf(i)._2
        i += 1
      }
      offsets(nSrc) = m
      val invDeg = new Array[Double](nSrc)
      i = 0
      while (i < nSrc) { invDeg(i) = 1.0 / (offsets(i + 1) - offsets(i)); i += 1 }
      Iterator.single((srcs, invDeg, offsets, dsts))
    }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)

    val vCounts = adj.mapPartitionsWithIndex((p, it) =>
      Iterator.single((p, it.next()._1.length))).collect()
      .sortBy(_._1).map(_._2)
    val n = vCounts.map(_.toLong).sum
    val nEdges = adj.map(_._3.last.toLong).sum().toLong

    // Resolve every edge's dst → (dstPart, local idx in that partition's
    // sorted srcs). Route each edge occurrence (tagged with its home
    // partition + edge position) to the dst's partition, binary-search the
    // local vertex array, route the resolution back.
    val edgeRefs: RDD[(Long, (Int, Int))] = adj.mapPartitionsWithIndex {
      (p, it) =>
        val (_, _, offsets, dsts) = it.next()
        val m = offsets.last
        new Iterator[(Long, (Int, Int))] {
          private var e = 0
          def hasNext: Boolean = e < m
          def next(): (Long, (Int, Int)) = { val r = (dsts(e), (p, e)); e += 1; r }
        }
    }
    val resolved: RDD[(Int, (Int, Int, Int))] = edgeRefs.partitionBy(hp)
      .zipPartitions(adj, preservesPartitioning = false) { (eIt, aIt) =>
        val a = aIt.next()
        val srcs = a._1
        val p = TaskContext.getPartitionId()
        eIt.map { case (dst, (srcPart, ePos)) =>
          val idx = java.util.Arrays.binarySearch(srcs, dst)
          require(idx >= 0, s"dst $dst has no vertex entry (missing self-loop?)")
          (srcPart, (ePos, p, idx))
        }
      }
    val blocks = resolved.partitionBy(ip)
      .zipPartitions(adj, preservesPartitioning = true) { (rIt, aIt) =>
        val (srcs, invDeg, offsets, dstsG) = aIt.next()
        val m = dstsG.length
        val dstPart = new Array[Int](m)
        val dstIdx = new Array[Int](m)
        rIt.foreach { case (_, (ePos, p, idx)) =>
          dstPart(ePos) = p; dstIdx(ePos) = idx
        }
        Iterator.single(CsrBlock(srcs, invDeg, offsets, dstPart, dstIdx))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    blocks.count()
    adj.unpersist(false)
    CsrGraph(blocks, vCounts, n, nEdges)
  }

  // ------------------------------------------------------------- superstep

  /** Static PageRank over the frozen graph — same loop contract as
    * [[PageRank.static]] (cold 1/N init, L∞/L1 stop vs opts.tolerance,
    * maxIterations; tolerance<=0 = fixed-step throughput mode). */
  def static(yEdges: DataFrame): PagerankRun = {
    val t0 = System.nanoTime()
    val g = build(yEdges)
    staticOnGraph(g, t0)
  }

  def staticOnGraph(g: CsrGraph, t0: Long = System.nanoTime()): PagerankRun =
    staticDetailed(g, crossTol = 0.0, t0)._1

  /** [[staticOnGraph]] plus (a) the raw per-partition rank blocks (for
    * cheap aligned L1 comparisons) and (b) the wall/iterations at the FIRST
    * crossing of `crossTol`. One high-precision run thus serves as BOTH the
    * timed baseline at `crossTol` AND the reference-protocol oracle
    * (/root/reference/main.cxx:85 re-runs the 1e-100 static oracle on every
    * updated graph; the crossing time is exactly what a `crossTol`-tolerance
    * run would have cost, because the iteration sequence is identical).
    * Returns (run, rankBlocks, crossSecs, crossIters); cross fields are -1
    * when never crossed (or crossTol == 0). */
  def staticDetailed(g: CsrGraph, crossTol: Double,
      t0: Long = System.nanoTime())
      : (PagerankRun, RDD[Array[Double]], Double, Int) = {
    val sc = spark.sparkContext
    if (g.n == 0) {
      import spark.implicits._
      return (PagerankRun(Seq.empty[(Long, Double)].toDF("id", "rank"),
        PagerankStats(0, 0, 0, 0, 0.0)),
        sc.emptyRDD[Array[Double]], -1.0, -1)
    }
    val n = g.n
    val c0 = (1 - P) / n
    val init = 1.0 / n
    // Dense push buffers cover all |V| per task when cheap; above the
    // threshold the push falls back to per-edge-bounded packed-key open
    // hashing (scales with edges/partition, not |V| — the 10¹²-vertex regime).
    val denseOk = n * 8L <= maxDenseBytes
    val vCounts = sc.broadcast(g.vCounts)

    var ranks: RDD[Array[Double]] = g.blocks
      .map(b => Array.fill(b.srcs.length)(init))
    ranks.persist(StorageLevel.MEMORY_AND_DISK)
    ranks.count()
    val t1 = System.nanoTime()

    var iter = 0
    var residual = Double.MaxValue
    var crossIters = -1
    var crossSecs = -1.0
    val stepTimes = scala.collection.mutable.ArrayBuffer[Double]()
    val measureResidual = opts.tolerance > 0
    // locals only in the task closures — capturing `P`/`opts` would drag
    // `this` (and the SparkSession) into the serialized task
    val damp = P
    val useL1 = opts.useL1Residual

    /** Define ONE superstep lazily — no action here: the contribution sums
      * of `prev`, overwritten in place with the new ranks. Its residual lands in an unnamed (registry-free) per-partition
      * accumulator, overwrite-idempotent, so the step may run inside a
      * ShuffleMapStage of a fused block where Spark can re-run a task. */
    def defineStep(prev: RDD[Array[Double]])
        : (RDD[Array[Double]], PartitionAcc[Double]) = {
      val acc = new PartitionAcc[Double]
      sc.register(acc)
      val next = contributionSums(g, prev, vCounts, denseOk) { (a, old) =>
        var maxD = 0.0
        var sumD = 0.0
        var i = 0
        while (i < old.length) {
          val nr = c0 + damp * a(i)
          val d = math.abs(nr - old(i))
          if (d > maxD) maxD = d
          sumD += d
          a(i) = nr
          i += 1
        }
        if (measureResidual)
          acc.add((TaskContext.getPartitionId(), if (useL1) sumD else maxD))
        a
      }
      next.persist(StorageLevel.MEMORY_AND_DISK)
      (next, acc)
    }

    // BLOCK FUSION (as in CsrDynamic's loop): define up to
    // CsrDynamic.fuseMax supersteps lazily and run them as ONE job — each
    // step's combine runs as the map stage of its successor's shuffle, and
    // its rank blocks persist as a side effect. The per-step accumulators are
    // then read in order and the loop keeps the FIRST step whose residual
    // fell under the tolerance, so iterations, ranks and crossIters equal
    // the one-job-per-step loop's. The supersteps a block ran past that step
    // are discarded. Per-step wall is the block wall split evenly.
    while (iter < opts.maxIterations && residual >= opts.tolerance) {
      val blockT0 = System.nanoTime()
      val block = math.min(CsrDynamic.fuseMax, opts.maxIterations - iter)
      val steps = new scala.collection.mutable.ArrayBuffer[
        (RDD[Array[Double]], PartitionAcc[Double])](block)
      var chain = ranks
      while (steps.length < block) {
        val s = defineStep(chain)
        steps += s
        chain = s._1
      }
      // Truncate the RDD object-graph periodically: task closures serialize
      // the stage's lineage chain, which otherwise grows per superstep.
      if ((iter + block) / 15 > iter / 15) chain.localCheckpoint()
      chain.count()
      val stepMs = (System.nanoTime() - blockT0) / 1e6 / block
      var k = 0
      var stop = false
      while (!stop) {
        val vals = steps(k)._2.value.values
        residual =
          if (!measureResidual) Double.MaxValue
          else if (vals.isEmpty) 0.0
          else if (useL1) vals.sum
          else vals.max
        iter += 1
        stepTimes += stepMs
        if (crossIters < 0 && crossTol > 0 && residual < crossTol) {
          crossIters = iter
          crossSecs = (blockT0 - t1) / 1e9 + stepMs * (k + 1) / 1e3
        }
        k += 1
        stop = k == block || residual < opts.tolerance
      }
      ranks.unpersist(false)
      steps.indices.foreach(j => if (j != k - 1) steps(j)._1.unpersist(false))
      ranks = steps(k - 1)._1
    }

    val t3 = System.nanoTime()
    import spark.implicits._
    val out = g.blocks.zipPartitions(ranks, preservesPartitioning = false) {
      (bIt, rIt) =>
        val b = bIt.next()
        val r = rIt.next()
        b.srcs.iterator.zip(r.iterator)
    }.toDF("id", "rank")
    (PagerankRun(out,
      PagerankStats(iter, (t1 - t0) / 1e6, 0.0, (t3 - t1) / 1e6, residual,
        stepTimes.toSeq)),
      ranks, crossSecs, crossIters)
  }

}


object CsrPageRank {

  /** One partition's frozen graph block. `srcs` is the sorted vertex-id set
    * of the partition (self-loops ⇒ every vertex is a src); edges store the
    * destination pre-resolved to (partition, local index) so the sweep never
    * touches a hash map. Top-level (no outer pointer): ships in task
    * closures without dragging the session along. */
  final case class CsrBlock(
      srcs: Array[Long],
      invDeg: Array[Double],
      offsets: Array[Int],
      dstPart: Array[Int],
      dstIdx: Array[Int])

  /** Frozen graph: CSR blocks + per-partition vertex counts + |V|, |E|. */
  final case class CsrGraph(blocks: RDD[CsrBlock], vCounts: Array[Int],
      n: Long, nEdges: Long)

  /** Routes a record keyed by its target partition index to that partition.
    * Shared by every partition-local CSR loop (static and dynamic PageRank,
    * connected components, label propagation).
    *
    * Trap: `partitionBy` (and `combineByKey`) skip the shuffle when the input
    * already carries an equal partitioner, so an RDD of messages keyed for
    * this partitioner must not come from a `preservesPartitioning = true`
    * zip — the messages would then stay on the partition that sent them. */
  final class IdxPartitioner(val parts: Int) extends Partitioner {
    def numPartitions: Int = parts
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
    override def equals(o: Any): Boolean = o match {
      case p: IdxPartitioner => p.parts == parts
      case _ => false
    }
    override def hashCode(): Int = parts
  }

  /** Retry-safe per-partition accumulator: one value PER PARTITION, merged
    * by overwrite (idempotent under task re-execution — a retried partition
    * just rewrites its slot, where a `LongAccumulator` would add twice), so
    * a kernel that feeds it may run inside a fused ShuffleMapStage. Readers
    * fold the slots (max or sum) themselves. */
  final class PartitionAcc[T] extends AccumulatorV2[(Int, T), Map[Int, T]] {
    private var m = Map.empty[Int, T]
    def isZero: Boolean = m.isEmpty
    def copy(): PartitionAcc[T] = { val a = new PartitionAcc[T]; a.m = m; a }
    def reset(): Unit = m = Map.empty
    def add(x: (Int, T)): Unit = m += x
    def merge(o: AccumulatorV2[(Int, T), Map[Int, T]]): Unit = m ++= o.value
    def value: Map[Int, T] = m
  }

  /** Packed message batch for one target partition:
    * (local idxs, S deltas, marked local idxs). */
  type Msg = (Array[Int], Array[Double], Array[Int])

  def pack(part: Int, idx: Int): Long =
    (part.toLong << 32) | (idx.toLong & 0xffffffffL)

  /** Contribution sums S(v) = Σ_{u→v} rank(u)·invDeg(u) for rank blocks
    * aligned to `g.blocks`, defined lazily: one full sweep through
    * [[PushAcc.pushRow]], one shuffle to the target partitions (the graph's
    * own partition count, so a graph built under a different parallelism
    * still sweeps correctly), then one dense sum per partition, zipped
    * narrowly with the partition's own rank block and handed to
    * `f(sums, ranks)` — fresh sums per task, so `f` may overwrite them in
    * place. The sweep zips with `preservesPartitioning = false`: a
    * partitioned input would make `partitionBy` skip the shuffle (see
    * [[IdxPartitioner]]). */
  def contributionSums[T: ClassTag](g: CsrGraph, ranks: RDD[Array[Double]],
      vc: Broadcast[Array[Int]], dense: Boolean)(
      f: (Array[Double], Array[Double]) => T): RDD[T] =
    g.blocks.zipPartitions(ranks, preservesPartitioning = false) {
      (bIt, rIt) =>
        val b = bIt.next()
        val r = rIt.next()
        val push = PushAcc(vc.value, dense, b.dstPart.length)
        var i = 0
        while (i < b.srcs.length) {
          push.pushRow(b, i, r(i) * b.invDeg(i), mark = false, selfPart = -1)
          i += 1
        }
        push.emit()
    }.partitionBy(new IdxPartitioner(g.vCounts.length))
      .zipPartitions(ranks, preservesPartitioning = true) { (mIt, rIt) =>
        val r = rIt.next()
        val s = new Array[Double](r.length)
        mIt.foreach { case (_, (idxs, deltas, _)) =>
          var j = 0
          while (j < idxs.length) { s(idxs(j)) += deltas(j); j += 1 }
        }
        Iterator.single(f(s, r))
      }

  // ------------------------------------------------------------ push kernel

  /** Per-task accumulator for pushed S-deltas + expansion marks, keyed by
    * (target partition, local index) — the one accumulation path of every
    * CSR PageRank loop (static sweep, S initialisation, DF/DF-P supersteps,
    * batch splice). Two regimes:
    *  - dense: a |V|-wide thread-local primitive array addressed by the
    *    global offset of (part, idx) — no hashing, no boxing; buffers are
    *    reused across tasks on the same executor thread (zeroed on acquire,
    *    which keeps them safe after a failed task);
    *  - sparse: a growing packed-key open-address primitive map bounded by
    *    the pushed out-edge count — |V|-independent, for the 10¹²-vertex
    *    regime. */
  private[pagerank] sealed trait PushAcc {
    /** Add `dw` to every out-edge target of local vertex `i` of `b`. With
      * `mark`, also mark each target except the self edge (selfPart, i);
      * `selfPart = -1` skips none (DF), DF-P passes its own partition. */
    def pushRow(b: CsrBlock, i: Int, dw: Double, mark: Boolean,
        selfPart: Int): Unit
    /** Number of DISTINCT marked targets so far. */
    def markCount: Int
    /** Per-target-partition packed messages (empty partitions skipped). */
    def emit(): Iterator[(Int, Msg)]
  }

  private[pagerank] object PushAcc {
    def apply(vc: Array[Int], dense: Boolean, edgeBound: Int): PushAcc =
      if (dense) new DensePush(vc) else new SparsePush(vc.length, edgeBound)
  }

  /** Executor-thread-local dense buffers: a |V|-wide array per task would
    * otherwise be ~|V|·8B fresh garbage per task per superstep (3 GB/
    * superstep at 12M vertices × 32 cores) — GC churn that flattens core
    * scaling. Executor threads are reused, so each thread zeroes and reuses
    * one buffer (zeroing is a linear write, ~10 ms for 100 MB). */
  private val dBuf = new ThreadLocal[Array[Double]]
  private val mBuf = new ThreadLocal[Array[Boolean]]
  private def threadDoubles(n: Int): Array[Double] = {
    var a = dBuf.get()
    if (a == null || a.length < n) { a = new Array[Double](n); dBuf.set(a) }
    else java.util.Arrays.fill(a, 0, n, 0.0)
    a
  }
  private def threadBools(n: Int): Array[Boolean] = {
    var a = mBuf.get()
    if (a == null || a.length < n) { a = new Array[Boolean](n); mBuf.set(a) }
    else java.util.Arrays.fill(a, 0, n, false)
    a
  }

  private final class DensePush(vc: Array[Int]) extends PushAcc {
    private val parts = vc.length
    private val base = new Array[Int](parts + 1)
    locally {
      var p = 0
      while (p < parts) { base(p + 1) = base(p) + vc(p); p += 1 }
    }
    private val acc = threadDoubles(base(parts))
    // acquired on the first marked push: a sweep that never marks (static,
    // S initialisation) skips its O(|V|) zero and emit scan
    private var marked: Array[Boolean] = null
    private var nMarks = 0

    def pushRow(b: CsrBlock, i: Int, dw: Double, mark: Boolean,
        selfPart: Int): Unit = {
      val acc = this.acc
      val base = this.base
      val dstPart = b.dstPart
      val dstIdx = b.dstIdx
      var e = b.offsets(i)
      val end = b.offsets(i + 1)
      if (!mark) {
        while (e < end) { acc(base(dstPart(e)) + dstIdx(e)) += dw; e += 1 }
      } else {
        if (marked == null) marked = threadBools(base(parts))
        val mk = marked
        val self = if (selfPart < 0) -1 else base(selfPart) + i
        while (e < end) {
          val o = base(dstPart(e)) + dstIdx(e)
          acc(o) += dw
          if (o != self && !mk(o)) { mk(o) = true; nMarks += 1 }
          e += 1
        }
      }
    }
    def markCount: Int = nMarks
    def emit(): Iterator[(Int, Msg)] =
      (0 until parts).iterator.flatMap { q =>
        val acc = this.acc
        val mk = marked
        val lo = base(q); val hi = base(q + 1)
        var nd = 0; var nm = 0
        var k = lo
        while (k < hi) { if (acc(k) != 0.0) nd += 1; k += 1 }
        if (mk != null) {
          k = lo
          while (k < hi) { if (mk(k)) nm += 1; k += 1 }
        }
        if (nd == 0 && nm == 0) Iterator.empty
        else {
          val idxs = new Array[Int](nd)
          val vals = new Array[Double](nd)
          var di = 0
          k = lo
          while (k < hi) {
            if (acc(k) != 0.0) { idxs(di) = k - lo; vals(di) = acc(k); di += 1 }
            k += 1
          }
          val marks = new Array[Int](nm)
          var mi = 0
          k = lo
          while (mi < nm) {
            if (mk(k)) { marks(mi) = k - lo; mi += 1 }
            k += 1
          }
          Iterator.single((q, (idxs, vals, marks): Msg))
        }
      }
  }

  /** Growing open-address map (linear probing, power-of-two capacity,
    * doubling rehash at 50% load) over packed (part,idx) keys with a
    * parallel mark bit — all primitive arrays. The batch splice pushes its
    * per-key S corrections and marks through [[add]]. */
  private[pagerank] final class SparsePush(parts: Int, edgeBound: Int)
      extends PushAcc {
    // start at ~1/8 of the edge bound (frontier sweeps are usually far
    // sparser than a full sweep), grow by doubling
    private var cap = java.lang.Integer.highestOneBit(
      math.min(1 << 20, math.max(1 << 12, edgeBound / 8)))
    private var keys = new Array[Long](cap)
    private var vals = new Array[Double](cap)
    private var used = new Array[Boolean](cap)
    private var marked = new Array[Boolean](cap)
    private var size = 0
    private var nMarks = 0

    private def slot(key: Long, ks: Array[Long], us: Array[Boolean],
        c: Int): Int = {
      var h = java.lang.Long.hashCode(key * 0x9e3779b97f4a7c15L) & (c - 1)
      while (us(h) && ks(h) != key) h = (h + 1) & (c - 1)
      h
    }
    private def grow(): Unit = {
      val nc = cap << 1
      val nk = new Array[Long](nc)
      val nv = new Array[Double](nc)
      val nu = new Array[Boolean](nc)
      val nm = new Array[Boolean](nc)
      var h = 0
      while (h < cap) {
        if (used(h)) {
          val s = slot(keys(h), nk, nu, nc)
          nk(s) = keys(h); nv(s) = vals(h); nu(s) = true; nm(s) = marked(h)
        }
        h += 1
      }
      cap = nc; keys = nk; vals = nv; used = nu; marked = nm
    }

    /** Push one packed (part, idx) target. */
    def add(key: Long, dw: Double, mark: Boolean): Unit = {
      if (size * 2 >= cap) grow()
      val h = slot(key, keys, used, cap)
      if (!used(h)) { used(h) = true; keys(h) = key; size += 1 }
      vals(h) += dw
      if (mark && !marked(h)) { marked(h) = true; nMarks += 1 }
    }
    def pushRow(b: CsrBlock, i: Int, dw: Double, mark: Boolean,
        selfPart: Int): Unit = {
      var e = b.offsets(i)
      val end = b.offsets(i + 1)
      while (e < end) {
        val tp = b.dstPart(e)
        val ti = b.dstIdx(e)
        add(pack(tp, ti), dw, mark && !(tp == selfPart && ti == i))
        e += 1
      }
    }
    def markCount: Int = nMarks
    def emit(): Iterator[(Int, Msg)] = {
      val nd = new Array[Int](parts)
      val nm = new Array[Int](parts)
      var h = 0
      while (h < cap) {
        if (used(h)) {
          val q = (keys(h) >>> 32).toInt
          if (vals(h) != 0.0) nd(q) += 1
          if (marked(h)) nm(q) += 1
        }
        h += 1
      }
      val outI = Array.tabulate(parts)(q => new Array[Int](nd(q)))
      val outV = Array.tabulate(parts)(q => new Array[Double](nd(q)))
      val outM = Array.tabulate(parts)(q => new Array[Int](nm(q)))
      val ci = new Array[Int](parts)
      val cm = new Array[Int](parts)
      h = 0
      while (h < cap) {
        if (used(h)) {
          val q = (keys(h) >>> 32).toInt
          val li = (keys(h) & 0xffffffffL).toInt
          if (vals(h) != 0.0) {
            outI(q)(ci(q)) = li; outV(q)(ci(q)) = vals(h); ci(q) += 1
          }
          if (marked(h)) { outM(q)(cm(q)) = li; cm(q) += 1 }
        }
        h += 1
      }
      (0 until parts).iterator
        .filter(q => nd(q) > 0 || nm(q) > 0)
        .map(q => (q, (outI(q), outV(q), outM(q)): Msg))
    }
  }
}
