package graft.pagerank

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.AccumulatorV2

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
  *   sweep (local):   for each src i: w = rank(i)·invDeg(i); scatter w into
  *                    a per-destination-partition accumulator indexed by the
  *                    PRE-RESOLVED (dstPart, dstIdx) of every out-edge —
  *                    no hashing, no boxing, no codegen in the hot loop;
  *   exchange:        one (Array[Int], Array[Double]) sparse pair per
  *                    (srcPart → dstPart) — #parts² packed records total,
  *                    pre-combined map-side (hub in-degree skew is absorbed
  *                    here: a hub receives ≤ parts partial entries);
  *   combine+resid:   add incoming sparse arrays into a dense block,
  *                    apply a[v] = C0 + P·Σ, fold the L∞ delta into a
  *                    max-accumulator (retry-safe: max is idempotent) —
  *                    all in the same task that materializes the new block.
  *
  * Semantics are EXACTLY the DataFrame path's (Jacobi full sweep, same
  * numeric contract): CsrPageRankSpec asserts allclose 1e-12 and equal
  * iteration counts. Swapped in behind PagerankOptions.useCsr.
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
    CsrPageRank.buildCount.incrementAndGet()
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
        val p = TaskContextHolder.partitionId()
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
    // The graph carries its own partition count — a CsrGraph built under a
    // different parallelism setting must still sweep correctly.
    val parts = g.vCounts.length
    val ip = new IdxPartitioner(parts)
    if (g.n == 0) {
      import spark.implicits._
      return (PagerankRun(Seq.empty[(Long, Double)].toDF("id", "rank"),
        PagerankStats(0, 0, 0, 0, 0.0)),
        sc.emptyRDD[Array[Double]], -1.0, -1)
    }
    val n = g.n
    val c0 = (1 - P) / n
    val init = 1.0 / n
    // Dense sweep buffers cover all |V| per task when cheap; above the
    // threshold fall back to per-edge-bounded packed-key open hashing
    // (scales with edges/partition, not |V| — the 10¹²-vertex regime).
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

    /** Define ONE superstep lazily — no action here. Its residual lands in
      * an unnamed (registry-free) per-partition accumulator, overwrite-
      * idempotent, so the step may run inside a ShuffleMapStage of a fused
      * block where Spark can re-run a task. */
    def defineStep(prev: RDD[Array[Double]])
        : (RDD[Array[Double]], PartitionValueAcc) = {
      val acc = new PartitionValueAcc
      sc.register(acc)
      val contribs: RDD[(Int, (Array[Int], Array[Double]))] =
        g.blocks.zipPartitions(prev, preservesPartitioning = false) {
          (bIt, rIt) =>
            val b = bIt.next()
            val r = rIt.next()
            val vc = vCounts.value
            if (denseOk) sweepDense(b, r, vc)
            else sweepSparse(b, r, vc)
        }
      val next = contribs.partitionBy(ip)
        .zipPartitions(prev, preservesPartitioning = true) { (cIt, rIt) =>
          val old = rIt.next()
          val acc2 = new Array[Double](old.length)
          cIt.foreach { case (_, (idxs, vals)) =>
            var j = 0
            while (j < idxs.length) { acc2(idxs(j)) += vals(j); j += 1 }
          }
          var maxD = 0.0
          var sumD = 0.0
          var i = 0
          while (i < old.length) {
            val nr = c0 + damp * acc2(i)
            val d = math.abs(nr - old(i))
            if (d > maxD) maxD = d
            sumD += d
            acc2(i) = nr
            i += 1
          }
          if (measureResidual)
            acc.add((TaskContextHolder.partitionId(),
              if (useL1) sumD else maxD))
          Iterator.single(acc2)
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
        (RDD[Array[Double]], PartitionValueAcc)](block)
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

  /** Diagnostics: number of full CSR freezes performed — batch loops that
    * carry state should NOT advance this per batch (SnapMainSpec asserts). */
  val buildCount = new java.util.concurrent.atomic.AtomicLong

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

  /** Retry-safe per-partition scalar accumulator: one value PER PARTITION,
    * merged by overwrite (idempotent under task re-execution — a retried
    * partition just rewrites its slot, where a `LongAccumulator` would add
    * twice). Readers fold the slots (max or sum) themselves. */
  final class PartitionValueAcc
      extends AccumulatorV2[(Int, Double), Map[Int, Double]] {
    private var m = Map.empty[Int, Double]
    def isZero: Boolean = m.isEmpty
    def copy(): PartitionValueAcc = { val a = new PartitionValueAcc; a.m = m; a }
    def reset(): Unit = m = Map.empty
    def add(x: (Int, Double)): Unit = m += x
    def merge(o: AccumulatorV2[(Int, Double), Map[Int, Double]]): Unit =
      m ++= o.value
    def value: Map[Int, Double] = m
  }

  /** Executor-thread-local dense buffer: a |V|-wide Array[Double] per task
    * would otherwise be ~|V|·8B fresh garbage per task per superstep (3 GB/
    * superstep at 12M vertices × 32 cores) — GC churn that flattens core
    * scaling. Executor threads are reused, so each thread zeroes and reuses
    * one buffer (zeroing is a linear write, ~10 ms for 100 MB). */
  private val denseBuf = new ThreadLocal[Array[Double]]

  private def threadBuffer(size: Int): Array[Double] = {
    var a = denseBuf.get()
    if (a == null || a.length < size) {
      a = new Array[Double](size)
      denseBuf.set(a)
    } else {
      java.util.Arrays.fill(a, 0, size, 0.0)
    }
    a
  }

  /** Sweep with one dense |V|-wide accumulator, then sparsify per target
    * partition. No hashing: dst is pre-resolved to (part, idx), and the
    * dense buffer is addressed by the GLOBAL offset of (part, idx). */
  private def sweepDense(b: CsrBlock, r: Array[Double], vc: Array[Int])
      : Iterator[(Int, (Array[Int], Array[Double]))] = {
    val parts = vc.length
    val base = new Array[Int](parts + 1)
    var p = 0
    while (p < parts) { base(p + 1) = base(p) + vc(p); p += 1 }
    val acc = threadBuffer(base(parts))
    var i = 0
    while (i < b.srcs.length) {
      val w = r(i) * b.invDeg(i)
      var e = b.offsets(i)
      val end = b.offsets(i + 1)
      while (e < end) {
        acc(base(b.dstPart(e)) + b.dstIdx(e)) += w
        e += 1
      }
      i += 1
    }
    (0 until parts).iterator.map { q =>
      val lo = base(q); val hi = base(q + 1)
      var nz = 0
      var k = lo
      while (k < hi) { if (acc(k) != 0.0) nz += 1; k += 1 }
      val idxs = new Array[Int](nz)
      val vals = new Array[Double](nz)
      var o = 0
      k = lo
      while (k < hi) {
        if (acc(k) != 0.0) { idxs(o) = k - lo; vals(o) = acc(k); o += 1 }
        k += 1
      }
      (q, (idxs, vals))
    }
  }

  /** Sweep with a packed-key (part<<32|idx) open-address map — memory bound
    * by this partition's distinct dsts (≤ its edge count), independent of
    * |V|. */
  private def sweepSparse(b: CsrBlock, r: Array[Double], vc: Array[Int])
      : Iterator[(Int, (Array[Int], Array[Double]))] = {
    val m = b.dstPart.length
    var cap = java.lang.Integer.highestOneBit(math.max(16, m * 2 - 1)) * 2
    var keys = new Array[Long](cap)
    var vals = new Array[Double](cap)
    var used = new Array[Boolean](cap)
    var size = 0
    def insert(key: Long, v: Double): Unit = {
      var h = (java.lang.Long.hashCode(key * 0x9e3779b97f4a7c15L)) & (cap - 1)
      while (used(h) && keys(h) != key) h = (h + 1) & (cap - 1)
      if (!used(h)) { used(h) = true; keys(h) = key; size += 1 }
      vals(h) += v
    }
    var i = 0
    while (i < b.srcs.length) {
      val w = r(i) * b.invDeg(i)
      var e = b.offsets(i)
      val end = b.offsets(i + 1)
      while (e < end) {
        insert((b.dstPart(e).toLong << 32) | (b.dstIdx(e).toLong & 0xffffffffL), w)
        e += 1
      }
      i += 1
    }
    // bucket by target partition
    val parts = vc.length
    val counts = new Array[Int](parts)
    var h = 0
    while (h < cap) {
      if (used(h)) counts((keys(h) >>> 32).toInt) += 1
      h += 1
    }
    val outIdx = Array.tabulate(parts)(q => new Array[Int](counts(q)))
    val outVal = Array.tabulate(parts)(q => new Array[Double](counts(q)))
    val cursor = new Array[Int](parts)
    h = 0
    while (h < cap) {
      if (used(h)) {
        val q = (keys(h) >>> 32).toInt
        val c = cursor(q)
        outIdx(q)(c) = (keys(h) & 0xffffffffL).toInt
        outVal(q)(c) = vals(h)
        cursor(q) = c + 1
      }
      h += 1
    }
    (0 until parts).iterator.map(q => (q, (outIdx(q), outVal(q))))
  }
}

/** TaskContext.partitionId without importing spark internals at call sites. */
private object TaskContextHolder {
  def partitionId(): Int = org.apache.spark.TaskContext.getPartitionId()
}
