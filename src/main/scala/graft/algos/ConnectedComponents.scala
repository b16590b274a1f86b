package graft.algos

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.pagerank.CsrDynamic.homePart
import graft.pagerank.CsrPageRank
import graft.pagerank.CsrPageRank.{IdxPartitioner, PartitionAcc}

/** Connected components via Hash-Min with pointer doubling (shortcutting),
  * run on the partition-local CSR blocks of [[graft.pagerank.CsrPageRank.build]].
  *
  * Required by the north rule (BASELINE.json) alongside PageRank; semantics
  * per SURVEY.md §2.9: on the SYMMETRIZED graph, every vertex's label is the
  * minimum vertex id in its component — "must match exactly".
  *
  * State: one `comp: Array[Long]` per partition, aligned to the block's
  * sorted vertex array, plus which entries changed in the last round. Each
  * round is ONE Spark job of three packed exchanges:
  *   (1) hash-min push: every vertex whose label changed last round (all of
  *       them in round 1) sends its label along its out-edges as packed
  *       (dstIdx, label) arrays; receivers keep the minimum. A vertex whose
  *       label did not change has nothing new to tell its neighbors: labels
  *       only decrease, and each neighbor already took its current label;
  *   (2) shortcut request: each partition asks the home partition of every
  *       distinct foreign label l ([[graft.pagerank.CsrDynamic.homePart]] —
  *       the label is a vertex id) for comp(l);
  *   (3) reply: the home partition binary-searches l in its block and sends
  *       back the post-hash-min comp(l); the asker sets comp(v) ← comp(comp(v)).
  * Step (3) roughly doubles the already-contracted distance each round, so
  * the round count is O(log d) in the graph diameter d — plain hash-min is
  * O(d), a scale-killer on high-diameter graphs (10⁴-long crawl-frontier
  * chains ⇒ 10⁴ rounds; with shortcutting ≈ log₂ rounds — see AlgosSpec's
  * chain fixture). The loop stops after the first round that changes no
  * label, counted by a per-partition overwrite-idempotent accumulator.
  *
  * Requests carry DISTINCT labels per asking partition, so a giant
  * component costs its home partition one request per partition, not one
  * row per member — no join key is skewed.
  *
  * Correctness: comp values are always ids of vertices in the same component
  * and ≥ the component minimum m; comp(m) = m forever (hash-min never
  * lowers it below m and starts at m). At the combined fixpoint comp is
  * constant across every edge, hence constant per component, hence = m.
  */
object ConnectedComponents {

  /** @param symEdges symmetrized simple edges (src,dst) — [[graft.graph.EdgeOps.symmetrize]]
    * @return (id, component) with component = min id in the component */
  def run(spark: SparkSession, symEdges: DataFrame): DataFrame =
    runWithRounds(spark, symEdges)._1

  /** [[run]] plus the number of rounds to fixpoint (for the O(log d) bound
    * asserted in AlgosSpec's chain fixture). */
  def runWithRounds(spark: SparkSession, symEdges: DataFrame): (DataFrame, Int) = {
    val sc = spark.sparkContext
    val g = new CsrPageRank(spark).build(symEdges)
    val parts = g.vCounts.length
    val ip = new IdxPartitioner(parts)

    // (comp, changed last round); every vertex starts as its own label
    var state: RDD[(Array[Long], Array[Boolean])] =
      g.blocks.map(b => (b.srcs, Array.fill(b.srcs.length)(true)))
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      val acc = new PartitionAcc[Long]
      sc.register(acc)
      // (1) hash-min. Kept with it: the sorted distinct foreign labels
      // (comp(v) != v) whose own comp the shortcut asks for.
      val stepped = g.blocks.zipPartitions(state, preservesPartitioning = false) {
        (bIt, sIt) =>
          val (comp, send) = sIt.next()
          CsrLabels.push(bIt.next(), comp, send, parts)
      }.partitionBy(ip)
        .zipPartitions(g.blocks, state, preservesPartitioning = true) {
          (mIt, bIt, sIt) =>
            val srcs = bIt.next().srcs
            val comp = sIt.next()._1.clone()
            mIt.foreach { case (_, (idxs, ls)) =>
              var j = 0
              while (j < idxs.length) {
                if (ls(j) < comp(idxs(j))) comp(idxs(j)) = ls(j)
                j += 1
              }
            }
            Iterator.single((comp, foreignLabels(srcs, comp)))
        }
      stepped.persist(StorageLevel.MEMORY_AND_DISK)
      // (2) requests to each label's home partition, (3) replies back
      val replies = stepped.mapPartitionsWithIndex { (p, it) =>
        val wanted = it.next()._2
        wanted.groupBy(homePart(_, parts)).iterator.map { case (q, ls) => (q, (p, ls)) }
      }.partitionBy(ip)
        .zipPartitions(g.blocks, stepped, preservesPartitioning = false) {
          (rIt, bIt, cIt) =>
            val srcs = bIt.next().srcs
            val comp = cIt.next()._1
            rIt.map { case (_, (from, ls)) =>
              (from, (ls, ls.map(l => comp(java.util.Arrays.binarySearch(srcs, l)))))
            }
        }
      val next = replies.partitionBy(ip)
        .zipPartitions(g.blocks, state, stepped, preservesPartitioning = true) {
          (rIt, bIt, sIt, cIt) =>
            val srcs = bIt.next().srcs
            val prev = sIt.next()._1
            val (comp, wanted) = cIt.next()
            val resolved = new Array[Long](wanted.length)
            rIt.foreach { case (_, (ls, cs)) =>
              var j = 0
              while (j < ls.length) {
                resolved(java.util.Arrays.binarySearch(wanted, ls(j))) = cs(j)
                j += 1
              }
            }
            val out = new Array[Long](comp.length)
            val moved = new Array[Boolean](comp.length)
            var n = 0L
            var i = 0
            while (i < comp.length) {
              out(i) =
                if (comp(i) == srcs(i)) comp(i)
                else resolved(java.util.Arrays.binarySearch(wanted, comp(i)))
              if (out(i) != prev(i)) { moved(i) = true; n += 1 }
              i += 1
            }
            acc.add((TaskContext.getPartitionId(), n.toLong))
            Iterator.single((out, moved))
        }
      changed = CsrLabels.materialize(next, acc)
      stepped.unpersist(false)
      state.unpersist(false)
      state = next
      rounds += 1
    }
    (CsrLabels.toDF(spark, g, state.map(_._1), "component"), rounds)
  }

  /** Sorted distinct labels other than the vertex's own id. */
  private def foreignLabels(srcs: Array[Long], comp: Array[Long]): Array[Long] = {
    val b = new scala.collection.mutable.ArrayBuilder.ofLong
    var i = 0
    while (i < comp.length) { if (comp(i) != srcs(i)) b += comp(i); i += 1 }
    val a = b.result()
    java.util.Arrays.sort(a)
    var n = 0
    i = 0
    while (i < a.length) {
      if (n == 0 || a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(a, n)
  }
}
