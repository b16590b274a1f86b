package graft.algos

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pagerank.CsrPageRank
import graft.pagerank.CsrPageRank.{IdxPartitioner, PartitionAcc}

/** Synchronous label propagation (community detection), run on the
  * partition-local CSR blocks of [[graft.pagerank.CsrPageRank.build]].
  *
  * Semantics (SURVEY.md §2.9, fixed so outputs are exactly checkable):
  * init label = vertex id; each synchronous round every vertex adopts the
  * MODE (most frequent) label among its neighbors on the symmetrized graph,
  * ties broken by the SMALLEST label — fully deterministic. Runs at most
  * `rounds` rounds (sync LP on bipartite-ish structures can oscillate, so
  * a round cap is the deterministic, published-definition choice) and stops
  * after the first round that changes no label.
  *
  * Each round is ONE Spark job with ONE exchange: every vertex sends its
  * label along its out-edges as packed (dstIdx, label) arrays per target
  * partition; the receiving partition buckets the labels by local vertex
  * (counting sort over the block's vertex array), sorts each bucket and
  * takes its longest run — the smallest label on ties, since runs are
  * scanned in ascending order. A vertex that receives nothing keeps its
  * label. Changed labels are counted by a per-partition
  * overwrite-idempotent accumulator, which drives the early stop.
  */
object LabelPropagation {

  def run(spark: SparkSession, symEdges: DataFrame,
      rounds: Int = 10): DataFrame = {
    val sc = spark.sparkContext
    val g = new CsrPageRank(spark).build(symEdges)
    val parts = g.vCounts.length
    val ip = new IdxPartitioner(parts)

    var labels: RDD[Array[Long]] = g.blocks.map(_.srcs)
    var r = 0
    var changed = 1L
    while (r < rounds && changed > 0) {
      val acc = new PartitionAcc[Long]
      sc.register(acc)
      val next = g.blocks.zipPartitions(labels, preservesPartitioning = false) {
        (bIt, lIt) => CsrLabels.push(bIt.next(), lIt.next(), null, parts)
      }.partitionBy(ip)
        .zipPartitions(labels, preservesPartitioning = true) { (mIt, lIt) =>
          val old = lIt.next()
          val got = mIt.map(_._2).toArray
          val n = old.length
          // bucket the received labels by local vertex: start(v) until
          // start(v + 1) is v's slice of `bucket`
          val start = new Array[Int](n + 1)
          got.foreach { case (idxs, _) =>
            var j = 0
            while (j < idxs.length) { start(idxs(j) + 1) += 1; j += 1 }
          }
          var v = 0
          while (v < n) { start(v + 1) += start(v); v += 1 }
          val fill = start.clone()
          val bucket = new Array[Long](start(n))
          got.foreach { case (idxs, ls) =>
            var j = 0
            while (j < idxs.length) {
              bucket(fill(idxs(j))) = ls(j)
              fill(idxs(j)) += 1
              j += 1
            }
          }
          val out = new Array[Long](n)
          var moved = 0L
          v = 0
          while (v < n) {
            out(v) =
              if (start(v) == start(v + 1)) old(v)
              else mode(bucket, start(v), start(v + 1))
            if (out(v) != old(v)) moved += 1
            v += 1
          }
          acc.add((TaskContext.getPartitionId(), moved.toLong))
          Iterator.single(out)
        }
      changed = CsrLabels.materialize(next, acc)
      labels.unpersist(false)
      labels = next
      r += 1
    }
    CsrLabels.toDF(spark, g, labels, "label")
  }

  /** Most frequent label in a(from until to), the smallest on ties. Sorts
    * that range in place. */
  private def mode(a: Array[Long], from: Int, to: Int): Long = {
    java.util.Arrays.sort(a, from, to)
    var best = a(from)
    var bestN = 0
    var i = from
    while (i < to) {
      var j = i
      while (j < to && a(j) == a(i)) j += 1
      if (j - i > bestN) { best = a(i); bestN = j - i }
      i = j
    }
    best
  }
}
