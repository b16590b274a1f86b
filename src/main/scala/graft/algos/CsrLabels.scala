package graft.algos

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.pagerank.CsrPageRank.{CsrBlock, CsrGraph, PartitionAcc}

/** Plumbing shared by the label algorithms that run on the frozen CSR blocks
  * of [[graft.pagerank.CsrPageRank.build]] ([[ConnectedComponents]],
  * [[LabelPropagation]]):
  * one `Array[Long]` label block per partition, aligned to the block's
  * sorted vertex array, and packed per-target-partition label pushes. The
  * input is symmetrized, so every vertex is a src: it gets a slot, and every
  * out-edge resolves to one. */
private[algos] object CsrLabels {

  /** Labels for one target partition: (local vertex idxs, labels). */
  type Labels = (Array[Int], Array[Long])

  /** For every vertex `i` with `send(i)`, one `(dstIdx, label(i))` pair per
    * out-edge, bucketed by the destination partition (empty buckets
    * skipped). `send == null` selects every vertex. */
  def push(b: CsrBlock, label: Array[Long], send: Array[Boolean],
      parts: Int): Iterator[(Int, Labels)] = {
    val idxs = Array.fill(parts)(new scala.collection.mutable.ArrayBuilder.ofInt)
    val ls = Array.fill(parts)(new scala.collection.mutable.ArrayBuilder.ofLong)
    var i = 0
    while (i < b.srcs.length) {
      if (send == null || send(i)) {
        val l = label(i)
        var e = b.offsets(i)
        while (e < b.offsets(i + 1)) {
          idxs(b.dstPart(e)) += b.dstIdx(e)
          ls(b.dstPart(e)) += l
          e += 1
        }
      }
      i += 1
    }
    (0 until parts).iterator.map(q => (q, (idxs(q).result(), ls(q).result())))
      .filter(_._2._1.nonEmpty)
  }

  /** Persist and materialize one round's labels in ONE job, truncating
    * their lineage at that job (registered before it runs, or the truncation
    * is a no-op), and return the round's changed-label count. */
  def materialize(next: RDD[_], changed: PartitionAcc[Long]): Long = {
    next.persist(StorageLevel.MEMORY_AND_DISK)
    next.localCheckpoint()
    next.count()
    changed.value.values.sum
  }

  /** (id, `name`) rows of the final label blocks. */
  def toDF(spark: SparkSession, g: CsrGraph, labels: RDD[Array[Long]],
      name: String): DataFrame = {
    import spark.implicits._
    g.blocks.zipPartitions(labels, preservesPartitioning = false) {
      (bIt, lIt) => bIt.next().srcs.iterator.zip(lIt.next().iterator)
    }.toDF("id", name)
  }
}
