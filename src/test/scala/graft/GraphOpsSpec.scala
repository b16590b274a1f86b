package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.EdgeOps

class GraphOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** `df`'s rows as a multiset: no (src, dst) row twice, and exactly `want`. */
  def assertRows(df: org.apache.spark.sql.DataFrame, want: Set[(Long, Long)]): Unit = {
    val rows = df.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length === rows.distinct.length, s"duplicate rows: ${rows.toSeq}")
    assert(rows.toSet === want)
  }

  test("simple: duplicate (u,v) inserts collapse (LazyBitset merge semantics)") {
    val e = TestSpark.edgesDf(spark, Seq((1L, 2L), (1L, 2L), (2L, 3L)))
    assert(pairs(EdgeOps.simple(e)) === Set((1L, 2L), (2L, 3L)))
  }

  test("withSelfLoops adds (u,u) for every vertex incl. isolated dictionary ids") {
    val e = TestSpark.edgesDf(spark, Seq((1L, 2L)))
    val verts = Seq(1L, 2L, 7L).toDF("id")
    assert(pairs(EdgeOps.withSelfLoops(e, verts)) ===
      Set((1L, 2L), (1L, 1L), (2L, 2L), (7L, 7L)))
  }

  test("degrees and linksWithDeg carry the PR divisor") {
    val e = TestSpark.edgesDf(spark, Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    val lwd = EdgeOps.linksWithDeg(e).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(lwd === Map((1L, 2L) -> 2L, (1L, 3L) -> 2L, (2L, 3L) -> 1L))
  }

  test("symmetrize produces both directions, deduped") {
    val e = TestSpark.edgesDf(spark, Seq((1L, 2L), (2L, 1L), (2L, 3L)))
    assert(pairs(EdgeOps.symmetrize(e)) ===
      Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)))
  }

  test("applyBatch: deletions then insertions, deleting a non-existent edge is a no-op") {
    val base = TestSpark.edgesDf(spark, Seq((1L, 2L), (2L, 3L)))
    val ins = TestSpark.edgesDf(spark, Seq((3L, 4L), (2L, 3L)))
    val del = TestSpark.edgesDf(spark, Seq((1L, 2L), (9L, 9L)))
    assert(pairs(EdgeOps.applyBatch(base, ins, del)) ===
      Set((2L, 3L), (3L, 4L)))
  }

  test("insert-then-delete of the same edge is identity") {
    val base = TestSpark.edgesDf(spark, Seq((1L, 2L), (2L, 3L)))
    val e = TestSpark.edgesDf(spark, Seq((5L, 6L)))
    val none = TestSpark.edgesDf(spark, Seq.empty[(Long, Long)])
    val y = EdgeOps.applyBatch(EdgeOps.applyBatch(base, e, none), none, e)
    assert(pairs(y) === pairs(base))
  }

  test("tidyInsertions keeps only new edges; tidyDeletions only existing ones (B4-B7)") {
    val base = TestSpark.edgesDf(spark, Seq((1L, 2L), (2L, 3L)))
    val batch = TestSpark.edgesDf(spark, Seq((1L, 2L), (4L, 5L), (4L, 5L)))
    assert(pairs(EdgeOps.tidyInsertions(batch, base)) === Set((4L, 5L)))
    assert(pairs(EdgeOps.tidyDeletions(batch, base)) === Set((1L, 2L)))
  }

  test("applyBatch and the tidies return each edge once (multiset, not set)") {
    val base = TestSpark.edgesDf(spark, Seq((1L, 2L), (2L, 3L), (3L, 3L)))
    val none = TestSpark.edgesDf(spark, Seq.empty[(Long, Long)])
    // insertions already present in the base, and repeated insertion rows
    val ins = TestSpark.edgesDf(spark, Seq((1L, 2L), (4L, 5L), (4L, 5L), (3L, 3L)))
    assertRows(EdgeOps.applyBatch(base, ins, none),
      Set((1L, 2L), (2L, 3L), (3L, 3L), (4L, 5L)))
    assertRows(EdgeOps.tidyInsertions(ins, base), Set((4L, 5L)))
    assertRows(EdgeOps.tidyDeletions(ins, base), Set((1L, 2L), (3L, 3L)))
    // a batch that deletes and re-inserts an existing edge keeps it once;
    // the deletion that matches nothing is a no-op
    val del = TestSpark.edgesDf(spark, Seq((2L, 3L), (1L, 2L), (9L, 9L)))
    val reIns = TestSpark.edgesDf(spark, Seq((2L, 3L), (2L, 3L)))
    assertRows(EdgeOps.applyBatch(base, reIns, del), Set((2L, 3L), (3L, 3L)))
    assertRows(EdgeOps.tidyDeletions(del, base), Set((1L, 2L), (2L, 3L)))
    assertRows(EdgeOps.tidyInsertions(del, base), Set((9L, 9L)))
    // empty deletions, empty insertions, an empty batch
    assertRows(EdgeOps.applyBatch(base, none, none), Set((1L, 2L), (2L, 3L), (3L, 3L)))
    assertRows(EdgeOps.applyBatch(base, none, del), Set((3L, 3L)))
    assertRows(EdgeOps.tidyInsertions(none, base), Set.empty)
    assertRows(EdgeOps.tidyDeletions(none, base), Set.empty)
  }

  test("40 chained applyBatch(..).ckpt() keep the base's partition count") {
    import graft.util.Ckpt._
    val start = (0L until 60L).map(i => (i, (i * 7) % 60))
    var x = TestSpark.edgesDf(spark, start).repartition(3).ckpt()
    var want = start.toSet
    for (k <- 0L until 40L) {
      val ins = Seq((k, (k * 7 + 1) % 60), (k, (k * 7 + 1) % 60), (k, (k * 7) % 60))
      val del = Seq(((k + 1) % 60, ((k + 1) * 7) % 60))
      x = EdgeOps.applyBatch(x, TestSpark.edgesDf(spark, ins),
        TestSpark.edgesDf(spark, del)).ckpt()
      want = want -- del ++ ins
      assert(x.rdd.getNumPartitions === 3, s"batch $k")
    }
    assertRows(x, want)
  }

  test("removeVertices drops the vertex and every edge touching it (C4)") {
    val base = TestSpark.edgesDf(spark,
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 2L), (5L, 5L)))
    import spark.implicits._
    val got = pairs(EdgeOps.removeVertices(base, Seq(2L, 5L).toDF("id")))
    assert(got === Set((3L, 1L)))
  }

  test("randomDeletions is a deterministic seeded sample of existing edges") {
    val base = TestSpark.edgesDf(spark, (1L to 50L).map(i => (i, i + 1)))
    val a = pairs(EdgeOps.randomDeletions(base, 5, seed = 42L))
    val b = pairs(EdgeOps.randomDeletions(base, 5, seed = 42L))
    assert(a === b && a.size === 5)
    assert(a.subsetOf(pairs(base)))
  }
}
