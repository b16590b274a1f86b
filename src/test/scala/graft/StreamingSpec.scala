package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.EdgeOps
import graft.ingest.WebGraphFixture
import graft.pagerank.PageRank
import graft.streaming.IncrementalPageRank

/** Streaming replay of the reference's batch loop: after consuming all
  * batches, the incrementally-maintained ranks must allclose the fresh
  * static ranks on the final graph (the reference's own acceptance metric,
  * /root/reference/main.cxx:55,85). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("foreachBatch incremental PageRank converges to the static ranks of the final graph") {
    val P = 150L
    val staged = WebGraphFixture.edgesOnly(spark, P).toDF().cache()
    val m = staged.count()
    val cut1 = staged.orderBy("seq").limit((0.9 * m).toInt)
      .agg(max("seq")).collect()(0).getLong(0)
    val dir = Files.createTempDirectory("graft-stream").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    // two files: base (90%) then the insertion batch (10%)
    staged.where($"seq" <= cut1).coalesce(1).write.parquet(s"$dir/b0")
    staged.where($"seq" > cut1).coalesce(1).write.parquet(s"$dir/b1")
    // flatten into one dir (file source lists recursively only with glob)
    val flat = Files.createTempDirectory("graft-stream-flat").toString
    def mv(sub: String, name: String): Unit = {
      val f = new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, new java.io.File(s"$flat/$name").toPath)
    }
    mv("b0", "part-000.parquet")
    mv("b1", "part-001.parquet")

    val universe = EdgeOps.vertices(staged.select("src", "dst"))
    val inc = new IncrementalPageRank(spark, universe)
    val q = inc.run(flat, ckpt)
    q.awaitTermination()
    assert(inc.batches === 2)

    val got = TestSpark.collectRanks(inc.currentRanks)
    val verts = EdgeOps.vertices(staged.select("src", "dst"))
    val y = EdgeOps.withSelfLoops(EdgeOps.simple(staged.select("src", "dst")), verts)
    val want = TestSpark.collectRanks(new PageRank(spark).static(y).ranks)
    assert(got.keySet === want.keySet)
    assert(Oracle.allclose(got, want, 2e-6), s"maxDiff=${Oracle.maxDiff(got, want)}")
  }

  test("mixed insertion+deletion batch converges to the static ranks of the shrunk graph") {
    val P = 120L
    val staged = WebGraphFixture.edgesOnly(spark, P).toDF()
      .select("src", "dst").dropDuplicates("src", "dst").cache()
    val universe = EdgeOps.vertices(staged)
    val inc = new IncrementalPageRank(spark, universe)
    // batch 0: full graph (insertions)
    inc.applyBatch(staged)
    // batch 1: delete every non-self-loop edge with src % 7 == 0, insert two
    val del = staged.where($"src" % 7 === 0 && $"src" =!= $"dst")
      .withColumn("op", lit("del"))
    val ins = Seq((3L, 11L), (11L, 42L)).toDF("src", "dst")
      .join(staged, Seq("src", "dst"), "left_anti")
      .withColumn("op", lit("ins"))
    inc.applyBatch(ins.unionByName(del))
    assert(inc.batches === 2)

    val yFinal = EdgeOps.withSelfLoops(
      EdgeOps.applyBatch(staged, ins.select("src", "dst"), del.select("src", "dst")),
      universe)
    val want = TestSpark.collectRanks(new PageRank(spark).static(yFinal).ranks)
    val got = TestSpark.collectRanks(inc.currentRanks)
    assert(got.keySet === want.keySet)
    assert(Oracle.allclose(got, want, 2e-6), s"maxDiff=${Oracle.maxDiff(got, want)}")
  }

  test("self-loop deletions are ignored consistently (edges and CSR never diverge)") {
    val P = 90L
    val staged = WebGraphFixture.edgesOnly(spark, P).toDF()
      .select("src", "dst").dropDuplicates("src", "dst").cache()
    val universe = EdgeOps.vertices(staged)
    val inc = new IncrementalPageRank(spark, universe)
    inc.applyBatch(staged)
    // batch tries to delete vertex 5's self-loop plus one real edge
    val del = Seq((5L, 5L)).toDF("src", "dst")
      .union(staged.where($"src" =!= $"dst").limit(1))
      .withColumn("op", lit("del"))
    inc.applyBatch(del)
    // the self-loop survives in the carried edge DataFrame…
    assert(inc.currentEdges.where($"src" === 5 && $"dst" === 5).count() === 1,
      "self-loop must survive a deletion batch")
    // …and the ranks equal static over the graph WITHOUT the self-loop
    // removal (only the real edge deleted)
    val realDel = del.select("src", "dst").where($"src" =!= $"dst")
    val y = EdgeOps.withSelfLoops(
      EdgeOps.applyBatch(staged, staged.limit(0), realDel), universe)
    val want = TestSpark.collectRanks(new PageRank(spark).static(y).ranks)
    val got = TestSpark.collectRanks(inc.currentRanks)
    assert(Oracle.allclose(got, want, 2e-6), s"maxDiff=${Oracle.maxDiff(got, want)}")
  }

  test("mid-stream novel vertex: universe grows and ranks converge on the grown graph") {
    val P = 100L
    val staged = WebGraphFixture.edgesOnly(spark, P).toDF()
      .select("src", "dst").dropDuplicates("src", "dst").cache()
    val universe = EdgeOps.vertices(staged).cache()
    val inc = new IncrementalPageRank(spark, universe)
    inc.applyBatch(staged)

    // batch 1 introduces vertices P and P+1 — outside the declared universe,
    // as src, as dst, and linking to existing vertices
    val ins = Seq((5L, P), (P, 7L), (P + 1L, P)).toDF("src", "dst")
    inc.applyBatch(ins)

    val grown = universe.union(Seq(P, P + 1L).toDF("id"))
    val y1 = EdgeOps.withSelfLoops(
      EdgeOps.applyBatch(EdgeOps.withSelfLoops(staged, universe), ins,
        ins.limit(0)), grown)
    val want1 = TestSpark.collectRanks(new PageRank(spark).static(y1).ranks)
    val got1 = TestSpark.collectRanks(inc.currentRanks)
    assert(got1.keySet === want1.keySet)
    assert(got1.contains(P) && got1.contains(P + 1L))
    assert(Oracle.allclose(got1, want1, 2e-6),
      s"maxDiff=${Oracle.maxDiff(got1, want1)}")

    // a follow-up batch with no novel endpoints resumes the DF path and
    // stays correct over the grown universe
    val ins2 = Seq((P, 3L), (11L, P + 1L)).toDF("src", "dst")
      .join(inc.currentEdges, Seq("src", "dst"), "left_anti")
    inc.applyBatch(ins2)
    val y2 = EdgeOps.withSelfLoops(
      EdgeOps.applyBatch(y1, ins2, ins2.limit(0)), grown)
    val want2 = TestSpark.collectRanks(new PageRank(spark).static(y2).ranks)
    val got2 = TestSpark.collectRanks(inc.currentRanks)
    assert(got2.keySet === want2.keySet)
    assert(Oracle.allclose(got2, want2, 2e-6),
      s"maxDiff=${Oracle.maxDiff(got2, want2)}")
  }

  test("carried CSR streaming across mixed/growth batches matches static") {
    val P = 110L
    val staged = WebGraphFixture.edgesOnly(spark, P).toDF()
      .select("src", "dst").dropDuplicates("src", "dst").cache()
    val universe = EdgeOps.vertices(staged).cache()
    val inc = new IncrementalPageRank(spark, universe)

    // batch 0: bootstrap (CSR static); batch 1: insertions+deletions
    // (carried CSR splice); batch 2: novel vertex (growth → CSR refreeze +
    // warm full re-rank); batch 3: normal batch (splice of the carried
    // grown graph).
    inc.applyBatch(staged)
    val del = staged.where($"src" % 9 === 0 && $"src" =!= $"dst")
      .withColumn("op", lit("del"))
    val ins1 = Seq((2L, 33L), (33L, 71L)).toDF("src", "dst")
      .join(staged, Seq("src", "dst"), "left_anti").withColumn("op", lit("ins"))
    inc.applyBatch(ins1.unionByName(del))
    val ins2 = Seq((7L, P), (P, 5L)).toDF("src", "dst")
    inc.applyBatch(ins2)
    val ins3 = Seq((P, 13L), (21L, 2L)).toDF("src", "dst")
      .join(inc.currentEdges, Seq("src", "dst"), "left_anti")
    inc.applyBatch(ins3)
    assert(inc.batches === 4)

    val grown = universe.union(Seq(P).toDF("id"))
    val y1 = EdgeOps.withSelfLoops(
      EdgeOps.applyBatch(staged, ins1.select("src", "dst"),
        del.select("src", "dst")), universe)
    val y2 = EdgeOps.withSelfLoops(
      EdgeOps.applyBatch(y1, ins2, ins2.limit(0)), grown)
    val y3 = EdgeOps.applyBatch(y2, ins3, ins3.limit(0))
    val want = TestSpark.collectRanks(new PageRank(spark).static(y3).ranks)
    val got = TestSpark.collectRanks(inc.currentRanks)
    assert(got.keySet === want.keySet)
    assert(Oracle.allclose(got, want, 2e-6),
      s"maxDiff=${Oracle.maxDiff(got, want)}")
  }

  test("kill/resume: restore() rebuilds edges+ranks from the stream log; fresh run fails fast") {
    import graft.model.PagerankOptions
    val P = 100L
    val staged = WebGraphFixture.edgesOnly(spark, P).toDF()
      .select("src", "dst").dropDuplicates("src", "dst").cache()
    val universe = EdgeOps.vertices(staged).cache()
    val ckptDir = Files.createTempDirectory("graft-inc-ckpt").toString
    val opts = PagerankOptions(checkpointDir = Some(ckptDir))

    val inc = new IncrementalPageRank(spark, universe, opts)
    val b0 = staged.where($"src" < 50)
    val b1 = staged.where($"src" >= 50)
    inc.applyBatch(b0)
    inc.applyBatch(b1)

    // "kill": a brand-new instance restores both batches from the log
    val revived = IncrementalPageRank.resume(spark, universe, opts)
    assert(revived.batches === 2)
    val got = TestSpark.collectRanks(revived.currentRanks)
    val want = TestSpark.collectRanks(inc.currentRanks)
    assert(Oracle.allclose(got, want, 0.0))
    assert(TestSpark.collectRanks(revived.currentEdges
      .groupBy("src").count().select(col("src").as("id"), col("count").cast("double").as("rank")))
      === TestSpark.collectRanks(inc.currentEdges
        .groupBy("src").count().select(col("src").as("id"), col("count").cast("double").as("rank"))))

    // fail-fast: restart over an existing stream checkpoint with EMPTY state
    val streamCkpt = Files.createTempDirectory("graft-stream-ckpt2")
    Files.createDirectories(streamCkpt.resolve("offsets"))
    val fresh = new IncrementalPageRank(spark, universe)
    val ex = intercept[IllegalStateException] {
      fresh.run("/nonexistent-staged-dir", streamCkpt.toString)
    }
    assert(ex.getMessage.contains("restore()"))
  }

  test("restore() compaction: a 34-batch log restores from the latest snapshot + suffix") {
    import graft.model.PagerankOptions
    val P = 60L
    val staged = WebGraphFixture.edgesOnly(spark, P).toDF()
      .select("src", "dst").dropDuplicates("src", "dst").cache()
    val universe = EdgeOps.vertices(staged).cache()
    val ckptDir = Files.createTempDirectory("graft-inc-compact").toString
    val opts = PagerankOptions(checkpointDir = Some(ckptDir))
    val inc = new IncrementalPageRank(spark, universe, opts, compactEvery = 10)

    // bootstrap + 32 singleton insertion batches + 1 deletion batch = 34
    // completed batches; snapshots land after batches 10, 20, 30
    val extras = staged.where($"src" =!= $"dst").limit(32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(extras.size === 32)
    val extrasDf = extras.toDF("src", "dst")
    inc.applyBatch(staged.join(extrasDf, Seq("src", "dst"), "left_anti"))
    extras.foreach { case (s0, d0) =>
      inc.applyBatch(Seq((s0, d0)).toDF("src", "dst"))
    }
    inc.applyBatch(extras.take(2).toDF("src", "dst")
      .withColumn("op", lit("del")))
    assert(inc.batches === 34)

    val revived = IncrementalPageRank.resume(spark, universe, opts)
    assert(revived.batches === 34)
    // the log has 34 batches but restore must fold only the snapshot at
    // batch index 29 plus the 4-batch suffix — never the whole log
    assert(revived.lastRestoreReplayedBatches === 4)
    assert(revived.lastRestoreReplayedBatches < 10)
    // and the restored state is identical to the live instance's
    val got = TestSpark.collectRanks(revived.currentRanks)
    val want = TestSpark.collectRanks(inc.currentRanks)
    assert(Oracle.allclose(got, want, 0.0))
    assert(revived.currentEdges.count() === inc.currentEdges.count())
    assert(revived.currentEdges.join(inc.currentEdges,
      Seq("src", "dst"), "left_anti").count() === 0)
  }
}
