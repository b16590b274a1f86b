package graft.streaming

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.graph.EdgeOps
import graft.util.Ckpt._
import graft.model.PagerankOptions
import graft.pagerank.{CsrDynamic, CsrPageRank}
import graft.pagerank.CsrPageRank.CsrGraph
import graft.pagerank.CsrDynamic.CsrState

/** Structured-Streaming front end for dynamic PageRank.
  *
  * The reference consumes a temporal edge file in prefix order and applies
  * batches (/root/reference/main.cxx:74-106). The streaming analog:
  * `readStream` over a staged-edge directory (one file ≈ one batch),
  * `foreachBatch` applying each micro-batch as an edge batch — insertions,
  * plus DELETIONS when the rows carry `op = 'del'` (the DF marking rule
  * consumes deletions, /root/reference/inc/pagerank.hxx:631-637) — and
  * re-ranking with the Dynamic Frontier variant against the previous ranks:
  * exactly the reference's per-batch loop (§3.2), driven by Spark's source
  * sequencing, checkpointing and exactly-once batch replay.
  *
  * The re-rank runs on a CARRIED [[CsrDynamic]] engine: the frozen CSR
  * graph + per-partition (rank, S, flag) state advance by in-place splice
  * per micro-batch — O(frontier) supersteps, no per-batch refreeze. A batch
  * that grows the vertex universe re-freezes the grown graph and re-ranks
  * it with Naive-dynamic, whose state the next batch carries on.
  *
  * Durability & resume (north rule): with `opts.checkpointDir` set, every
  * COMPLETED batch appends its normalized batch rows and its converged rank
  * vector under `<dir>/stream/` plus a STREAM_MANIFEST.jsonl line. After a
  * kill, [[IncrementalPageRank.resume]] rebuilds the edge set by folding the
  * logged batches and warm-starts from the last completed batch's ranks;
  * Spark's own offset log then replays only the uncommitted micro-batch
  * (foreachBatch commits AFTER applyBatch returns, so our log and the offset
  * log always agree on the last completed batch). Without a checkpointDir,
  * [[run]] fails fast when the stream checkpoint already exists but the
  * in-memory state is empty — silently bootstrapping static PageRank from
  * one mid-stream micro-batch would produce wrong ranks with no error.
  */
/** @param vertexUniverse all vertex ids known upfront (the url dictionary).
  *   Mirrors the reference's eager vertex range — the temporal loader adds
  *   vertices 1..rows BEFORE any batch (/root/reference/inc/snap.hxx:133) and
  *   self-loops cover them all (/root/reference/main.cxx:127-128), so N (and
  *   the teleport term C0=(1−P)/N) never changes across batches. Without a
  *   fixed universe, vertices introduced mid-stream would silently change C0
  *   for never-swept vertices, breaking the DF approximation guarantee. */
/** @param compactEvery every `compactEvery` completed batches the durable
  *   log also writes a CONSOLIDATED edge snapshot (the folded edge set, incl.
  *   self-loops over the grown universe) and marks it in the manifest;
  *   [[restore]] then reads 1 snapshot + the suffix of batches after it
  *   instead of replaying the whole log — without compaction a long-lived
  *   stream's restart cost grows O(total batches) (one Spark job per logged
  *   batch; hours at N≈10⁴), with it the restart reads ≤ compactEvery
  *   batch files regardless of stream age. */
class IncrementalPageRank(spark: SparkSession,
    vertexUniverse: DataFrame,
    opts: PagerankOptions = PagerankOptions(),
    compactEvery: Int = 25) {

  @volatile private var edges: DataFrame = _
  @volatile private var ranks: DataFrame = _
  @volatile private var batchesApplied: Int = 0
  /** Current vertex universe — starts at `vertexUniverse` and GROWS when a
    * batch introduces novel endpoints (see [[growUniverse]]). */
  @volatile private var universe: DataFrame = vertexUniverse
  /** Carried CSR engine state: the frozen graph + per-partition (rank, S,
    * flag) blocks advanced by in-place splice per micro-batch. Set by every
    * batch; only [[restore]] leaves it empty, and the next batch re-freezes
    * the restored edge set. */
  @volatile private var csrG: CsrGraph = _
  @volatile private var csrSt: org.apache.spark.rdd.RDD[CsrState] = _

  def currentRanks: DataFrame = ranks
  def currentEdges: DataFrame = edges
  def batches: Int = batchesApplied

  private def streamDir: Option[String] = opts.checkpointDir.map(_ + "/stream")

  /** Split a micro-batch into (insertions, deletions): rows with an
    * `op = 'del'` column are deletions; everything else inserts.
    *
    * Self-loop deletions are dropped HERE — before ANY consumer of the
    * batch — because every vertex keeps its self-loop (engine invariant,
    * /root/reference/main.cxx:127-128). Filtering only inside the CSR
    * splice (as before r4) let the `edges` DataFrame and the carried CSR
    * graph diverge on such a batch: a later refreeze (growth, resume)
    * would then silently rank a different graph. */
  private def split(batch: DataFrame): (DataFrame, DataFrame) = {
    val b = batch
    // NULL op = insert (a plain (src,dst,seq) file read through the
    // op-aware stream schema must behave exactly like the op-less path).
    val (ins, del) =
      if (b.columns.contains("op"))
        (b.where(coalesce(col("op"), lit("ins")) =!= "del").select("src", "dst"),
          b.where(col("op") === "del").select("src", "dst"))
      else (b.select("src", "dst"), b.limit(0).select("src", "dst"))
    (ins, del.where(col("src") =!= col("dst")))
  }

  /** Grow the universe by the batch's novel endpoints. Returns true when it
    * grew. Scale shape: the batch side is O(|batch|) and broadcast on BOTH
    * scans of the big universe table — no |V|-sized shuffle. */
  private def growUniverse(ins: DataFrame, del: DataFrame): Boolean = {
    val touched = EdgeOps.vertices(ins.select("src", "dst")
      .union(del.select("src", "dst")))
    val known = universe.join(broadcast(touched), Seq("id"), "left_semi")
    val novel = touched.join(broadcast(known), Seq("id"), "left_anti").ckpt()
    if (novel.isEmpty) false
    else {
      universe = universe.union(novel).ckpt()
      true
    }
  }

  /** Apply one batch (insertions + optional deletions) to the running state.
    *
    * Universe growth policy (the reference has a FIXED eager universe,
    * /root/reference/inc/snap.hxx:133; a real evolving web corpus does not):
    * when a batch introduces vertices outside the known universe, the
    * universe grows, the novel vertices get their self-loops, and — because
    * N (hence the teleport term C0=(1−P)/N) changed, which invalidates the
    * Dynamic Frontier approximation for every unswept vertex — the batch is
    * re-ranked with Naive-dynamic (warm init, novel vertices start at 0.0,
    * full sweep): the documented rebuild trigger. Subsequent batches with no
    * novel endpoints resume the O(frontier) DF path. */
  def applyBatch(batch: DataFrame): Unit = synchronized {
    val dyn = new CsrDynamic(spark, opts)
    val (ins, del) = split(batch)
    val grew = growUniverse(ins, del)
    if (edges == null) {
      // first batch bootstraps the base graph — static rank over the full
      // vertex universe (self-loops for every known vertex, like the
      // reference driver's pre-step)
      edges = EdgeOps.withSelfLoops(
        EdgeOps.applyBatch(ins.limit(0), ins, del), universe)
        .ckpt()
      val g = new CsrPageRank(spark, opts).build(edges)
      val (run, st) = dyn.staticWithState(g)
      carry(g, st)
      ranks = run.ranks
    } else if (grew) {
      // universe grew ⇒ N and C0 changed ⇒ warm full re-rank of the grown
      // graph: Naive-dynamic, every universe vertex a fixed seed
      val y = EdgeOps.withSelfLoops(EdgeOps.applyBatch(edges, ins, del),
        universe).ckpt()
      val g = new CsrPageRank(spark, opts).build(y)
      val st0 = dyn.stateFromRanks(g, ranks)
      val (run, st) = dyn.runFromSeeds(g, st0, universe, prune = false,
        fixedFrontier = true)
      st0.unpersist(false)
      carry(g, st)
      ranks = run.ranks
      edges = y
    } else {
      if (csrG == null) bootstrapCsr(edges)
      // splice contract: insertions absent from x, deletions present
      // (self-loop deletions were already dropped in split()). A deletion
      // the same batch re-inserts leaves the edge in place
      // (EdgeOps.applyBatch deletes first), so it is no deletion here.
      // Both tidies return local relations; the edge table advances by the
      // same tidied pair, so the raw batch is collected once.
      val insT = EdgeOps.tidyInsertions(ins, edges)
      val delT = EdgeOps.tidyDeletions(
        del.join(ins, Seq("src", "dst"), "left_anti"), edges)
      val (g2, run, st2) = dyn.applyBatch(csrG, csrSt, insT, delT,
        prune = false)
      carry(g2, st2)
      ranks = run.ranks
      edges = EdgeOps.applyBatch(edges, insT, delT).ckpt()
    }
    batchesApplied += 1
    persistCompletedBatch(batch)
  }

  /** Install the next carried (graph, state) pair and release the old one. */
  private def carry(g: CsrGraph, st: org.apache.spark.rdd.RDD[CsrState]): Unit = {
    if (csrG != null) csrG.blocks.unpersist(false)
    if (csrSt != null) csrSt.unpersist(false)
    csrG = g; csrSt = st
  }

  /** Freeze the restored edge set and align the restored ranks — the
    * carried CSR engine's re-entry point after [[restore]]. */
  private def bootstrapCsr(x: DataFrame): Unit = {
    val g = new CsrPageRank(spark, opts).build(x)
    carry(g, new CsrDynamic(spark, opts).stateFromRanks(g, ranks))
  }

  /** Durable per-batch log: normalized batch rows + converged ranks +
    * manifest line — written only AFTER the re-rank succeeded. Every
    * `compactEvery` batches the line additionally records a consolidated
    * edge SNAPSHOT so [[restore]] replays only the suffix (log compaction —
    * the snapshot is the folded prefix; older batch files become dead
    * weight for restore but are kept for audit). */
  private def persistCompletedBatch(batch: DataFrame): Unit =
    streamDir.foreach { dir =>
      val tag = f"${batchesApplied - 1}%05d"
      val b = if (batch.columns.contains("op"))
        batch.select(col("src"), col("dst"), col("op"))
      else batch.select(col("src"), col("dst"), lit("ins").as("op"))
      b.write.mode("overwrite").parquet(s"$dir/batch_$tag")
      ranks.write.mode("overwrite").parquet(s"$dir/ranks_$tag")
      val snapField =
        if (compactEvery > 0 && batchesApplied % compactEvery == 0) {
          edges.write.mode("overwrite").parquet(s"$dir/snap_$tag")
          s""","snapshotPath":"$dir/snap_$tag""""
        } else ""
      Files.createDirectories(Paths.get(dir))
      Files.writeString(Paths.get(s"$dir/STREAM_MANIFEST.jsonl"),
        s"""{"batch":${batchesApplied - 1},"batchPath":"$dir/batch_$tag","ranksPath":"$dir/ranks_$tag"$snapField}""" + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }

  /** Batch files replayed by the last [[restore]] (observability + the
    * compaction spec's read-bound assertion). */
  @volatile private var lastReplayed: Int = 0
  def lastRestoreReplayedBatches: Int = lastReplayed

  /** Rebuild in-memory state from the stream log (no-op without one).
    * Starts from the latest logged edge SNAPSHOT when one exists — the
    * universe is recovered as the snapshot's vertex set (every universe
    * vertex carries a self-loop, an engine invariant) — and replays only
    * the batches after it.
    * @return number of completed batches restored (total, not replayed) */
  def restore(): Int = synchronized {
    val dir = streamDir.getOrElse(return 0)
    val mf = Paths.get(s"$dir/STREAM_MANIFEST.jsonl")
    if (!Files.exists(mf)) return 0
    val lines = Files.readAllLines(mf)
    if (lines.isEmpty) return 0
    val nBatches = lines.size
    import scala.jdk.CollectionConverters._
    val snapRe = """"batch":(\d+).*"snapshotPath":"([^"]+)"""".r.unanchored
    val lastSnap: Option[(Int, String)] = lines.asScala.reverseIterator
      .collectFirst { case snapRe(i, p) => (i.toInt, p) }
    var e: DataFrame = null
    var from = 0
    lastSnap.foreach { case (i, path) =>
      e = spark.read.parquet(path).ckpt()
      universe = EdgeOps.vertices(e).ckpt()
      from = i + 1
    }
    // Fold the remaining logged batches into the edge set, in order
    // (insert+delete+universe-growth semantics identical to the live path).
    lastReplayed = nBatches - from
    for (i <- from until nBatches) {
      val b = spark.read.parquet(f"$dir/batch_$i%05d")
      // same normalization as the live path (incl. the self-loop-deletion
      // drop) so replayed state is bit-identical to pre-kill state
      val (ins, del) = split(b)
      val grew = growUniverse(ins, del)
      e =
        if (e == null)
          EdgeOps.withSelfLoops(EdgeOps.applyBatch(ins.limit(0), ins, del),
            universe).ckpt()
        else if (grew)
          EdgeOps.withSelfLoops(EdgeOps.applyBatch(e, ins, del), universe)
            .ckpt()
        else EdgeOps.applyBatch(e, ins, del).ckpt()
    }
    edges = e
    ranks = spark.read.parquet(f"$dir/ranks_${nBatches - 1}%05d").ckpt()
    batchesApplied = nBatches
    nBatches
  }

  /** Run over a directory of staged-edge parquet files, one file per
    * trigger (the deterministic batch replay). Returns the query; callers
    * use `processAllAvailable()` for synchronous tests.
    *
    * Fails fast on an inconsistent restart: a pre-existing stream checkpoint
    * means committed batches will NOT be re-delivered — continuing with
    * empty in-memory state would silently re-bootstrap from a mid-stream
    * batch. Construct via [[IncrementalPageRank.resume]] (with
    * opts.checkpointDir) first. */
  def run(stagedDir: String, streamCheckpointDir: String): StreamingQuery = {
    val ckptExists = Files.exists(Paths.get(streamCheckpointDir, "offsets"))
    if (ckptExists && edges == null)
      throw new IllegalStateException(
        s"stream checkpoint $streamCheckpointDir exists but engine state is " +
          "empty — restore() from PagerankOptions.checkpointDir (or use " +
          "IncrementalPageRank.resume) before restarting the stream")
    // `op` is part of the stream schema so deletion rows (op='del') arrive
    // through the streaming front end too, not only via direct applyBatch;
    // files without the column read it as NULL = insert (see split()).
    val schema = "src LONG, dst LONG, seq LONG, op STRING"
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stagedDir)
      .writeStream
      .option("checkpointLocation", streamCheckpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) => applyBatch(batch) }
      .start()
  }
}

object IncrementalPageRank {
  /** Construct and restore from the durable stream log in
    * `opts.checkpointDir` (if any) — the resume entry point after a kill. */
  def resume(spark: SparkSession, vertexUniverse: DataFrame,
      opts: PagerankOptions): IncrementalPageRank = {
    val inst = new IncrementalPageRank(spark, vertexUniverse, opts)
    inst.restore()
    inst
  }
}
