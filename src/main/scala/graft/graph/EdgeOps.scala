package graft.graph

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._

import graft.ingest.{DenseId, LinkExtractor, WebGraphFixture}

/** Graph construction, maintenance and transforms over `Dataset[Edge]`-shaped
  * DataFrames (columns `src: long, dst: long`).
  *
  * The reference's mutable `DiGraph` + lazy batched adjacency
  * (/root/reference/inc/Graph.hxx:17-372, inc/_bitset.hxx:227-262) maps to
  * immutable edge DataFrames: a "snapshot" is just a retained DataFrame, and
  * `update()` ([[applyBatch]]) is one narrow pass that filters out the
  * batch's edges and adds its insertions back, materialized once per batch
  * by the caller (SURVEY.md §2.2 C7). Batch upkeep shuffles O(batch) bytes
  * — none — like the reference's (inc/batch.hxx:153-247): the batch is
  * collected on the driver and filters the edge table as an InSet that
  * ships with every task (a broadcast filter), so the table is scanned in
  * place and no exchange or adaptive query stage is planned. Three
  * contracts follow:
  *  - the base edge table is SIMPLE (no duplicate (src, dst) rows; every
  *    table [[simple]], [[withSelfLoops]] or [[applyBatch]] returns is);
  *  - the base is checkpointed or local: [[applyBatch]] reads its partition
  *    count, which for a plan with exchanges runs their query stages under
  *    adaptive execution (one extra job, still correct);
  *  - a batch fits on the driver, as a broadcast side must: the tidies and
  *    [[applyBatch]] collect it (no job when it is a local relation, as
  *    the tidies' results are).
  * Spark's hash partitioning by `src` gives the reference's owner-computes
  * rule (inc/_openmp.hxx:16-33) for free.
  */
object EdgeOps {

  /** pages table → (vertex dictionary, staged edge table with global seq).
    *
    * The staged table replays the reference's temporal protocol
    * (/root/reference/inc/snap.hxx:41-58): `seq` is a deterministic dense
    * total order over extracted links (page id, then in-document position);
    * base graph = first `baseFraction`·|E| rows, batches = consecutive
    * slices. Duplicates are kept here (like duplicate lines in a SNAP file);
    * dedupe happens at graph materialization ([[simple]]).
    */
  def stage(pages: DataFrame): (DataFrame, DataFrame) = {
    val links = LinkExtractor.links(pages)
    val dict = DenseId.urlDictionary(pages.select("url")).cache()
    val srcD = dict.withColumnRenamed("url", "src_url").withColumnRenamed("id", "src")
    val dstD = dict.withColumnRenamed("url", "dst_url").withColumnRenamed("id", "dst")
    // Links to urls outside the corpus are dropped (inner join) — the
    // reference's id space is likewise closed (vertices 1..rows,
    // /root/reference/inc/snap.hxx:133).
    val edges = links.join(srcD, "src_url").join(dstD, "dst_url")
      .select(col("src"), col("dst"),
        (col("src") * WebGraphFixture.MaxOutDegree + col("pos")).as("okey"))
    val staged = DenseId.rankByKey(edges, "okey").select("src", "dst", "seq")
    (dict, staged)
  }

  /** Simple digraph: collapse duplicate (src,dst) — the reference's
    * `LazyBitset` merge dedupe (/root/reference/inc/_bitset.hxx:245-262). */
  def simple(edges: DataFrame): DataFrame = edges.dropDuplicates("src", "dst")

  /** All vertex ids appearing in the edge set. */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()

  /** Add a self-loop (u,u) for every vertex — exactly the reference driver's
    * pre-step (/root/reference/main.cxx:127-128, inc/selfLoop.hxx:60-66),
    * which guarantees no dangling vertices so the PR kernel needs no
    * dangling-mass term. `allVertices` should include isolated ids (the
    * dictionary), mirroring the reference's eager vertex range. */
  def withSelfLoops(edges: DataFrame, allVertices: DataFrame): DataFrame =
    simple(edges.select("src", "dst")
      .union(allVertices.select(col("id").as("src"), col("id").as("dst"))))

  /** Out-degree per vertex (the PR divisor; reference pre-annotates it on
    * the transpose, /root/reference/inc/transpose.hxx:79-100). With
    * self-loops added, every vertex appears. */
  def degrees(edges: DataFrame): DataFrame =
    edges.groupBy("src").agg(count(lit(1)).as("outDeg"))

  /** Degree-annotated edge table — the engine's working representation of
    * the reference's degree-annotated transpose: grouping by `dst` in the
    * PR aggregation IS the transpose (SURVEY.md §2.4 T2), so no physical
    * edge reversal ever happens. */
  def linksWithDeg(edges: DataFrame): DataFrame =
    edges.join(degrees(edges), "src").select("src", "dst", "outDeg")

  /** Reverse all edges (/root/reference/inc/transpose.hxx:16-34). */
  def transpose(edges: DataFrame): DataFrame =
    edges.select(col("dst").as("src"), col("src").as("dst"))

  /** Undirected view: edges ∪ reversed, deduped
    * (/root/reference/inc/symmetrize.hxx:14-83). Needed by CC/LP/TC. */
  def symmetrize(edges: DataFrame): DataFrame =
    simple(edges.select("src", "dst").union(transpose(edges)))

  /** Apply a batch: deletions, then insertions —
    * the reference's applyBatchUpdateU (/root/reference/inc/batch.hxx:222-247)
    * + update() flush, as one narrow pass over `base`. Every base edge the batch
    * deletes OR inserts is filtered out ([[isIn]]), and the deduplicated
    * insertions are added back, so an edge the batch deletes and re-inserts
    * stays, and an insertion already present is not doubled. That equals
    * deleting, then adding the insertions absent from what is left,
    * because `base` is simple (see the object's contracts); the insertions
    * need no tidying. The insertions' one partition is coalesced away, so a
    * stream's edge table keeps `base`'s partition count (reading it is free
    * for a checkpointed or local base). */
  def applyBatch(base: DataFrame, insertions: DataFrame,
      deletions: DataFrame): DataFrame = {
    val ins = pairs(insertions).distinct
    base.select("src", "dst").where(!isIn(pairs(deletions) ++ ins))
      .union(frame(base.sparkSession, ins))
      .coalesce(math.max(1, base.rdd.getNumPartitions))
  }

  /** Remove vertices and all edges touching them — the reference's
    * removeVertex (/root/reference/inc/Graph.hxx:364-369) generalized to a
    * bulk set (the set side is small → broadcast anti-joins, two scans, no
    * shuffle of the edge table). */
  def removeVertices(edges: DataFrame, vertexIds: DataFrame): DataFrame = {
    val ids = vertexIds.select(col(vertexIds.columns.head).as("v")).distinct()
    edges
      .join(broadcast(ids.withColumnRenamed("v", "src")), Seq("src"), "left_anti")
      .join(broadcast(ids.withColumnRenamed("v", "dst")), Seq("dst"), "left_anti")
      .select("src", "dst")
  }

  /** Batch tidying B4∘B5∘B6 (/root/reference/inc/batch.hxx:153-208): keep
    * deletions that exist / insertions that don't, dedupe, sort. `base` is
    * scanned once, narrowly, for the batch's edges ([[isIn]]); the at most
    * |batch| rows found come back to the driver, where the batch (collected
    * too — no job for a local batch) is deduplicated, kept or dropped and
    * sorted, and returned as a local relation. */
  def tidyInsertions(batch: DataFrame, base: DataFrame): DataFrame =
    tidy(batch, base, present = false)

  def tidyDeletions(batch: DataFrame, base: DataFrame): DataFrame =
    tidy(batch, base, present = true)

  private def tidy(batch: DataFrame, base: DataFrame, present: Boolean): DataFrame = {
    val b = pairs(batch).distinct
    val found = if (b.isEmpty) Set.empty[(Long, Long)] else pairs(base.where(isIn(b))).toSet
    frame(base.sparkSession, b.filter(e => found(e) == present).sorted)
  }

  private def pairs(df: DataFrame): Array[(Long, Long)] =
    df.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))

  private def frame(spark: SparkSession, es: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    es.toSeq.toDF("src", "dst")
  }

  /** (src, dst) is one of `es`: an InSet on `src`, and only for the rows it
    * passes an exact InSet on the pair. An InSet ships its values with the
    * plan instead of embedding them in generated code, so every batch
    * reuses one compiled scan. The `src` pre-filter spares most rows the
    * struct the pair check builds and hashes: filtering a 2.1M-edge table
    * by a 1000-edge batch took 55 ms with it and 151 ms without (4 cores;
    * 33 and 35 ms on a 31k-edge table). */
  private def isIn(es: Array[(Long, Long)]): Column = {
    def inSet(c: Column, vs: Set[Any]): Column =
      GraftBridge.column(InSet(GraftBridge.expression(c), vs))
    inSet(col("src"), es.map(e => e._1: Any).toSet) &&
      inSet(struct(col("src"), col("dst")),
        es.map { case (s, d) => InternalRow(s, d): Any }.toSet)
  }

  /** Seeded random edge deletions sampled from existing edges — the
    * deterministic analog of the reference's removeRandomEdge
    * (/root/reference/inc/batch.hxx:30-58): order by a seeded hash, take b. */
  def randomDeletions(base: DataFrame, b: Int, seed: Long): DataFrame =
    base.select("src", "dst")
      .orderBy(xxhash64(lit(seed), col("src"), col("dst")))
      .limit(b)

  /** Seeded random edge insertions in the id range [0, n) —
    * the analog of addRandomEdge (/root/reference/inc/batch.hxx:76-82). */
  def randomInsertions(spark: SparkSession, b: Int, n: Long, seed: Long): DataFrame =
    spark.range(b).select(
      pmod(xxhash64(lit(seed), col("id"), lit(0)), lit(n)).as("src"),
      pmod(xxhash64(lit(seed), col("id"), lit(1)), lit(n)).as("dst"))
}
