package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pagerank.{PageRank, PagerankRun}

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)

  def edgesDf(spark: SparkSession, edges: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    edges.toDF("src", "dst")
  }

  def collectRanks(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  def collectLabels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Run dynamic variant `v` of `pr` on the batch (x → y, ins, del). */
  def dynamicRun(pr: PageRank, v: Oracle.Variant, x: DataFrame, y: DataFrame,
      ins: DataFrame, del: DataFrame, prev: DataFrame): PagerankRun = v match {
    case Oracle.ND => pr.naiveDynamic(y, prev)
    case Oracle.DT => pr.dynamicTraversal(x, y, ins, del, prev)
    case Oracle.DF => pr.dynamicFrontier(x, y, ins, del, prev)
    case Oracle.DFP => pr.dynamicFrontierPrune(x, y, ins, del, prev)
  }
}
