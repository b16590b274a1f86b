package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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
}
