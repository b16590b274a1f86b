package graftbench

import java.nio.charset.StandardCharsets

/** SplitMix64 stream; every draw the benchmark makes comes from one of these,
  * keyed by the run's `--seed`, so one seed always yields the same inputs. */
final class Rng(seed: Long) {
  private var state = seed
  def nextLong(): Long = {
    state += 0x9e3779b97f4a7c15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextInt(bound: Int): Int = Math.floorMod(nextLong(), bound.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
}

object Rng {
  def mix(a: Long, b: Long): Long = new Rng(a * 0x9e3779b97f4a7c15L + b).nextLong()
}

/** A seeded crawl: page k has url `url(k)`, html `html(k)` and the exact
  * visible text `text(k)` that `LinkExtractor.extractText` must reproduce.
  *
  * Link shape follows FIXTURES.md §1-2: Pareto(α=1.2) out-degree capped at
  * 64, 20% of links to the top 0.1% of ids (hub in-degree skew), ~1% pages
  * without links, ~5% repeated hrefs. On top of that the corpus plants
  * dedup ground truth:
  *  - exact families: mirrors whose html is byte-identical to a base page;
  *  - near families: pages sharing a base page's links and long body with a
  *    few words replaced (5-gram Jaccard well above the 0.7 LSH threshold).
  * Every other page carries its own random words, so no unplanted pair of
  * texts comes near the threshold. */
final class Corpus(val seed: Long, val n: Int) {
  import Corpus._

  private val links = new Array[Array[Int]](n)
  private val titleOf = Array.tabulate(n)(identity)
  private val body = new Array[String](n)
  /** Families of page ids; the first member is the base page. */
  val (exactFamilies: Seq[Array[Int]], nearFamilies: Seq[Array[Int]]) = {
    val rng = new Rng(Rng.mix(seed, 1))
    val hubs = math.max(1, n / 1000)
    var k = 0
    while (k < n) {
      val d =
        if (rng.nextDouble() < 0.01) 0
        else math.min(1 + math.pow(math.max(rng.nextDouble(), 1e-12), -1.0 / 1.2).toLong,
          MaxOutDegree.toLong).toInt
      val out = new Array[Int](d)
      var i = 0
      while (i < d) {
        out(i) =
          if (i > 0 && rng.nextDouble() < 0.05) out(i - 1)
          else if (rng.nextDouble() < 0.20) rng.nextInt(hubs)
          else rng.nextInt(n)
        i += 1
      }
      links(k) = out
      body(k) = s"body $k " + words(rng, 6)
      k += 1
    }
    // Families take disjoint page ids from a seeded shuffle, avoiding hubs.
    val ids = Array.range(hubs, n)
    var j = ids.length - 1
    while (j > 0) {
      val r = rng.nextInt(j + 1); val t = ids(j); ids(j) = ids(r); ids(r) = t; j -= 1
    }
    val famCount = math.max(1, n / 200)
    var next = 0
    def take(size: Int): Array[Int] = { val f = ids.slice(next, next + size); next += size; f }
    val exact = (0 until famCount).map(_ => take(2 + rng.nextInt(3)))
    val near = (0 until famCount).map(_ => take(2 + rng.nextInt(2)))
    exact.foreach { f =>
      f.tail.foreach { m => links(m) = links(f.head); titleOf(m) = f.head; body(m) = body(f.head) }
    }
    near.foreach { f =>
      val words0 = words(rng, 48).split(' ')
      body(f.head) = words0.mkString(" ")
      f.tail.foreach { m =>
        val w = words0.clone()
        (0 until 2).foreach(_ => w(rng.nextInt(w.length)) = words(rng, 1))
        links(m) = links(f.head)
        body(m) = w.mkString(" ")
      }
    }
    (exact, near)
  }

  def url(k: Int): String = s"https://site${k % 10}.example/p/$k"
  def linksOf(k: Int): Array[Int] = links(k)

  def html(k: Int): String = {
    val sb = new StringBuilder
    sb.append("<html><head><title>p").append(titleOf(k)).append("</title></head><body>")
    links(k).foreach(t => sb.append("<a href=\"").append(url(t)).append("\">t").append(t).append("</a>"))
    sb.append("<p>").append(body(k)).append("</p></body></html>")
    sb.toString
  }

  def text(k: Int): String =
    (s"p${titleOf(k)}" +: links(k).map(t => s"t$t") :+ body(k)).mkString("\n")

  def lang(k: Int): String = if (Rng.mix(seed, k) % 20 == 0) "de" else "en"

  def pageRow(k: Int): org.apache.spark.sql.Row = org.apache.spark.sql.Row(
    url(k), new java.sql.Timestamp(1744243200000L + k * 1000L),
    html(k).getBytes(StandardCharsets.UTF_8), text(k), lang(k))
}

object Corpus {
  val MaxOutDegree = 64

  /** `count` words of 3-8 random lowercase letters. */
  def words(rng: Rng, count: Int): String =
    (0 until count).map { _ =>
      val len = 3 + rng.nextInt(6)
      new String(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
    }.mkString(" ")

  val PagesSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("url", StringType), StructField("warc_ts", TimestampType),
      StructField("html", BinaryType), StructField("text", StringType),
      StructField("lang", StringType)))
  }
}
