package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.text.TextOps

class TextDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  test("token counts: whitespace and BPE-ish") {
    val d = docs(1L -> "hello world", 2L -> "", 3L -> "  a  b\tc ", 4L -> "don't stop!")
    val got = d.select($"doc_id", TextOps.tokensWs($"text").as("ws"),
        TextOps.tokensBpe($"text").as("bpe"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(got(1L) === (2, 2))
    assert(got(2L) === (0, 0))
    assert(got(3L)._1 === 3)
    assert(got(4L) === (2, (Seq("don", "'", "t", "stop", "!").size)))
  }

  test("langId separates obvious English from German") {
    val d = docs(
      1L -> "the cat and the dog sat on the mat and it was good",
      2L -> "der hund und die katze sind nicht mit dem mann im haus",
      3L -> "zzz qqq xxx")
    val got = d.select($"doc_id", TextOps.langId($"text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("quality score is in [0,1], higher for clean prose than junk") {
    val d = docs(
      1L -> ("the quick brown fox jumps over the lazy dog and keeps " * 10),
      2L -> "!!! ??? ,,, ... ;;; :::",
      3L -> "")
    val got = d.select($"doc_id", TextOps.qualityScore($"text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(got(1L) > got(2L))
  }

  test("fingerprint (custom Catalyst expression): deterministic, edit-sensitive, prefix-robust") {
    val base = "the quick brown fox jumps over the lazy dog " * 5
    val d = docs(1L -> base, 2L -> base, 3L -> (base + " tail-change-here"),
      4L -> "completely different content with other words entirely")
    val got = d.select($"doc_id", TextOps.fingerprint($"text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === got(2L))
    // min-rolling-hash keeps the minimal window: a pure suffix append keeps
    // the fingerprint unless the new window hashes lower
    assert(got(4L) !== got(1L))
  }

  test("fingerprint interpreted eval == codegen eval") {
    val d = docs(1L -> "abcdefghijklmnopqrstuvwxyz0123456789")
    val viaCol = d.select(TextOps.fingerprint($"text")).collect()(0).getLong(0)
    val direct = graft.functions.RollingHashMin.minRollingHash(
      "abcdefghijklmnopqrstuvwxyz0123456789".getBytes("UTF-8"), 16)
    assert(viaCol === direct)
  }

  test("exact dedup keeps smallest doc_id per identical text") {
    val d = docs(1L -> "aaa", 5L -> "aaa", 3L -> "bbb", 9L -> "aaa")
    val got = Dedup.exact(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 3L -> 1L))
  }

  test("ngram Jaccard: identical docs 1.0, disjoint docs absent") {
    val d = docs(1L -> "abcdefghij", 2L -> "abcdefghij", 3L -> "zzzzyyyyxxxx")
    val got = Dedup.ngramJaccard(d, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 2L)) === 1.0)
    assert(!got.contains((1L, 3L)) && !got.contains((2L, 3L)))
  }

  test("minhash-LSH finds near-duplicates that exact jaccard confirms") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    val d = docs(
      1L -> base, 2L -> (base + "x"), 3L -> base.replace("quick", "quikc"),
      4L -> "total different nothing shared here at all by any measure",
      5L -> "another unrelated document about spark catalyst optimizers")
    val lsh = Dedup.minhashLsh(d, n = 5, k = 32, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.contains((1L, 2L)))
    assert(!lsh.exists(p => p._1 == 4L || p._2 == 4L))
    // verify candidates against the exact jaccard oracle
    val exact = Dedup.ngramJaccard(d, n = 5, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
  }

  test("degenerate LSH bucket (1k identical docs) is capped, not exploded") {
    // 1000 identical empty docs share every band signature — without the
    // bucket cap the candidate self-join is ~500k pairs from one bucket.
    val degenerate = docs((0L until 1000L).map(i => (i, "")): _*)
    val capped = Dedup.minhashLsh(degenerate, n = 5, k = 32, bands = 8,
      threshold = 0.0, maxBucket = 100)
    assert(capped.count() === 0) // all buckets over cap → dropped, bounded
    val sim = Dedup.simhashPairs(degenerate, maxHamming = 6, maxBucket = 100)
    assert(sim.count() === 0)
    // an honest mixed corpus still surfaces its near-dups under the cap
    val mixed = docs((0L until 50L).map(i => (i, s"the same text body $i")) ++
      Seq((100L, "a completely identical pair of documents xyz"),
        (101L, "a completely identical pair of documents xyz")): _*)
    val pairs = Dedup.minhashLsh(mixed, n = 5, k = 32, bands = 8,
      threshold = 0.9, maxBucket = 100).collect()
    assert(pairs.exists(r => r.getLong(0) === 100L && r.getLong(1) === 101L))
  }

  test("minhash and minhash-LSH equal their reference formulations on the sf documents") {
    val (n, k, bands) = (5, 32, 8)
    val rows = k / bands
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      // reference signature: explode the shingles, one min-aggregate per seed
      val mins = (0 until k).map(i => min(xxhash64(lit(i), $"shingle")).as(s"m$i"))
      val refSig = Dedup.shingles(d, n).groupBy("doc_id").agg(mins.head, mins.tail: _*)
        .select($"doc_id", array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
        .cache()
      def sigs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
      val want = sigs(refSig)
      assert(want.nonEmpty, dir)
      assert(sigs(Dedup.minhash(d, n, k)) === want, dir)

      // reference LSH: band the reference signature, dedupe the candidate
      // pairs with the signatures riding along, then score
      val banded = refSig.select($"doc_id", $"sig",
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          bnd => aggregate(slice($"sig", bnd * rows + 1, lit(rows)),
            xxhash64(bnd), (acc, x) => xxhash64(acc, x)))).as(Seq("band", "bucket")))
      val l = banded.select($"doc_id".as("a"), $"sig".as("siga"), $"band", $"bucket")
      val r = banded.select($"doc_id".as("b"), $"sig".as("sigb"), $"band", $"bucket")
      val refLsh = l.join(r, Seq("band", "bucket")).where($"a" < $"b")
        .dropDuplicates("a", "b")
        .select($"a", $"b", (size(filter(zip_with($"siga", $"sigb", (x, y) => x === y),
          eq => eq)).cast("double") / k).as("sim"))
        .where($"sim" >= 0.5)
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .sortBy(p => (p._1, p._2)).toSeq
      assert(pairs(Dedup.minhashLsh(d, n, k, bands, threshold = 0.5)) === pairs(refLsh), dir)
      refSig.unpersist()
    }
  }

  test("simhash: identical texts collide; near/far texts ordered by hamming") {
    // With few distinct tokens, per-bit vote sums sit near zero and one
    // extra token can flip ~25% of the zero-sum bits — so "near" means
    // hamming well below the ~32 of unrelated docs, not ≤3.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val d = docs(1L -> base, 2L -> base, 3L -> (base + "lambda"),
      4L -> "qq ww ee rr tt yy uu ii oo pp completely different words")
    val pairs = Dedup.simhashPairs(d, maxHamming = 64)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 2L)) === 0)
    // direct signature comparison (LSH banding aside)
    val sigs = d.select($"doc_id", Dedup.simhashCol($"text").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val near = ham(sigs(1L), sigs(3L))
    val far = ham(sigs(1L), sigs(4L))
    assert(near < far, s"near=$near far=$far")
    assert(far > 16)
    // at the production threshold only the identical pair survives
    val strict = Dedup.simhashPairs(d, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict === Set((1L, 2L)))
  }

  test("analyze() runs end-to-end over the driver documents table") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextOps.analyze(d)
    assert(out.count() === d.count())
    assert(out.columns.toSet === Set("doc_id", "n_tokens_ws", "n_tokens_bpe",
      "n_chars", "lang_pred", "quality", "fingerprint"))
  }
}
