package graft.ops

import org.apache.spark.sql.{DataFrame, functions => F}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.spark.SparkTestBase

/** One tokenizer for every text hash: [[TextOps.tokens]] (runs of
  * characters outside Java's `\s`) and the shingle identity built on it.
  * Whitespace-rich text must give the same pairs, spans and signatures
  * as its single-space original, and every signature must agree with
  * its exact verify.
  */
class TokenizerSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** The first 150 fixture docs, each with a planted near-copy
    * (id + 10000, one extra token), as (clean, mangled) pairs where the
    * mangled text has a quarter of its spaces swapped for tabs and
    * newlines (fixed seed). */
  private lazy val (cleanDocs, mangledDocs) = {
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .filter($"doc_id" < 150).select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq
    val clean = base ++ base.map { case (id, t) => (id + 10000, t + " zzextra") }
    val rnd = new java.util.Random(7)
    val mangled = clean.map { case (id, t) =>
      id -> t.map(c => if (c != ' ' || rnd.nextInt(4) != 0) c
        else if (rnd.nextBoolean()) '\t' else '\n')
    }
    assert(mangled.exists(_._2.exists(c => c == '\t' || c == '\n')))
    (clean, mangled)
  }

  private def frame(docs: Seq[(Long, String)]): DataFrame = docs.toDF("doc_id", "text")

  private def pairs(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  /** All pairs with `TextOps.jaccardShingles >= t` (id_a < id_b). */
  private def bruteForce(docs: Seq[(Long, String)], t: Double): Seq[(Long, Long, Double)] = {
    val sh = docs.map { case (id, s) => (id, TextOps.shingles(s, 3)) }.sortBy(_._1).toArray
    (for {
      i <- sh.indices; j <- i + 1 until sh.length
      (a, sa) = sh(i); (b, sb) = sh(j)
      jac = (sa intersect sb).size.toDouble / (sa union sb).size.toDouble
      if jac >= t
    } yield (a, b, jac)).sorted
  }

  test("minhashLshPairs on tab/newline text equals brute-force jaccardShingles") {
    val df = frame(mangledDocs).cache()
    val banded = pairs(Dedup.minhashLshPairs(df, "doc_id", "text", threshold = 0.5))
    val expected5 = bruteForce(mangledDocs, 0.5)
    assert(expected5.size >= 150)
    assert(banded === expected5)
    val all = pairs(Dedup.minhashLshPairs(df, "doc_id", "text",
      threshold = 0.7, probeAll = true))
    assert(all === bruteForce(mangledDocs, 0.7))
    df.unpersist()
  }

  test("ngramJaccardPairs on tab/newline text equals its single-space output") {
    val clean = pairs(Dedup.ngramJaccardPairs(frame(cleanDocs), "doc_id", "text",
      threshold = 0.5))
    assert(clean.nonEmpty)
    assert(pairs(Dedup.ngramJaccardPairs(frame(mangledDocs), "doc_id", "text",
      threshold = 0.5)) === clean)
  }

  test("cutSpans after duplicateSpans leaves a gram-unique corpus on tab/newline text") {
    val d = frame(mangledDocs)
    val l = 10
    val spans = Dedup.duplicateSpans(d, "doc_id", "text", l)
    assert(spans.count() > 0)
    val scrubbed = Dedup.cutSpans(d, spans, "doc_id", "text")
    val nTok = F.size(TextAnalysis.tokens($"text"))
    val orig = d.select(F.sum(nTok)).head().getLong(0)
    assert(scrubbed.select(F.sum(nTok + $"n_removed")).head().getLong(0) === orig)
    val toGrams = (frame: DataFrame) =>
      frame.select(F.explode(F.transform(F.array(TextAnalysis.tokens($"text")), w =>
          F.when(F.size(w) >= l,
            F.transform(F.sequence(F.lit(0), F.size(w) - l),
              p => F.array_join(F.slice(w, p + 1, F.lit(l)), " ")))
          .otherwise(F.array().cast("array<string>")))).as("gs"))
        .select(F.explode($"gs").as("g"))
    val dupGrams = toGrams(d).groupBy("g").count().filter($"count" >= 2)
    assert(dupGrams.count() > 0)
    val surviving = toGrams(scrubbed.select($"doc_id", $"text"))
      .join(dupGrams.select("g"), Seq("g"), "left_semi")
    assert(surviving.count() === 0L)
  }

  // ---- properties over whitespace-rich strings ----

  private val strings: Gen[String] = Gen.listOf(Gen.oneOf(
      "a", "b", "é", "😀", " ", "\t", "\n", "\u000b", "\f", "\r",
      "\u0001", "\u00a0"))
    .map(_.mkString)

  private def check(p: Prop): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(500).withInitialSeed(414L), p)
    assert(res.passed, res.status)
  }

  test("TextOps.tokens is the \\s+ split without empties") {
    check(Prop.forAllNoShrink(strings) { s =>
      TextOps.tokens(s).toSeq == s.split("\\s+").filter(_.nonEmpty).toSeq
    })
  }

  test("Column tokens equals TextOps.tokens row by row") {
    val docs = Gen.listOfN(400, strings).apply(Gen.Parameters.default, Seed(414L)).get
    val rows = docs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val got = frame(rows).select($"doc_id", TextAnalysis.tokens($"text"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    rows.foreach { case (id, s) => assert(got(id) === TextOps.tokens(s).toSeq, s"row $id") }
    assert(frame(Seq((0L, null: String))).select(TextAnalysis.tokens($"text"))
      .head().isNullAt(0))
  }

  test("shingle and gram hashes agree with string shingles on every tokenization") {
    // shingleHashes remaps a zero chain (its table's empty mark); murmur64
    // of the one-byte token "\u0001" is exactly 0, so the alphabet hits it
    val remap = (h: Long) => if (h == 0L) 0x1b873593L else h
    check(Prop.forAllNoShrink(strings, Gen.choose(1, 4)) { (s, w) =>
      val n = TextOps.tokens(s).length
      TextOps.shingleHashes(s, w, tokenFallback = true).length == TextOps.shingles(s, w).size &&
        (n < w || TextOps.gramHashes(s, w).map(remap).toSet == TextOps.shingleHashes(s, w).toSet)
    })
  }

  test("simhash64 is the unigram simhashNgram64") {
    check(Prop.forAllNoShrink(strings)(s => TextOps.simhash64(s) == TextOps.simhashNgram64(s, 1)))
  }

  test("oracle precondition: the test tables' text has no tab, newline or control character") {
    // the frozen oracle SQL tokenizes with string_split(text, ' '), which
    // equals TextOps.tokens exactly on text free of C0 control characters
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { s =>
      val bad = spark.read.parquet(s"/root/testdata/$s/documents.parquet")
        .filter($"text".rlike("[\\x00-\\x1F]")).count()
      assert(bad === 0L, s"$s documents with control characters")
    }
  }
}
