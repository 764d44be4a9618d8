package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.core.ByteOps
import graft.core.hash.Murmur2Kernel
import graft.data.DocCorpusGen
import graft.jobs.SketchBuildJob
import graft.ops.{Dedup, TextAnalysis}
import graft.sketch.{BloomSketch, CmsSketch, HeavyHittersSketch, HllSketch, KllSketch}
import graft.spark.functions._

/** A sample of a workload's own inputs for the single-thread layer
  * replays: keys (conversation ids or document tokens), texts, category
  * labels (role|tool or tokens), lengths, and keys that are not present. */
final case class Sample(keys: Array[Array[Byte]], texts: Array[Array[Byte]],
    cats: Array[String], lens: Array[Double], absentKeys: Array[Array[Byte]])

/** Per-layer measurements for the traced run. Each times calls into one
  * layer's public API from here. Sketches use the build job's parameters
  * (the defaults of `SketchBuildJob.Config`). */
object Layers {
  /** The span layers: the library's modules the benchmark calls, plus
    * `session` (Spark start), `check` (output checks), `trace` (listener
    * drains), `untraced` (the pass timed without spans) and `bench` (the
    * benchmark's own code). */
  val Names: Seq[String] = Seq("session", "data", "core.hash", "sketch", "spark.expr",
    "spark.agg", "jobs", "ops", "check", "trace", "untraced", "bench")

  private val cfg = SketchBuildJob.Config("", "")
  @volatile private var sink = 0L

  /** One warm-up call, then the median of `n`. */
  def medianOf(n: Int)(f: => Double): Double = {
    f
    val v = Array.fill(n)(f).sorted
    if (n % 2 == 1) v(n / 2) else (v(n / 2 - 1) + v(n / 2)) / 2
  }

  /** Nanoseconds per unit; `body` returns the units it did. */
  def nsPer(body: => Long): Double = medianOf(5) {
    val t = System.nanoTime()
    val n = body
    (System.nanoTime() - t).toDouble / math.max(1L, n)
  }

  def transcriptSample(df: DataFrame, n: Int): Sample = {
    val rows = df.select(F.col("conv_id"), F.concat_ws("|", F.col("role"),
      F.coalesce(F.col("tool"), F.lit("-"))), F.col("text"))
      .limit(n).collect()
    Sample(
      keys = rows.map(r => ByteOps.utf8(r.getString(0))),
      texts = rows.map(r => ByteOps.utf8(r.getString(2))),
      cats = rows.map(_.getString(1)),
      lens = rows.map(_.getString(2).length.toDouble),
      absentKeys = rows.indices.map(i => ByteOps.utf8(s"absent-$i")).toArray)
  }

  def docSample(df: DataFrame, n: Int): Sample = {
    val texts = df.select("text").limit(n).collect().map(_.getString(0))
    val toks = texts.flatMap(_.split(' ')).take(n)
    Sample(
      keys = toks.map(ByteOps.utf8),
      texts = texts.map(ByteOps.utf8),
      cats = toks,
      lens = texts.map(_.length.toDouble),
      absentKeys = toks.indices.map(i => ByteOps.utf8(s"absent-$i")).toArray)
  }

  /** core.hash: ns per byte of murmur64 over texts and keys, and ns per
    * key of the k=12 multi-hash the Bloom filter uses. */
  def hash(s: Sample, tr: Trace): Seq[(String, Double)] = tr.span("hash_replay", "core.hash") {
    val all = s.texts ++ s.keys
    val bytes = all.map(_.length.toLong).sum
    val nsPerByte = nsPer {
      var acc = 0L
      all.foreach(b => acc ^= Murmur2Kernel.hash64(b))
      sink ^= acc
      bytes
    }
    val out = new Array[Long](12)
    val k12 = nsPer {
      s.keys.foreach(b => Murmur2Kernel.hash64Into(b, 12, out))
      sink ^= out(0)
      s.keys.length.toLong
    }
    Seq("hash.murmur64_ns_per_byte" -> nsPerByte, "hash.murmur64_k12_ns" -> k12)
  }

  /** Median microseconds of `merge` into fresh copies of `a`. */
  private def mergeUs[T: scala.reflect.ClassTag](a: T, b: T)(copy: T => T)(merge: (T, T) => Unit): Double = medianOf(5) {
    val copies = Array.fill(20)(copy(a))
    val t = System.nanoTime()
    copies.foreach(merge(_, b))
    (System.nanoTime() - t) / 20.0 / 1000.0
  }

  /** sketch: update, probe, merge and serialized size per sketch kind. */
  def sketches(s: Sample, tr: Trace): Seq[(String, Double)] = tr.span("sketch_replay", "sketch") {
    val n = s.keys.length.toLong
    def bloom() = BloomSketch(cfg.bloomPerPartCapacity, cfg.bloomBpi)
    val put = nsPer { val b = bloom(); s.keys.foreach(b.put); n }
    val full = bloom()
    s.keys.foreach(full.put)
    val contains = nsPer {
      var hits = 0L
      s.keys.foreach(k => if (full.contains(k)) hits += 1)
      s.absentKeys.foreach(k => if (full.contains(k)) hits += 1)
      sink ^= hits
      n + s.absentKeys.length
    }
    val bloomBytes = full.serialize()
    val deser = nsPer {
      (1 to 20).foreach(_ => sink ^= BloomSketch.deserialize(bloomBytes).approxBitCount)
      20L
    }
    val hllUpd = nsPer { val h = HllSketch(cfg.hllP); s.keys.foreach(h.update); n }
    val cmsUpd = nsPer {
      val c = CmsSketch(cfg.cmsDepth, cfg.cmsWidth)
      s.cats.foreach(c.update)
      s.cats.length.toLong
    }
    val kllUpd = nsPer { val k = KllSketch(cfg.kllK); s.lens.foreach(k.update); s.lens.length.toLong }
    val hhUpd = nsPer {
      val h = HeavyHittersSketch(cfg.hhCapacity)
      s.cats.foreach(c => h.update(c))
      s.cats.length.toLong
    }
    // merges: one sketch per half of the sample
    val half = s.keys.length / 2
    val (hA, hB) = (HllSketch(cfg.hllP), HllSketch(cfg.hllP))
    s.keys.take(half).foreach(hA.update); s.keys.drop(half).foreach(hB.update)
    val (cA, cB) = (CmsSketch(cfg.cmsDepth, cfg.cmsWidth), CmsSketch(cfg.cmsDepth, cfg.cmsWidth))
    s.cats.take(half).foreach(cA.update); s.cats.drop(half).foreach(cB.update)
    val (kA, kB) = (KllSketch(cfg.kllK), KllSketch(cfg.kllK))
    s.lens.take(half).foreach(kA.update); s.lens.drop(half).foreach(kB.update)
    Seq(
      "sketch.bloom.put_ns" -> put,
      "sketch.bloom.contains_ns" -> contains,
      "sketch.bloom.deserialize_us" -> deser / 1000.0,
      "sketch.hll.update_ns" -> hllUpd,
      "sketch.cms.update_ns" -> cmsUpd,
      "sketch.kll.update_ns" -> kllUpd,
      "sketch.hh.update_ns" -> hhUpd,
      "sketch.hll.merge_us" -> mergeUs(hA, hB)(_.copy())(_ merge _),
      "sketch.cms.merge_us" -> mergeUs(cA, cB)(_.copy())(_ merge _),
      "sketch.kll.merge_us" -> mergeUs(kA, kB)(_.copy())(_ merge _),
      "sketch.hll.bytes" -> hA.copy().merge(hB).serialize().length.toDouble,
      "sketch.cms.bytes" -> cA.copy().merge(cB).serialize().length.toDouble,
      "sketch.kll.bytes" -> kA.copy().merge(kB).serialize().length.toDouble,
      "sketch.bloom.bytes" -> bloomBytes.length.toDouble)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Median seconds of `f` over `n` calls after a warm-up. */
  def medianS(f: => Unit, n: Int = 3): Double = medianOf(n) {
    val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
  }

  /** spark.expr: rows per second of one projection into the noop sink,
    * for the hash of the key column and, with `text`, the text-dedup
    * expressions over the text column. */
  def expressions(df: DataFrame, keyCol: String, text: Boolean, tr: Trace): Seq[(String, Double)] = {
    val rows = df.count().toDouble
    def rate(name: String, c: org.apache.spark.sql.Column): (String, Double) =
      s"expr.$name.rows_per_s" -> tr.span(s"expr_$name", "spark.expr")(rows / medianS(noop(df.select(c))))
    rate("murmur64", murmur64(F.col(keyCol))) +: (if (!text) Nil else Seq(
      rate("shingle_hashes", TextAnalysis.shingle_hashes(F.col("text"))),
      rate("minhash_sig", TextAnalysis.minhash_sig(F.col("text")))))
  }

  /** The build job's per-part aggregate, without its write. */
  def partSketches(df: DataFrame): DataFrame = {
    val roleTool = F.concat_ws("|", F.col("role"), F.coalesce(F.col("tool"), F.lit("-")))
    df.groupBy(F.col("part_id")).agg(
      F.count(F.lit(1)).as("rows"),
      hll_sketch(F.col("conv_id"), cfg.hllP).as("hll_conv"),
      hll_sketch(F.col("tool"), cfg.hllP).as("hll_tool"),
      cms_sketch(roleTool, cfg.cmsDepth, cfg.cmsWidth).as("cms_roletool"),
      kll_sketch(F.length(F.col("text")), cfg.kllK).as("kll_textlen"),
      hh_sketch(F.col("tool"), cfg.hhCapacity).as("hh_tool"),
      bloom_sketch(F.col("conv_id"), cfg.bloomPerPartCapacity, cfg.bloomBpi).as("bloom_conv"))
  }

  def globalMerge(parts: DataFrame): Long =
    parts.agg(F.sum("rows"), hll_merge(F.col("hll_conv")), hll_merge(F.col("hll_tool")),
      cms_merge(F.col("cms_roletool")), kll_merge(F.col("kll_textlen")),
      hh_merge(F.col("hh_tool"))).head().getLong(0)

  /** spark.agg: seconds of the per-part aggregate and of the global merge
    * over its (cached) output. */
  def aggregates(df: DataFrame, tr: Trace): Seq[(String, Double)] = {
    val part = tr.span("part_sketch", "spark.agg")(medianS(noop(partSketches(df))))
    val parts = partSketches(df).cache()
    parts.count()
    val merge = tr.span("global_merge", "spark.agg")(medianS(globalMerge(parts)))
    parts.unpersist(blocking = true)
    Seq("agg.part_sketch_s" -> part, "agg.global_merge_s" -> merge)
  }

  /** Seconds of the whole aggregate (parts, then merge) at the session's
    * parallelism: the scaling-efficiency numerator and denominator. */
  def pipelineS(df: DataFrame): Double = medianS(globalMerge(partSketches(df)), n = 2)

  /** Pairs on which `minhashLshPairs` disagrees with an exact Jaccard of
    * `\s+`-separated word 3-gram sets, on a slice of the corpus whose
    * spaces are partly swapped for tabs and newlines. Both the mangled
    * and the clean slice run; the signature tokenizes on `\s+`, so the
    * two share candidates and every difference comes from the verify. */
  def whitespaceMismatch(spark: SparkSession, seed: Long, corpusDocs: Long,
      sliceDocs: Int, threshold: Double, tr: Trace): Long = tr.span("whitespace_slice", "ops") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(seed)
    val clean = (0L until sliceDocs).map(id => id -> DocCorpusGen.doc(seed, id, corpusDocs).text)
    val mangled = clean.map { case (id, t) =>
      id -> t.map(c => if (c != ' ' || rnd.nextInt(10) != 0) c
        else if (rnd.nextBoolean()) '\t' else '\n')
    }
    def lsh(docs: Seq[(Long, String)]): Map[(Long, Long), Double] =
      Dedup.minhashLshPairs(docs.toDF("doc_id", "text"), "doc_id", "text", threshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = lsh(mangled)
    val ref = lsh(clean)
    val text = clean.toMap
    def grams(s: String): Set[Seq[String]] = s.trim.split("\\s+").toSeq.sliding(3).toSet
    (got.keySet ++ ref.keySet).count { case p @ (a, b) =>
      val (ga, gb) = (grams(text(a)), grams(text(b)))
      val exact = (ga intersect gb).size.toDouble / (ga union gb).size
      got.get(p) match {
        case Some(j) => exact < threshold || math.abs(j - exact) > 1e-9
        case None => exact >= threshold
      }
    }.toLong
  }
}
