package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.data.{DocCorpusGen, TranscriptGen, TranscriptTable}
import graft.jobs.{ProbeJob, SketchBuildJob}
import graft.ops.{BloomJoin, Dedup, KvLookup}
import graft.sketch.{CmsSketch, HllSketch, KllSketch}

/** The result of one timed operation: the input rows it covered and its
  * output check, which runs after the clock stops. */
final case class Out(rows: Long, check: () => Boolean)

/** One benchmark workload. `setup` makes the inputs from the seed alone;
  * `op` is the timed unit (one build, one dedup round, one request). */
trait Workload {
  /** What `rows_per_s` counts. */
  def rowUnit: String
  /** Untimed operations before the timed loop, the first one cold: the
    * JIT keeps speeding up the Spark paths for a few operations. */
  def warmOps: Int
  def sizes: Seq[(String, Long)]
  def setup(spark: SparkSession, dir: String, tr: Trace): Unit
  def op(spark: SparkSession, i: Int, tr: Trace): Out
  /** Accuracy figures over every operation checked so far. */
  def accuracy: Seq[(String, Double)]
}

object Workloads {
  val Names: Seq[String] = Seq("sketch_build", "text_dedup")

  def apply(name: String, seed: Long, work: String): Workload = name match {
    case "sketch_build" => new SketchBuild(seed, work)
    case "text_dedup" => new TextDedup(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  def treeBytes(path: String): Long = {
    val s = Files.walk(Paths.get(path))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}

/** The transcript table shape shared by `sketch_build` and `lookup`: the
  * Zipf-skewed generator with a hot conversation, 128 hash-range parts. */
final case class TableShape(nConvs: Long, hotTurns: Int, minTurns: Int = 4, nParts: Int = 128) {
  def turns: Long = TranscriptGen.totalTurns(nConvs, hotTurns, minTurns)
  def write(spark: SparkSession, seed: Long, path: String): Unit =
    TranscriptTable.write(TranscriptGen.generate(spark, seed, nConvs, hotTurns, minTurns),
      path, nParts)
}

/** Write path: `SketchBuildJob.run` into a fresh output directory. */
final class SketchBuild(seed: Long, work: String) extends Workload {
  val rowUnit = "turns"
  val warmOps = 3
  val shape = SketchBuild.Shape
  def sizes: Seq[(String, Long)] = Seq("convs" -> shape.nConvs, "turns" -> shape.turns,
    "hot_turns" -> shape.hotTurns.toLong, "parts" -> shape.nParts.toLong)
  var table: String = _
  private val cfg = SketchBuildJob.Config(input = "", out = "")

  def setup(spark: SparkSession, dir: String, tr: Trace): Unit = {
    table = s"$dir/turns"
    tr.span("gen_transcripts", "data")(shape.write(spark, seed, table))
  }

  // exact answers, from one set of scans of the input table at the first
  // check (after the cold build, so that build is the first use)
  private var truthReady = false
  private var distinctConvs = 0L
  private var distinctTools = 0L
  private var roleTool: Map[String, Long] = Map.empty
  private var toolCounts: Map[String, Long] = Map.empty
  private var lengths: Array[(Int, Long)] = Array.empty
  private var errMax = 0.0

  private def truth(spark: SparkSession, tr: Trace): Unit = if (!truthReady) tr.span("truth", "check") {
    truthReady = true
    val df = TranscriptTable.read(spark, table)
    distinctConvs = df.agg(F.countDistinct("conv_id")).head().getLong(0)
    // (role, tool, text length) -> turns: every other answer sums this
    val cube = df.groupBy(F.col("role"), F.col("tool"), F.length(F.col("text"))).count()
      .collect().map(r => (r.getString(0), Option(r.getString(1)), r.getInt(2), r.getLong(3)))
    roleTool = cube.groupMapReduce(c => s"${c._1}|${c._2.getOrElse("-")}")(_._4)(_ + _)
    toolCounts = cube.collect { case (_, Some(t), _, n) => t -> n }.groupMapReduce(_._1)(_._2)(_ + _)
    distinctTools = toolCounts.size.toLong
    lengths = cube.groupMapReduce(_._3)(_._4)(_ + _).toArray.sortBy(_._1)
  }

  /** Rank error of a quantile estimate, as a share of n: zero when q·n
    * falls among the ranks the estimated value occupies. */
  private def rankErr(v: Double, q: Double): Double = {
    val n = lengths.map(_._2).sum.toDouble
    val less = lengths.filter(_._1 < v).map(_._2).sum.toDouble
    val le = lengths.filter(_._1 <= v).map(_._2).sum.toDouble
    val target = q * n
    (if (target < less) less - target else if (target > le) target - le else 0.0) / n
  }

  /** Observed error over published bound for every sketch of one build. */
  def errRatios(r: SketchBuildJob.BuildResult, cms: CmsSketch): Seq[(String, Double)] = {
    val hllBound = 3 * HllSketch.standardError(cfg.hllP)
    val kllEps = KllSketch.epsilon(cfg.kllK)
    val cmsOver = roleTool.map { case (k, c) => cms.estimate(k) - c }
    Seq(
      "hll_conv" -> math.abs(r.estDistinctConvs - distinctConvs) / distinctConvs.toDouble / hllBound,
      "hll_tool" -> math.abs(r.estDistinctTools - distinctTools) / distinctTools.toDouble / hllBound,
      // a count-min estimate never undercounts: a negative excess fails
      "cms_roletool" -> (if (cmsOver.exists(_ < 0)) Double.PositiveInfinity
        else cmsOver.max / (cms.epsilon * cms.n)),
      "kll_p50" -> rankErr(r.textLenP50, 0.5) / kllEps,
      "kll_p99" -> rankErr(r.textLenP99, 0.99) / kllEps)
  }

  private def hhExact(top: Seq[(String, Long)]): Boolean = {
    val rest = toolCounts -- top.map(_._1)
    top.forall { case (t, c) => toolCounts.get(t).contains(c) } &&
      (rest.isEmpty || top.size == math.min(10, toolCounts.size) &&
        rest.values.max <= top.map(_._2).min)
  }

  def op(spark: SparkSession, i: Int, tr: Trace): Out = {
    val out = s"$work/builds/b$i"
    val r = tr.span("build", "jobs")(SketchBuildJob.run(spark, cfg.copy(input = table, out = out)))
    Out(shape.turns, () => {
      truth(spark, tr)
      val cms = CmsSketch.deserialize(Files.readAllBytes(Paths.get(out, "final", "cms_roletool.bin")))
      Workloads.deleteTree(out)
      val ratios = errRatios(r, cms)
      errMax = math.max(errMax, ratios.map(_._2).max)
      r.totalRows == shape.turns && r.processedParts.size == shape.nParts &&
        ratios.forall(_._2 <= 1.0) && hhExact(r.topTools)
    })
  }

  def accuracy: Seq[(String, Double)] = Seq("sketch_err_ratio" -> errMax)
}

object SketchBuild {
  /** 20,000 conversations, the hottest with 20,000 turns: 162,238 turns. */
  val Shape = TableShape(nConvs = 20000, hotTurns = 20000, nParts = 16)
}

/** Shuffle-heavy batch: minhash LSH pairs, exact n-gram pairs and
  * connected components over a generated document corpus. */
final class TextDedup(seed: Long) extends Workload {
  val rowUnit = "docs"
  // a round is dozens of small Spark jobs, so it runs mostly in driver
  // code the JIT is still compiling after the cold round
  val warmOps = 9
  val nDocs = 2000L
  val threshold = 0.5
  def sizes: Seq[(String, Long)] = Seq("docs" -> nDocs)
  var docs: String = _
  private var found = 0L
  private var expected = 0L
  /** (lsh pairs, exact pairs) of the latest round. */
  var lastCounts: (Long, Long) = (0L, 0L)

  def setup(spark: SparkSession, dir: String, tr: Trace): Unit = {
    docs = s"$dir/docs"
    tr.span("gen_docs", "data") {
      DocCorpusGen.generateDocs(spark, seed, nDocs).write.mode("overwrite").parquet(docs)
    }
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  def op(spark: SparkSession, i: Int, tr: Trace): Out = {
    // signature and shingle tables persisted by an earlier round must not
    // serve this one
    spark.catalog.clearCache()
    val df = spark.read.parquet(docs)
    val lsh = tr.span("minhash_pairs", "ops")(
      pairs(Dedup.minhashLshPairs(df, "doc_id", "text", threshold = threshold)))
    val exact = tr.span("ngram_pairs", "ops")(
      pairs(Dedup.ngramJaccardPairs(df, "doc_id", "text", threshold = threshold)))
    val edges = spark.createDataFrame(exact.toSeq).toDF("id_a", "id_b")
    val comps = tr.span("cc", "ops")(
      Dedup.connectedComponents(edges, "id_a", "id_b").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    lastCounts = (lsh.size.toLong, exact.size.toLong)
    Out(nDocs, () => {
      found += (lsh intersect exact).size
      expected += exact.size
      lsh.subsetOf(exact) && comps == TextDedup.minLabels(exact)
    })
  }

  def accuracy: Seq[(String, Double)] =
    Seq("pair_recall" -> (if (expected == 0) 0.0 else found.toDouble / expected))
}

object TextDedup {
  /** Union-find over the pairs: every paired node labelled with the
    * smallest id of its component. */
  def minLabels(pairs: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap[Long, Long]()
    def root(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      parent(x) = r
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (root(a), root(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> root(k)).toMap
  }
}

/** The read path, measured per layer in the traced `sketch_build` run:
  * requests of 500 present and 500 absent conversation ids against the
  * workload's table and a bank it built, cycling through the bank probe,
  * first-row get, hash multi-get and Bloom semi-join. One client, closed
  * loop. */
final class ReadPath(seed: Long, shape: TableShape, table: DataFrame, bank: String) {
  val present = 500
  val absent = 500
  val bitsPerItem = 16
  private var absentProbed = 0L
  private var falsePositives = 0L

  val Ops: Seq[String] = Seq("probe_bank", "get_first", "multi_get", "semi")

  /** The keys of request i: a pure function of (seed, i). */
  def keys(i: Int): (Seq[Long], Seq[String]) = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + i)
    val ords = mutable.LinkedHashSet[Long]()
    while (ords.size < present) ords += rnd.nextLong(shape.nConvs)
    val miss = mutable.LinkedHashSet[String]()
    while (miss.size < absent)
      miss += TranscriptGen.convId(shape.nConvs + rnd.nextLong(1000000000L))
    (ords.toSeq, miss.toSeq)
  }

  private def perConv(rows: Array[org.apache.spark.sql.Row]): Map[String, Long] =
    rows.groupBy(_.getAs[String]("conv_id")).map { case (k, v) => k -> v.length.toLong }

  def op(spark: SparkSession, i: Int, tr: Trace): Out = {
    val (ords, miss) = keys(i)
    val hit = ords.map(TranscriptGen.convId)
    val probes = spark.createDataFrame((hit ++ miss).map(Tuple1(_))).toDF("key")
    val turnsOf = ords.map(o => TranscriptGen.convId(o) ->
      TranscriptGen.turnsFor(o, shape.hotTurns, shape.minTurns).toLong).toMap
    val check: () => Boolean = Ops(i % Ops.size) match {
      case "probe_bank" =>
        val passed = tr.span("probe_bank", "jobs")(
          ProbeJob.probeBank(spark, probes, bank, "key").collect().map(_.getString(0)).toSet)
        () => {
          absentProbed += miss.size
          falsePositives += miss.count(passed)
          hit.forall(passed) && fprWithinBound
        }
      case "get_first" =>
        val rows = tr.span("get_first", "ops")(KvLookup.getFirst(table, "conv_id", probes, "key",
          Seq(F.col("turn_idx"))).collect())
        () => rows.length == hit.size &&
          rows.forall(_.getAs[Int]("turn_idx") == 0) &&
          rows.map(_.getAs[String]("conv_id")).toSet == hit.toSet
      case "multi_get" =>
        val rows = tr.span("multi_get", "ops")(
          KvLookup.multiGetByHash(table, "conv_id", probes, "key").collect())
        () => perConv(rows) == turnsOf
      case _ =>
        val rows = tr.span("semi", "ops")(BloomJoin.semi(table, "conv_id", probes, "key",
          bitsPerItem = bitsPerItem).collect())
        () => perConv(rows) == turnsOf
    }
    Out(present + absent, check)
  }

  def fpr: Double = if (absentProbed == 0) 0.0 else falsePositives.toDouble / absentProbed

  /** The reference's bound on Bloom false positives for D absent keys. */
  def fprWithinBound: Boolean =
    falsePositives * 0.95 <= 10 + math.ceil(absentProbed * math.pow(0.62, bitsPerItem))
}
