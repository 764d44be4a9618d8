package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.data.TranscriptTable
import graft.jobs.SketchBuildJob

/** The benchmark's entry point: one workload, one seed, one JVM.
  *
  * Untraced (`--trace 0`): the end-to-end metrics. Traced (`--trace 1`):
  * an untraced and a traced pass of the same timed loop, then the layer
  * measurements; spans go to a JSONL file under `--out`.
  *
  * The last line of standard output is the result object. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, out: String, commit: String)

  val Cores = 4
  /** Set-up repetitions: the median of three for `setup_s`; a traced run
    * does not report `setup_s` and sets up once. */
  def setupReps(trace: Boolean): Int = if (trace) 1 else 3

  /** The per-layer metrics of a traced run, with their units. A metric a
    * workload does not exercise reads 0; `metric_links.json` says which
    * workload and end-to-end metric each one should move. */
  val PerLayer: Seq[(String, String)] = Seq(
    "hash.murmur64_ns_per_byte" -> "ns/B", "hash.murmur64_k12_ns" -> "ns",
    "sketch.bloom.put_ns" -> "ns", "sketch.hll.update_ns" -> "ns",
    "sketch.cms.update_ns" -> "ns", "sketch.kll.update_ns" -> "ns",
    "sketch.hh.update_ns" -> "ns", "sketch.bloom.contains_ns" -> "ns",
    "sketch.bloom.deserialize_us" -> "us", "sketch.hll.merge_us" -> "us",
    "sketch.cms.merge_us" -> "us", "sketch.kll.merge_us" -> "us",
    "sketch.hll.bytes" -> "B", "sketch.cms.bytes" -> "B", "sketch.kll.bytes" -> "B",
    "sketch.bloom.bytes" -> "B",
    "expr.murmur64.rows_per_s" -> "1/s", "expr.shingle_hashes.rows_per_s" -> "1/s",
    "expr.minhash_sig.rows_per_s" -> "1/s",
    "agg.part_sketch_s" -> "s", "agg.global_merge_s" -> "s",
    "jobs.build_s" -> "s", "jobs.rollup_only_s" -> "s", "jobs.output_mb" -> "MB",
    "jobs.probe_bank_ms" -> "ms", "jobs.scaling_eff_1to4" -> "ratio",
    "ops.kv.get_first_ms" -> "ms", "ops.kv.multi_get_ms" -> "ms",
    "ops.bloom_join.semi_ms" -> "ms", "ops.kv.rows_read_per_key" -> "count",
    "ops.dedup.minhash_pairs_s" -> "s", "ops.dedup.ngram_pairs_s" -> "s",
    "ops.dedup.cc_s" -> "s", "ops.dedup.cc_jobs" -> "count",
    "ops.dedup.lsh_pairs" -> "count", "ops.dedup.exact_pairs" -> "count",
    "ops.dedup.whitespace_mismatch_pairs" -> "count",
    "exec.cpu_s" -> "s", "exec.cpu_util" -> "ratio", "exec.gc_s" -> "s",
    "exec.input_mb" -> "MB", "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB",
    "exec.task_max_over_p50" -> "ratio", "exec.failed_tasks" -> "count",
    "acc.sketch_err_ratio" -> "ratio", "acc.bloom_fpr" -> "ratio", "acc.pair_recall" -> "ratio",
    "trace.cold_op_ms" -> "ms", "trace.overhead_rows_per_s" -> "1/s",
    "trace.wall_s" -> "s", "trace.residue_s" -> "s", "trace.drain_timeouts" -> "count") ++
    Layers.Names.map(l => s"self.${l}_s" -> "s")

  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Args(need("workload"), need("seed").toLong, seconds, trace, need("work"), need("out"),
      m.getOrElse("commit", "unknown"))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // a dedup round plans more distinct generated classes than the
      // default 100-entry cache holds, so rounds would keep recompiling
      // them and their time would track the compiler, not the library
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else scala.io.Source.fromFile(status.toFile).getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  final case class OpRecord(ms: Double, rows: Long, ok: Boolean)

  final class Runner(val wl: Workload, val tr: Trace) {
    var spark: SparkSession = _
    var nextOp = 0
    val all = ArrayBuffer[OpRecord]()

    /** One operation: timed, then checked. Exceptions count as failures. */
    def runOp(op: (SparkSession, Int, Trace) => Out = wl.op): OpRecord = {
      val i = nextOp
      nextOp += 1
      val t = System.nanoTime()
      val out = try Some(tr.span("op", "bench")(op(spark, i, tr))) catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: operation $i failed: $e")
          None
      }
      val ms = (System.nanoTime() - t) / 1e6
      val ok = out.exists(o => try tr.span("check", "check")(o.check()) catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: check of operation $i failed: $e")
          false
      })
      if (!ok) System.err.println(s"perfbench: operation $i produced a wrong or no result")
      val r = OpRecord(ms, out.map(_.rows).getOrElse(0L), ok)
      all += r
      r
    }

    /** Operations back to back until `seconds` have passed. */
    def loop(seconds: Int): Seq[OpRecord] = {
      val start = System.nanoTime()
      val rs = ArrayBuffer[OpRecord]()
      while (System.nanoTime() - start < seconds * 1000000000L)
        rs += runOp()
      rs.toSeq
    }
  }

  /** Rows of the median operation over its time: every operation of a
    * workload covers the same rows, and a median keeps one stalled
    * operation from moving the figure. */
  def rowsPerS(rs: Seq[OpRecord]): Double = {
    val good = rs.filter(_.ok)
    if (good.isEmpty) 0.0
    else median(good.map(_.rows.toDouble)) / math.max(1e-9, median(good.map(_.ms)) / 1000.0)
  }

  /** The end-to-end metrics of an untraced run, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "rows_per_s" -> "1/s",
    "op_p50_ms" -> "ms", "peak_rss_mb" -> "MB")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val runId = s"${System.currentTimeMillis()}-${ProcessHandle.current().pid()}"
    val wl = Workloads(a.workload, a.seed, a.work)
    val tr = new Trace(a.trace, a.workload, runId)
    val r = new Runner(wl, tr)
    val values = scala.collection.mutable.LinkedHashMap[String, Double]()
    var steadyOps = 0
    var steadyMs: Seq[Double] = Nil
    var setupS: Seq[Double] = Nil
    tr.span("run", "bench") {
      // set-up: session start plus input generation, repeated in fresh
      // sessions and directories; the last one is kept
      setupS = (1 to setupReps(a.trace)).map { rep =>
        if (r.spark != null) {
          tr.detach()
          r.spark.stop()
          Workloads.deleteTree(s"${a.work}/in${rep - 1}")
        }
        val t = System.nanoTime()
        tr.span("setup", "bench") {
          r.spark = tr.span("session_start", "session")(session(Cores, a.work))
          if (a.trace) tr.attach(r.spark)
          wl.setup(r.spark, s"${a.work}/in$rep", tr)
        }
        (System.nanoTime() - t) / 1e9
      }
      tr.phase = "cold"
      val cold = r.runOp()
      tr.phase = "warm"
      (2 to wl.warmOps).foreach(_ => r.runOp())
      tr.phase = "steady"
      val steady =
        if (!a.trace) r.loop(a.seconds)
        else {
          val plain = tr.span("untraced_pass", "untraced") {
            tr.detach()
            try tr.untraced(r.loop(a.seconds)) finally tr.attach(r.spark)
          }
          val traced = r.loop(a.seconds)
          values ++= layerMetrics(a, r, plain, traced)
          traced
        }
      steadyOps = steady.size
      steadyMs = steady.map(_.ms)
      val lat = steady.filter(_.ok).map(_.ms)
      values ++= Seq(
        "setup_s" -> median(setupS),
        "rows_per_s" -> rowsPerS(steady),
        "op_p50_ms" -> median(lat),
        "peak_rss_mb" -> peakRssMb(),
        "cold_op_ms" -> cold.ms)
    }
    if (r.spark != null) r.spark.stop()
    val failed = r.all.count(!_.ok)
    values("failed_ratio") = failed.toDouble / math.max(1, r.all.size)
    values ++= wl.accuracy
    if (a.trace) {
      // self time per layer; the bench layer's share is the residue: time
      // in the benchmark's own code, outside every call into a layer
      val self = tr.selfS
      Layers.Names.foreach(l => values(s"self.${l}_s") =
        tr.spans.filter(_.layer == l).map(s => self(s.id)).sum)
      values("trace.wall_s") = tr.durS(tr.spans.head)
      values("trace.residue_s") = values("self.bench_s")
      values("trace.drain_timeouts") = tr.drainTimeouts.toDouble
    }

    val provenance = Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> (if (a.trace) "1" else "0"),
      "cores" -> Cores.toString, "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory() / 1048576).toString,
      "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.vm.version")}"),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "commit" -> Json.str(a.commit),
      "sizes" -> Json.obj(wl.sizes.map { case (k, v) => k -> v.toString }))
    val units = (EndToEnd ++ PerLayer).toMap + ("cold_op_ms" -> "ms")
    val out: Seq[(String, Double, String)] =
      if (a.trace) PerLayer.map { case (n, u) =>
        // accuracy and the cold operation are reported in both modes under
        // their plain names
        val plain = n.stripPrefix("acc.").replace("trace.cold_op_ms", "cold_op_ms")
        (n, values.getOrElse(n, values.getOrElse(plain, 0.0)), u)
      }
      else EndToEnd.map { case (n, u) => (n, values(n), u) }

    // human-readable report, then the result line
    // scalastyle:off println
    println(s"perfbench " + provenance.map { case (k, v) => s"$k=$v" }.mkString(" "))
    println(s"  steady operations: $steadyOps, attempted in all: ${r.all.size}, failed: $failed; " +
      s"rows_per_s counts ${wl.rowUnit}; set-up runs (s): ${setupS.map(Json.num).mkString(", ")}; " +
      s"steady operations (ms): ${steadyMs.map(m => f"$m%.0f").mkString(", ")}")
    values.foreach { case (n, v) => println(f"  $n%-38s ${Json.num(v)}%s ${units.getOrElse(n, "ratio")}") }
    if (a.trace) {
      val path = Paths.get(a.out, s"trace-${a.workload}-seed${a.seed}-$runId.jsonl")
      val summary = Json.obj(Seq("type" -> Json.str("summary"), "run_id" -> Json.str(runId)) ++
        values.toSeq.map { case (n, v) => n -> Json.num(v) })
      tr.writeJsonl(path, Json.obj(Seq("type" -> Json.str("run"), "run_id" -> Json.str(runId)) ++
        provenance), summary)
      println(s"  trace: $path (${tr.spans.size} spans)")
    }
    println(Json.obj(Seq(
      "correct" -> (failed == 0 && r.all.nonEmpty).toString,
      "attempted" -> r.all.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(out.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    // scalastyle:on println
    Workloads.deleteTree(a.work)
  }

  /** The traced run's per-layer metrics. */
  def layerMetrics(a: Args, r: Runner, plain: Seq[OpRecord],
      traced: Seq[OpRecord]): Seq[(String, Double)] = {
    val tr = r.tr
    def ms(name: String) = median(tr.find(name, "steady").map(tr.durS(_) * 1000.0))
    val opSpans = tr.find("op", "steady")
    val execs = opSpans.flatMap(_.exec)
    val perOp = math.max(1, execs.size).toDouble
    val wallS = opSpans.map(tr.durS).sum
    val base = Seq(
      "trace.overhead_rows_per_s" -> (rowsPerS(traced) - rowsPerS(plain)),
      "exec.cpu_s" -> execs.map(_.cpuS).sum / perOp,
      "exec.cpu_util" -> execs.map(_.cpuS).sum / math.max(1e-9, wallS * Cores),
      "exec.gc_s" -> execs.map(_.gcS).sum / perOp,
      "exec.input_mb" -> execs.map(_.inputMb).sum / perOp,
      "exec.shuffle_write_mb" -> execs.map(_.shuffleWriteMb).sum / perOp,
      "exec.spill_mb" -> execs.map(_.spillMb).sum / perOp,
      "exec.task_max_over_p50" -> median(execs.map(_.taskMaxOverP50)),
      "exec.failed_tasks" -> execs.map(_.failedTasks).sum.toDouble,
      "jobs.build_s" -> ms("build") / 1000.0,
      "ops.dedup.minhash_pairs_s" -> ms("minhash_pairs") / 1000.0,
      "ops.dedup.ngram_pairs_s" -> ms("ngram_pairs") / 1000.0,
      "ops.dedup.cc_s" -> ms("cc") / 1000.0,
      "ops.dedup.cc_jobs" -> median(tr.find("cc", "steady").flatMap(_.exec).map(_.jobs.toDouble)))
    tr.phase = "layers"
    base ++ workloadLayers(a, r)
  }

  /** Layer replays and one-off job measurements, per workload. */
  def workloadLayers(a: Args, r: Runner): Seq[(String, Double)] = {
    val tr = r.tr
    val spark = r.spark
    r.wl match {
      case sb: SketchBuild =>
        val df = TranscriptTable.read(spark, sb.table)
        val s = Layers.transcriptSample(df, 20000)
        val out = s"${a.work}/builds/rollup"
        SketchBuildJob.run(spark, SketchBuildJob.Config(sb.table, out))
        val outputMb = Workloads.treeBytes(out) / 1048576.0
        val rollup = tr.span("rollup_only", "jobs")(
          Layers.medianS(SketchBuildJob.run(spark, SketchBuildJob.Config(sb.table, out)), n = 2))
        val layers = Layers.hash(s, tr) ++ Layers.sketches(s, tr) ++
          Layers.expressions(df, "conv_id", text = false, tr) ++ Layers.aggregates(df, tr) ++
          readPath(a, r, sb, df, bank = out)
        // single-thread baseline of the same aggregate, in a local[1] session
        val t4 = tr.span("pipeline_local4", "spark.agg")(Layers.pipelineS(df))
        tr.detach()
        spark.stop()
        r.spark = session(1, a.work)
        tr.attach(r.spark)
        val t1 = tr.span("pipeline_local1", "spark.agg")(
          Layers.pipelineS(TranscriptTable.read(r.spark, sb.table)))
        layers ++ Seq("jobs.output_mb" -> outputMb, "jobs.rollup_only_s" -> rollup,
          "jobs.scaling_eff_1to4" -> t1 / t4 / Cores)
      case td: TextDedup =>
        val df = spark.read.parquet(td.docs)
        val s = Layers.docSample(df, 20000)
        Layers.hash(s, tr) ++ Layers.sketches(s, tr) ++ Layers.expressions(df, "text", text = true, tr) ++ Seq(
          "ops.dedup.lsh_pairs" -> td.lastCounts._1.toDouble,
          "ops.dedup.exact_pairs" -> td.lastCounts._2.toDouble,
          "ops.dedup.whitespace_mismatch_pairs" -> Layers.whitespaceMismatch(
            spark, a.seed, td.nDocs, 2000, td.threshold, tr).toDouble)
    }
  }

  /** The read path against the workload's table and a bank built from it:
    * one request of each kind to warm up, then three of each timed. */
  def readPath(a: Args, r: Runner, sb: SketchBuild, df: org.apache.spark.sql.DataFrame,
      bank: String): Seq[(String, Double)] = {
    val tr = r.tr
    val rp = new ReadPath(a.seed, sb.shape, df, bank)
    tr.phase = "read_path_cold"
    rp.Ops.foreach(_ => r.runOp(rp.op))
    tr.phase = "read_path"
    (1 to 3 * rp.Ops.size).foreach(_ => r.runOp(rp.op))
    tr.phase = "layers"
    def ms(name: String) = median(tr.find(name, "read_path").map(tr.durS(_) * 1000.0))
    val kv = tr.find("get_first", "read_path") ++ tr.find("multi_get", "read_path")
    Seq(
      "jobs.probe_bank_ms" -> ms("probe_bank"),
      "ops.kv.get_first_ms" -> ms("get_first"),
      "ops.kv.multi_get_ms" -> ms("multi_get"),
      "ops.bloom_join.semi_ms" -> ms("semi"),
      "ops.kv.rows_read_per_key" ->
        kv.flatMap(_.exec).map(_.inputRecords).sum.toDouble / (kv.size * rp.present),
      "bloom_fpr" -> rp.fpr)
  }
}
