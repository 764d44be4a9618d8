package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Executor work summed over the tasks that ended inside one span. */
final case class Exec(
    jobs: Long, tasks: Int, failedTasks: Int, cpuS: Double, runS: Double,
    gcS: Double, inputMb: Double, inputRecords: Long, shuffleWriteMb: Double,
    spillMb: Double, taskMaxOverP50: Double)

/** Task-end and job-start counters for one SparkContext. The listener bus
  * calls it from its own thread, hence the synchronization. */
final class ExecListener extends SparkListener {
  import ExecListener.Task
  private val tasks = ArrayBuffer[Task]()
  private var jobs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val m = te.taskMetrics
    val ok = te.taskInfo == null || te.taskInfo.successful
    val dur = if (te.taskInfo == null) 0L else te.taskInfo.duration
    tasks += (if (m == null) Task(te.stageId, dur, ok, 0, 0, 0, 0, 0, 0, 0)
      else Task(te.stageId, dur, ok, m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def mark: (Int, Long) = synchronized((tasks.length, jobs))

  def since(m: (Int, Long)): Exec = synchronized {
    val ts = tasks.drop(m._1)
    val mb = 1048576.0
    // skew is a within-stage property: the worst max/median task time
    // over the stages that ran at least four tasks
    val skews = ts.groupBy(_.stage).values.filter(_.length >= 4).map { st =>
      val d = st.map(_.durMs).sorted
      d.last.toDouble / math.max(1L, d(d.length / 2))
    }
    Exec(jobs - m._2, ts.length, ts.count(!_.ok), ts.map(_.cpuNs).sum / 1e9,
      ts.map(_.runMs).sum / 1e3, ts.map(_.gcMs).sum / 1e3, ts.map(_.inBytes).sum / mb,
      ts.map(_.inRecords).sum, ts.map(_.shWrite).sum / mb, ts.map(_.spill).sum / mb,
      if (skews.isEmpty) 1.0 else skews.max)
  }
}

object ExecListener {
  private final case class Task(stage: Int, durMs: Long, ok: Boolean, cpuNs: Long,
      runMs: Long, gcMs: Long, inBytes: Long, inRecords: Long, shWrite: Long, spill: Long)
}

/** One timed interval around a call into a layer. */
final case class Span(id: Int, parent: Int, name: String, layer: String, phase: String,
    startNs: Long, var endNs: Long = 0L, var exec: Option[Exec] = None,
    var drainClean: Boolean = true)

/** Spans kept in memory while the benchmark runs and written as JSONL at
  * the end. When disabled, `span` only runs its body. */
final class Trace(var enabled: Boolean, workload: String, runId: String) {
  val spans = ArrayBuffer[Span]()
  private var stack = List(-1)
  private var sc: SparkContext = null
  private var listener: ExecListener = null
  var phase = "setup"
  var drainTimeouts = 0
  val t0: Long = System.nanoTime()

  def attach(spark: SparkSession): Unit = {
    detach()
    sc = spark.sparkContext
    listener = new ExecListener
    sc.addSparkListener(listener)
  }

  def detach(): Unit = {
    if (listener != null && !sc.isStopped) sc.removeSparkListener(listener)
    listener = null
  }

  /** Drains the listener bus; the wait shows up as a `trace` span. */
  private def drain(): Boolean =
    if (listener == null || sc.isStopped) true
    else {
      val s = System.nanoTime()
      val clean = BusDrain.drain(sc, 10000L)
      if (!clean) drainTimeouts += 1
      spans += Span(spans.length, stack.head, "drain", "trace", phase, s, System.nanoTime())
      clean
    }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val startClean = drain()
      val l = listener
      val mark = if (l == null) null else l.mark
      val sp = Span(spans.length, stack.head, name, layer, phase, System.nanoTime())
      spans += sp
      stack = sp.id :: stack
      try body
      finally {
        sp.endNs = System.nanoTime()
        stack = stack.tail
        val endClean = drain()
        sp.drainClean = startClean && endClean
        if (l != null && (l eq listener)) sp.exec = Some(l.since(mark))
      }
    }

  /** Runs `body` with spans and counters off. */
  def untraced[T](body: => T): T = {
    val was = enabled
    enabled = false
    try body finally enabled = was
  }

  def durS(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** Span duration minus the time its children cover (the driver is
    * single-threaded, so children never overlap). */
  def selfS: Map[Int, Double] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(durS).sum }
    spans.map(s => s.id -> (durS(s) - child.getOrElse(s.id, 0.0))).toMap
  }

  def find(name: String, phase: String): Seq[Span] =
    spans.filter(s => s.name == name && s.phase == phase).toSeq

  def writeJsonl(path: java.nio.file.Path, header: String, summary: String): Unit = {
    val self = selfS
    val sb = new StringBuilder
    sb ++= header += '\n'
    spans.foreach { s =>
      sb ++= s"""{"type":"span","run_id":${Json.str(runId)},"workload":${Json.str(workload)},""" +
        s""""id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"phase":${Json.str(s.phase)},""" +
        s""""start_s":${Json.num((s.startNs - t0) / 1e9)},"end_s":${Json.num((s.endNs - t0) / 1e9)},""" +
        s""""self_s":${Json.num(self(s.id))},"drain_clean":${s.drainClean}"""
      s.exec.foreach { e =>
        sb ++= s""","exec":{"jobs":${e.jobs},"tasks":${e.tasks},"failed_tasks":${e.failedTasks},""" +
          s""""cpu_s":${Json.num(e.cpuS)},"run_s":${Json.num(e.runS)},"gc_s":${Json.num(e.gcS)},""" +
          s""""input_mb":${Json.num(e.inputMb)},"input_records":${e.inputRecords},""" +
          s""""shuffle_write_mb":${Json.num(e.shuffleWriteMb)},"spill_mb":${Json.num(e.spillMb)},""" +
          s""""task_max_over_p50":${Json.num(e.taskMaxOverP50)}}"""
      }
      sb ++= "}\n"
    }
    sb ++= summary += '\n'
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Full precision; JSON has no NaN or infinity. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
