package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run recorder: spans kept in memory, Spark jobs attributed to them.
  *
  * A span is (name, start, end, parent, pass). The harness sets a job group
  * `pass/op` around every call; `split/<span>` marks the staged splits. A listener maps
  * each job's stages and tasks to its group. Planning phases come from every
  * QueryExecution the session finishes, attributed to the pass running when
  * its event is delivered (the bus is drained at each pass end).
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val spans = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  private val stageGroup = mutable.Map.empty[Int, String]
  private val taskTimes = mutable.Map.empty[Int, ArrayBuffer[Long]]
  val stages = ArrayBuffer.empty[StageStat]
  val jobs = mutable.Map.empty[String, Int].withDefaultValue(0)
  val phases = mutable.Map.empty[Int, PhaseSum]
  private val codegenAtPassStart = mutable.Map.empty[Int, Long]
  val codegenNs = mutable.Map.empty[Int, Long]
  val opPhases = mutable.Map.empty[String, ArrayBuffer[(Long, Long, Long)]]
  @volatile private var currentPass = -1

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("none")
      jobs(g) += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (e.taskInfo != null)
        taskTimes.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val times = taskTimes.remove(i.stageId).getOrElse(ArrayBuffer.empty).sorted
      val skew = if (times.size < 2) 1.0
        else times.last.toDouble / math.max(1L, times(times.size / 2))
      if (m != null) stages += StageStat(stageGroup.getOrElse(i.stageId, "none"),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
        i.numTasks, skew)
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val s = phases.getOrElseUpdate(currentPass, new PhaseSum)
      s.analysis += ms("analysis"); s.optimization += ms("optimization")
      s.planning += ms("planning")
    }
  }
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def startPass(pass: Int): Unit = {
    drain(); currentPass = pass
    codegenAtPassStart(pass) = CodeGenerator.compileTime
  }
  def endPass(pass: Int): Unit = {
    codegenNs(pass) = CodeGenerator.compileTime - codegenAtPassStart(pass)
    drain(); currentPass = -1
  }

  def begin(name: String, pass: Int): Unit = synchronized {
    val parent = open.get.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, name, parent, pass, System.nanoTime(), 0L)
    spans += s
    open.set(s :: open.get)
  }
  def end(name: String, df: DataFrame): Unit = {
    val s = open.get.head
    s.endNs = System.nanoTime()
    open.set(open.get.tail)
    if (df != null) {
      val ph = df.queryExecution.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      synchronized {
        opPhases.getOrElseUpdate(name, ArrayBuffer.empty) +=
          ((ms("analysis"), ms("optimization"), ms("planning")))
      }
    }
  }

  /** A staged-split span: its jobs carry the group `split/<name>`. */
  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(s"split/$name", name)
    begin(name, -1)
    try body finally {
      end(name, null)
      if (outer == null) sc.clearJobGroup() else sc.setJobGroup(outer, outer)
    }
  }

  /** Self time = duration minus the union of its children's intervals. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }

  private def passOf(group: String): Int =
    if (group.startsWith("split/")) -2 else group.split('/').headOption
      .flatMap(_.toIntOption).getOrElse(-3)

  /** Per-layer metrics per warm pass, plus per-op and split detail. */
  def report(warm: Seq[Main.PassResult], cores: Int,
      splits: Seq[(String, String)]): String = {
    drain()
    val warmIds = warm.map(_.pass).toSet
    val scale = 1.0 / warm.size
    val ws = synchronized(stages.filter(st => warmIds(passOf(st.group))).toSeq)
    val ph = warmIds.toSeq.flatMap(phases.get)
    val taskS = ws.map(_.runMs).sum / 1000.0
    val warmWall = warm.map(_.wallS).sum
    val skews = ws.filter(_.tasks >= 2).map(_.skew)
    val nJobs = synchronized(jobs.filter(kv => warmIds(passOf(kv._1))).values.sum)
    def per(x: Double) = Json.num(x * scale)
    val layer = Seq(
      "driver.analysis_s" -> per(ph.map(_.analysis).sum / 1000.0),
      "driver.optimization_s" -> per(ph.map(_.optimization).sum / 1000.0),
      "driver.planning_s" -> per(ph.map(_.planning).sum / 1000.0),
      "driver.codegen_compile_s" -> per(warmIds.toSeq.map(codegenNs.getOrElse(_, 0L)).sum / 1e9),
      "driver.build_s" -> per(warm.flatMap(_.samples).map(_.buildS).sum),
      "exec.task_cpu_s" -> per(ws.map(_.cpuNs).sum / 1e9),
      "exec.gc_s" -> per(ws.map(_.gcMs).sum / 1000.0),
      "exec.shuffle_read_bytes" -> per(ws.map(_.shuffleRead).sum.toDouble),
      "exec.shuffle_write_bytes" -> per(ws.map(_.shuffleWrite).sum.toDouble),
      "exec.spill_bytes" -> per(ws.map(_.spill).sum.toDouble),
      "exec.peak_exec_mem_bytes" -> Json.num(ws.map(_.peakMem).foldLeft(0L)(math.max).toDouble),
      "exec.task_skew" -> Json.num(if (skews.isEmpty) 1.0 else skews.max),
      "exec.jobs" -> per(nJobs.toDouble),
      "exec.stages" -> per(ws.size.toDouble),
      "exec.tasks" -> per(ws.map(_.tasks).sum.toDouble),
      "exec.core_idle_s" -> per(warmWall * cores - taskS),
      "trace.warm_s" -> Json.num(Stats.median(warm.map(_.wallS))))
    // Per op: median warm wall, and its jobs / task CPU per call.
    val byOp = warm.flatMap(_.samples).groupBy(_.op).toSeq.sortBy(_._1).map { case (op, ss) =>
      val groups = synchronized(stages.filter { st =>
        warmIds(passOf(st.group)) && st.group.endsWith("/" + op) }.toSeq)
      val calls = ss.size.toDouble
      val opJobs = synchronized(jobs.filter(kv => warmIds(passOf(kv._1)) &&
        kv._1.endsWith("/" + op)).values.sum)
      val phs = opPhases.getOrElse(op, ArrayBuffer.empty)
      op -> Json.obj(Seq(
        "s" -> Json.num(Stats.median(ss.map(_.totalS))),
        "build_s" -> Json.num(Stats.median(ss.map(_.buildS))),
        "jobs" -> Json.num(opJobs / calls),
        "stages" -> Json.num(groups.size / calls),
        "task_cpu_s" -> Json.num(groups.map(_.cpuNs).sum / 1e9 / calls),
        "shuffle_bytes" -> Json.num((groups.map(_.shuffleRead).sum +
          groups.map(_.shuffleWrite).sum) / calls),
        "planning_ms" -> Json.num(if (phs.isEmpty) 0 else
          phs.map(p => p._1 + p._2 + p._3).sum.toDouble / phs.size)))
    }
    // Repeated spans of one name (the three timed scans of a rate probe)
    // are reported once, summed, with their count.
    val spanJson = spans.filter(_.pass == -1).groupBy(_.name).toSeq
      .sortBy(_._2.head.startNs).map { case (name, ss) =>
        val st = synchronized(stages.filter(_.group == s"split/$name").toSeq)
        val parent = ss.head.parent
        name -> Json.obj(Seq(
          "n" -> ss.size.toString,
          "s" -> Json.num(ss.map(x => x.endNs - x.startNs).sum / 1e9),
          "self_s" -> Json.num(ss.map(selfSeconds).sum),
          "parent" -> Json.str(if (parent < 0) "" else spans(parent).name),
          "jobs" -> jobs(s"split/$name").toString,
          "spill_bytes" -> st.map(_.spill).sum.toString,
          "peak_exec_mem_bytes" -> st.map(_.peakMem).foldLeft(0L)(math.max).toString))
      }
    Json.obj(Seq(
      "layer" -> Json.obj(layer),
      "queries" -> Json.obj(byOp),
      "spans" -> Json.obj(spanJson),
      "splits" -> Json.obj(splits)))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, pass: Int,
      startNs: Long, var endNs: Long)
  final case class StageStat(group: String, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      peakMem: Long, tasks: Int, skew: Double)
  final class PhaseSum { var analysis, optimization, planning = 0L }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
