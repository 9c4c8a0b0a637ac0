package perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** One layer call: wall-clock interval (epoch ms, to line up with
  * Spark's event times) plus a monotonic duration, and its parent. */
final case class Span(id: Int, parent: Int, name: String, runId: String,
    startMs: Long, endMs: Long, wallS: Double)

/** Spans for layer calls, kept in memory and written at run end. */
final class Spans(runId: String) {
  val done = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String)(f: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val ms0 = System.currentTimeMillis(); val ns0 = System.nanoTime()
    try f finally {
      stack = stack.tail
      done += Span(id, parent, name, runId, ms0, System.currentTimeMillis(),
        (System.nanoTime() - ns0) / 1e9)
    }
  }

  /** Span time minus the time of its direct children. */
  def selfS(s: Span): Double =
    s.wallS - done.filter(_.parent == s.id).map(_.wallS).sum

  def toJsonl: String = done.sortBy(_.id).map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","run":"${s.runId}","start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS}%.6f,"self_s":${selfS(s)}%.6f}"""
  }.mkString("", "\n", "\n")
}

final case class TaskRec(endMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long,
    memSpill: Long, diskSpill: Long, inBytes: Long, inRecords: Long,
    outBytes: Long, outRecords: Long)

final case class PlanRec(endMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long)

/** Benchmark-owned listener: Spark jobs, stages, tasks, cached blocks
  * and executed query plans, recorded with their event times so they
  * can be bucketed into layer spans after the run. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  val jobs = ArrayBuffer[(Long, Long)]()
  val stages = ArrayBuffer[Long]()
  val tasks = ArrayBuffer[TaskRec]()
  val plans = ArrayBuffer[PlanRec]()
  /** (time, bytes held by cached blocks in memory or on disk). */
  val storage = ArrayBuffer[(Long, Long)]()
  private val blocks = scala.collection.mutable.Map[String, Long]()
  private var held = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleReadMetrics.fetchWaitTime,
      m.memoryBytesSpilled, m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockManagerId.toString + "/" + info.blockId.name
      val bytes = info.memSize + info.diskSize
      held += bytes - blocks.getOrElse(key, 0L)
      if (bytes == 0) blocks.remove(key) else blocks(key) = bytes
      storage += ((System.currentTimeMillis(), held))
    }
  }

  /** While set, every executed plan's fused stages are regenerated and
    * looked up in the compile cache for their largest method. */
  @volatile var watchCodegen = false
  /** Largest generated method, in bytecode bytes, per distinct fused
    * stage source. */
  val fusedMethodBytes = scala.collection.mutable.Map[String, Int]()

  private def fusedStages(p: SparkPlan): Seq[WholeStageCodegenExec] = p match {
    case a: AdaptiveSparkPlanExec => fusedStages(a.executedPlan)
    case q: QueryStageExec => fusedStages(q.plan)
    case w: WholeStageCodegenExec => w +: w.children.flatMap(fusedStages)
    case other => (other.children ++ other.subqueries).flatMap(fusedStages)
  }

  private def plan(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    plans += PlanRec(System.currentTimeMillis(), ms("analysis"),
      ms("optimization"), ms("planning"))
    if (watchCodegen) fusedStages(qe.executedPlan).foreach { w =>
      try {
        val (_, code) = w.doCodeGen()
        fusedMethodBytes(code.body) = CodeGenerator.compile(code)._2.maxMethodCodeSize
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe)
}

/** Codegen counters read before and after each layer call: total
  * compile time and the number of generated methods compiled. */
final case class CodegenMark(compileNs: Long, methods: Long)
object CodegenMark {
  def apply(): CodegenMark = CodegenMark(CodeGenerator.compileTime,
    CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getCount)
}

/** Per-layer metrics from the recorder's events, bucketed by interval. */
final class LayerStats(rec: Recorder) {
  private def in(t: Long, w: (Long, Long)) = t >= w._1 && t <= w._2

  /** Length of the union of job intervals clipped to the window, s. */
  def jobUnionS(w: (Long, Long)): Double = {
    val iv = rec.jobs.toSeq.map { case (s, e) => (math.max(s, w._1), math.min(e, w._2)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  def window(w: (Long, Long)): Map[String, Double] = {
    val ts = rec.tasks.filter(t => in(t.endMs, w))
    val ps = rec.plans.filter(p => in(p.endMs, w))
    val run = ts.map(_.runMs).sum / 1000.0
    val cpu = ts.map(_.cpuNs).sum / 1e9
    val peak = (rec.storage.filter(s => in(s._1, w)).map(_._2) ++
      rec.storage.filter(_._1 < w._1).lastOption.map(_._2)).maxOption.getOrElse(0L)
    Map(
      "plan.analysis_s" -> ps.map(_.analysisMs).sum / 1000.0,
      "plan.optimization_s" -> ps.map(_.optimizationMs).sum / 1000.0,
      "plan.planning_s" -> ps.map(_.planningMs).sum / 1000.0,
      "plan.executions" -> ps.size.toDouble,
      "jobs.count" -> rec.jobs.count(j => in(j._2, w)).toDouble,
      "stages.count" -> rec.stages.count(in(_, w)).toDouble,
      "tasks.count" -> ts.size.toDouble,
      "jobs.wall_s" -> jobUnionS(w),
      "exec.run_s" -> run,
      "exec.cpu_s" -> cpu,
      "exec.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "exec.cpu_share" -> (if (run > 0) cpu / run else 0.0),
      "shuffle.write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "shuffle.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1000.0,
      "spill.memory_bytes" -> ts.map(_.memSpill).sum.toDouble,
      "spill.disk_bytes" -> ts.map(_.diskSpill).sum.toDouble,
      "io.input_bytes" -> ts.map(_.inBytes).sum.toDouble,
      "io.input_rows" -> ts.map(_.inRecords).sum.toDouble,
      "io.output_bytes" -> ts.map(_.outBytes).sum.toDouble,
      "io.output_rows" -> ts.map(_.outRecords).sum.toDouble,
      "cache.peak_storage_bytes" -> peak.toDouble)
  }
}
