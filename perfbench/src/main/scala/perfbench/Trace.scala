package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Spans recorded by the harness around its own calls into each layer. All
  * spans of one run share `runId`; they stay in memory and are written once,
  * when the run ends. A disabled trace records nothing and costs one branch.
  * The harness drives Spark from one thread, so the open-span stack gives
  * every span its parent.
  */
final class Trace(val enabled: Boolean) {
  val runId: String = java.util.UUID.randomUUID().toString

  final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def open(name: String): Int =
    if (!enabled) -1
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, System.nanoTime(), -1L)
      spans += s
      stack = s :: stack
      s.id
    }

  /** Closes span `id` and any child left open by an exception inside it. */
  def close(id: Int): Unit =
    if (enabled && id >= 0) {
      val now = System.nanoTime()
      while (stack.nonEmpty && stack.head.id != id) { stack.head.endNs = now; stack = stack.tail }
      if (stack.nonEmpty) { stack.head.endNs = now; stack = stack.tail }
    }

  def span[A](name: String)(f: => A): A = {
    val id = open(name)
    try f finally close(id)
  }

  def closed: Seq[Span] = spans.filter(_.endNs >= 0).toSeq

  /** Total duration of all spans called `name`. */
  def total(name: String): Double = closed.filter(_.name == name).map(_.seconds).sum

  /** Self time per span name: duration minus the time its children cover. */
  def selfTimes: Map[String, Double] = {
    val childTime = closed.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    closed.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  def toJson: String = closed.map { s =>
    s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Spark task, stage and job totals, aggregated from the listener bus. */
final class TaskTotals extends SparkListener {
  /** Events that arrive while inactive are ignored; drain the bus first. */
  @volatile var active = true
  @volatile var jobs, stages, tasks = 0L
  @volatile var runMs, cpuNs, gcMs = 0L
  @volatile var inputBytes, shuffleWrite, shuffleRead, spill, cachedBytes = 0L
  // per completed stage with at least two tasks: (max task ms, median task ms)
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageSpread = mutable.ArrayBuffer.empty[(Long, Long)]

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
    inputBytes = 0; shuffleWrite = 0; shuffleRead = 0; spill = 0; cachedBytes = 0
    stageTaskMs.clear(); stageSpread.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { if (active) jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!active) return
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (!active) return
    stages += 1
    stageTaskMs.remove(e.stageInfo.stageId).filter(_.size >= 2).foreach { ts =>
      val sorted = ts.sorted
      stageSpread += ((sorted.last, sorted(sorted.size / 2)))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (active && info.blockId.isInstanceOf[RDDBlockId] && info.storageLevel.isValid)
      cachedBytes += info.memSize + info.diskSize
  }

  /** Σ slowest-task time ÷ Σ median-task time over multi-task stages: 1.0
    * when every stage's tasks take equally long. */
  def taskSkew: Double = synchronized {
    val med = stageSpread.map(_._2).sum
    if (med > 0) stageSpread.map(_._1).sum.toDouble / med else 1.0
  }
}

/** Analysis, optimization and planning time of every query execution, from
  * each execution's phase tracker. */
final class PhaseTotals extends QueryExecutionListener {
  private val totals = mutable.Map.empty[String, Long].withDefaultValue(0L)
  def reset(): Unit = synchronized { totals.clear() }
  def seconds(phase: String): Double = synchronized { totals(phase) / 1e3 }
  private def add(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, summary) => totals(phase) += summary.durationMs }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** File-scan bytes of one table: the `filesSize` of every distinct scan node
  * that read under `tableDir`, found through adaptive stages and cached
  * relations. A persisted plan is scanned once however often it is read, so
  * scan nodes are counted once each. */
final class ScanTotals(tableDir: String) extends QueryExecutionListener {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
  @volatile var active = true
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]())

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }
  private def add(qe: QueryExecution): Unit = synchronized {
    if (active) scans(qe.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(tableDir)))
      .foreach(seen.add)
  }
  def reset(): Unit = synchronized { seen.clear() }
  def bytes: Long = synchronized {
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.map(_.metrics.get("filesSize").map(_.value).getOrElse(0L)).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** Whole-stage and expression codegen compiles from Spark's metrics. The
  * compile-time histogram samples its values, so time is estimated as the
  * number of compiles times the sampled mean. */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def meanSeconds: Double = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1e3
}
