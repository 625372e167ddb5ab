package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.ReusedSubqueryExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counted for one phase (`ops.build`, `catalyst.plan` or `exec.run`)
  * of one query in one pass.
  */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var storedBytes = 0L

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_ms" -> taskMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_write_records" -> shuffleWriteRecords,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
    "result_bytes" -> resultBytes, "stored_bytes" -> storedBytes)
}

/** Span of one Spark job, attributed to the phase whose tag it carried. */
final case class JobSpan(tag: String, jobId: Int, startMs: Long, endMs: Long)

/** Collects per-phase Spark work from outside the program. The driver
  * thread tags each phase with the [[Ledger.PhaseProp]] local property;
  * Spark copies local properties into every job it submits for that
  * thread (broadcast and adaptive stage jobs included), so each job, stage,
  * task and stored block lands on the phase that caused it.
  *
  * All callbacks run on the single listener-bus thread; readers call
  * `Bus.drain` first.
  */
final class Ledger extends SparkListener with QueryExecutionListener {
  val counters = mutable.LinkedHashMap.empty[String, Counters]
  val jobs = mutable.ArrayBuffer.empty[JobSpan]
  private val jobTag = mutable.Map.empty[Int, (String, Long)]
  private val stageTag = mutable.Map.empty[Int, String]
  private val seenBlocks = mutable.Set.empty[String]
  // Block updates carry no properties; they belong to the latest tagged
  // job, because one driver thread runs the phases one after another.
  private var lastTag: String = _
  /** Query executions finished since the last `takeExecutions`. */
  private val executions = mutable.ArrayBuffer.empty[QueryExecution]

  private def of(tag: String): Counters = counters.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).map(_.getProperty(Ledger.PhaseProp)).orNull
    if (tag != null) {
      of(tag).jobs += 1
      jobTag(e.jobId) = (tag, e.time)
      lastTag = tag
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobTag.remove(e.jobId).foreach { case (tag, start) =>
      jobs += JobSpan(tag, e.jobId, start, e.time)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val tag = Option(e.properties).map(_.getProperty(Ledger.PhaseProp)).orNull
    if (tag != null) {
      of(tag).stages += 1
      stageTag(e.stageInfo.stageId) = tag
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (tag <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = of(tag)
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.resultBytes += m.resultSize
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (lastTag != null && b.blockId.isRDD && b.storageLevel.isValid &&
        seenBlocks.add(b.blockId.name))
      of(lastTag).storedBytes += b.memSize + b.diskSize
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    executions += qe

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def takeExecutions(): Seq[QueryExecution] = {
    val out = executions.toList
    executions.clear()
    out
  }
}

object Ledger {
  val PhaseProp = "perfbench.phase"

  /** Every node of a physical plan that ran, looking through adaptive
    * wrappers and query stages into the final plan, and into subqueries.
    * A reused exchange or subquery is listed once, not re-walked, so its
    * metrics are not counted twice.
    */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case r: ReusedExchangeExec => Iterator(r)
    case r: ReusedSubqueryExec => Iterator(r)
    case q: QueryStageExec => Iterator(q) ++ nodes(q.plan)
    case _ => Iterator(p) ++ (p.children ++ p.subqueries).iterator.flatMap(nodes)
  }

  /** Bytes of the parquet files and rows the file scans of an executed
    * plan read.
    */
  def scans(p: SparkPlan): (Long, Long) = {
    val ss = nodes(p).collect { case f: FileSourceScanExec => f.metrics }.toSeq
    def sum(m: String) = ss.flatMap(_.get(m)).map(_.value).sum
    (sum("filesSize"), sum("numOutputRows"))
  }

  /** Plan shape and join output rows of one executed query. */
  def planStats(p: SparkPlan): Map[String, Long] = {
    val all = nodes(p).toSeq
    def count(f: PartialFunction[SparkPlan, Unit]) = all.count(f.isDefinedAt).toLong
    Map(
      "exchanges" -> count { case _: Exchange => },
      "bhj_joins" -> count { case _: BroadcastHashJoinExec => },
      "smj_joins" -> count { case _: SortMergeJoinExec => },
      "nl_joins" -> count {
        case _: BroadcastNestedLoopJoinExec =>
        case _: CartesianProductExec =>
      },
      "join_out_rows" -> all.collect { case j: BaseJoinExec =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum)
  }
}
