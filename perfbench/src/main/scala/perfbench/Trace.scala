package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What the engine did during one operation of one pass. */
final class OpStats {
  val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  val jobSpans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  def add(k: String, v: Double): Unit = c(k) += v
}

/** Spark and query-execution listeners that attribute every job, stage,
  * task and executed plan to the operation running when it happened. The
  * listener bus is drained, untimed, at each operation boundary, so the
  * attribution is exact for the synchronous calls the benchmark times. */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile private var current = "idle"
  private val stats = mutable.Map.empty[String, OpStats]
  private val jobOwner = mutable.Map.empty[Int, (String, Long)]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def st(key: String): OpStats = stats.getOrElseUpdate(key, new OpStats)

  /** Operation `op` of pass `pass` starts: events still queued belong to
    * what ran before it. Untimed. */
  def begin(pass: Int, op: String): Unit = {
    Bus.drain(spark.sparkContext)
    current = s"$pass/$op"
  }

  /** The current operation ended; it started at epoch `startMs` and ran
    * `wallS` seconds. Draining is untimed: events arriving after the
    * operation returned still belong to it. */
  def end(startMs: Long, wallS: Double): Unit = {
    Bus.drain(spark.sparkContext)
    synchronized {
      // an operation repeated within a pass (catalog rounds) sums the
      // wall and driver time of each repeat
      val s = st(current)
      s.add("wall_s", wallS)
      val endMs = startMs + (wallS * 1e3).toLong
      s.add("driver_s", Trace.uncovered(s.jobSpans.filter(_._1 >= startMs).toSeq, startMs, endMs) / 1e3)
    }
    current = "idle"
  }

  def record(pass: Int, op: String, k: String, v: Double): Unit =
    synchronized(st(s"$pass/$op").add(k, v))

  def get(pass: Int, op: String): Map[String, Double] = synchronized {
    stats.get(s"$pass/$op").map(_.c.toMap).getOrElse(Map.empty)
  }

  /** Stages completed during pass `pass`, over all its operations. */
  def stagesInPass(pass: Int): Long = synchronized {
    stats.collect { case (k, s) if k.startsWith(s"$pass/") => s.c("stages") }.sum.toLong
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobOwner(e.jobId) = (current, e.time)
    st(current).add("jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOwner.remove(e.jobId).foreach { case (k, t0) => st(k).jobSpans += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    st(current).add("stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = st(current)
    s.add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      s.add("executor_cpu_s", m.executorCpuTime / 1e9)
      s.add("gc_s", m.jvmGCTime / 1e3)
      s.add("input_bytes", m.inputMetrics.bytesRead)
      s.add("rows_read", m.inputMetrics.recordsRead)
      s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      s.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      s.add("output_bytes", m.outputMetrics.bytesWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val s = st(current)
      s.add("queries", 1)
      val phases = qe.tracker.phases
      s.add("planning_s",
        Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum / 1e3)
      Trace.walk(qe.executedPlan) { p =>
        p match {
          case _: ShuffleExchangeExec => s.add("exchanges", 1)
          case _: ReusedExchangeExec => s.add("reused_exchanges", 1)
          case _: BroadcastHashJoinExec => s.add("broadcast_joins", 1)
          case _: SortMergeJoinExec => s.add("sort_merge_joins", 1)
          case _: WholeStageCodegenExec => s.add("codegen_stages", 1)
          case f: FileSourceScanExec =>
            f.metrics.get("numFiles").foreach(m => s.add("input_files", m.value))
          case b: BatchScanExec =>
            s.add("input_files", b.inputPartitions.flatMap {
              case f: FilePartition => f.files.map(_.filePath.toString).toSeq
              case _ => Nil
            }.distinct.size)
          case _ => ()
        }
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Trace {
  /** Milliseconds of [t0, t1] that no span covers. */
  def uncovered(spans: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var covered = 0L
    var end = t0
    spans.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }.sortBy(_._1).foreach {
      case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
    }
    math.max(0L, t1 - t0 - covered)
  }

  /** Visit every node of an executed plan, through adaptive wrappers,
    * query stages, command results and subqueries. */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case c: CommandResultExec => walk(c.commandPhysicalPlan)(f)
      case _: ReusedExchangeExec => ()
      case _ => (p.children ++ p.subqueries).foreach(walk(_)(f))
    }
  }
}
