package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans of one traced run: every Spark job (with the job group,
  * scheduler pool, SQL execution id and call site it ran under), every
  * stage's summed task metrics, and the Catalyst phase times of every
  * query execution the session reports. Nothing is written until the run
  * ends; [[rows]] hands the spans to the record.
  */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]
  private val queries = new ConcurrentLinkedQueue[Map[String, Any]]

  // per-stage sums, in this order
  private val metricNames = Seq("tasks", "run_ms", "cpu_ns", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_bytes", "output_bytes")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String): String = p.flatMap(x => Option(x.getProperty(k))).orNull
    jobs.add(Map(
      "job" -> e.jobId, "start_ms" -> e.time,
      "group" -> prop("spark.jobGroup.id"),
      "pool" -> prop("spark.scheduler.pool"),
      "sql_id" -> prop("spark.sql.execution.id"),
      "call_sites" -> e.stageInfos.map(_.name).distinct,
      "stages" -> e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.computeIfAbsent(e.stageId, _ => new Array[Long](metricNames.size))
      a.synchronized {
        a(0) += 1
        a(1) += m.executorRunTime
        a(2) += m.executorCpuTime
        a(3) += m.jvmGCTime
        a(4) += m.shuffleWriteMetrics.bytesWritten
        a(5) += m.shuffleReadMetrics.totalBytesRead
        a(6) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(7) += m.inputMetrics.bytesRead
        a(8) += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, ok = false)

  private def record(qe: QueryExecution, ok: Boolean): Unit =
    queries.add(Trace.phases(qe) + ("ok" -> ok))

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Stops collecting; the spans gathered so far stay readable. */
  def uninstall(): Unit = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  /** The spans collected while installed ([[uninstall]] drained them). */
  def rows: Map[String, Any] =
    Map(
      "jobs" -> jobs.asScala.toSeq.map(j =>
        j + ("end_ms" -> jobEnds.getOrDefault(j("job").asInstanceOf[Int], -1L))),
      "stages" -> stages.asScala.toSeq.sortBy(_._1).map { case (id, a) =>
        a.synchronized(metricNames.zip(a).toMap) + ("stage" -> id)
      },
      "queries" -> queries.asScala.toSeq)
}

object Trace {
  /** Catalyst phase spans of one query execution: per phase its start (epoch
    * ms) and its duration (ms), as Spark's planning tracker saw them. */
  def phases(qe: QueryExecution): Map[String, Any] =
    qe.tracker.phases.map { case (phase, s) =>
      phase -> Map("start_ms" -> s.startTimeMs, "ms" -> s.durationMs)
    }
}
