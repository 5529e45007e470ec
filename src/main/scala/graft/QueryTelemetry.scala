package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-key cost record of timed operations: one SparkListener plus one
  * QueryExecutionListener that split an operation's cost into build vs
  * execute time, Catalyst phases, Spark jobs, stages and tasks, shuffle
  * and spill bytes, GC and executor run/CPU time.
  *
  * A key is opened with [[tagged]] on the thread that runs the work.
  * Jobs are attributed through the key's own local property, which every
  * job that thread launches carries (Spark hands it on to broadcast and
  * subquery threads) — not through the job group, which PgWire owns for
  * cancellation. An executed query reaches the QueryExecutionListener
  * without its thread's properties, so its Catalyst phases (and plan
  * text) go to the key open at delivery; [[tagged]] drains the listener
  * bus on entry and exit, which makes that the key whose block ran it as
  * long as no untagged query runs concurrently.
  *
  * Attached by the dev mains (Bench, Probe, ScaleProbe) only, never by
  * [[Engine.session]], so the serving path runs without it. */
final class QueryTelemetry private (spark: SparkSession, keepPlans: Boolean)
    extends SparkListener with QueryExecutionListener {
  import QueryTelemetry.{Prop, Record}

  private val records = mutable.Map.empty[String, Record]
  private val stageKey = mutable.Map.empty[Int, String]
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]
  @volatile private var open: String = null

  private def rec(key: String): Record = records.getOrElseUpdate(key, new Record)

  /** Run `body` under `key`; the key's events have all been delivered
    * when this returns. */
  def tagged[A](key: String)(body: => A): A = {
    val sc = spark.sparkContext
    val (prevProp, prevOpen) = (sc.getLocalProperty(Prop), open)
    drain()
    open = key
    sc.setLocalProperty(Prop, key)
    try body
    finally {
      sc.setLocalProperty(Prop, prevProp)
      drain()
      open = prevOpen
    }
  }

  /** `act` over the DataFrame `build` returns, recording the wall time of
    * each side under `key`. */
  def timed[A](key: String)(build: => DataFrame)(act: DataFrame => A): A = {
    val t0 = System.nanoTime()
    val df = build
    val t1 = System.nanoTime()
    try act(df)
    finally {
      val t2 = System.nanoTime()
      synchronized { val r = rec(key); r.buildNs += t1 - t0; r.executeNs += t2 - t1 }
    }
  }

  /** Remove and return the key's record (empty if nothing ran under it). */
  def take(key: String): Record = synchronized(records.remove(key)).getOrElse(new Record)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def drain(): Unit =
    org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).foreach { k =>
      synchronized {
        rec(k).jobs += 1
        e.stageIds.foreach(stageKey(_) = k)
        jobStages(e.jobId) = e.stageIds
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStages.remove(e.jobId).foreach(_.foreach(stageKey.remove))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach(rec(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).map(rec).foreach { r =>
      r.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) r.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spillMemory += m.memoryBytesSpilled
        r.spillDisk += m.diskBytesSpilled
        r.peakTaskMemory = math.max(r.peakTaskMemory, m.peakExecutionMemory)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    executed(qe, if (keepPlans)
      Some(s"\n\n==== executed ($funcName, ${durationNs / 1000000} ms) ====\n" +
        qe.explainString(FormattedMode))
    else None)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    executed(qe, None)

  private def executed(qe: QueryExecution, plan: Option[String]): Unit = {
    val k = open
    if (k != null) synchronized {
      val r = rec(k)
      r.executions += 1
      qe.tracker.phases.foreach { case (p, s) =>
        r.phaseMs(p) = r.phaseMs.getOrElse(p, 0L) + s.durationMs
      }
      plan.foreach(r.plans += _)
    }
  }
}

object QueryTelemetry {
  /** Local property naming the open key. */
  val Prop = "graft.telemetry.key"

  /** Register a new telemetry on `spark`; `keepPlans` also keeps the
    * formatted plan of every successfully executed query. */
  def attach(spark: SparkSession, keepPlans: Boolean = false): QueryTelemetry = {
    val t = new QueryTelemetry(spark, keepPlans)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  final class Record {
    var buildNs, executeNs = 0L
    var jobs, stages, tasks, failedTasks, executions = 0L
    var runMs, cpuNs, gcMs = 0L
    var shuffleRead, shuffleWrite, spillMemory, spillDisk, peakTaskMemory = 0L
    val phaseMs = mutable.Map.empty[String, Long]
    val plans = mutable.ArrayBuffer.empty[String]

    /** One JSON object; build_ms/execute_ms only when [[QueryTelemetry#timed]] ran. */
    def json: String = {
      val phases = phaseMs.toSeq.sorted.map { case (p, ms) => s""""$p":$ms""" }
      val split =
        if (buildNs + executeNs == 0) ""
        else s""""build_ms":${buildNs / 1e6},"execute_ms":${executeNs / 1e6},"""
      s"""{$split"jobs":$jobs,"stages":$stages,"tasks":$tasks,"failed_tasks":$failedTasks,""" +
        s""""executions":$executions,"catalyst_ms":${phases.mkString("{", ",", "}")},""" +
        s""""task_run_ms":$runMs,"task_cpu_ms":${cpuNs / 1000000},"gc_ms":$gcMs,""" +
        s""""shuffle_read_bytes":$shuffleRead,"shuffle_write_bytes":$shuffleWrite,""" +
        s""""spill_memory_bytes":$spillMemory,"spill_disk_bytes":$spillDisk,""" +
        s""""peak_task_memory_bytes":$peakTaskMemory}"""
    }
  }
}
