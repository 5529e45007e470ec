package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans recorded around the harness's calls into each engine
  * layer. Off in timed runs: `span` then just runs its body. */
object Trace {
  final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, run: String)

  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[java.util.ArrayDeque[java.lang.Long]](
    () => new java.util.ArrayDeque[java.lang.Long]())
  private val runId = new ThreadLocal[String] { override def initialValue(): String = "" }

  /** Spans opened on this thread until the next call carry `id`. */
  def setRun(id: String): Unit = runId.set(id)

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val st = stack.get
      val parent = if (st.isEmpty) 0L else st.peek.longValue
      st.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        st.pop()
        spans.add(Span(id, name, t0, System.nanoTime(), parent, runId.get))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name in ms: each span's duration minus the time its
    * children cover (children run on the parent's thread, so they do not
    * overlap one another). */
  def selfMs: Map[String, Double] = {
    val ss = all
    val childNs = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    ss.foreach(s => if (s.parent != 0) childNs(s.parent) += s.end - s.start)
    ss.groupBy(_.name).map { case (n, g) =>
      n -> g.map(s => (s.end - s.start - childNs(s.id)) / 1e6).sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.id).foreach { s =>
      w.write(Json.obj("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent, "run" -> s.run))
      w.newLine()
    } finally w.close()
  }
}

/** Spark scheduler totals per operation key. The key is the local property
  * `perfbench.op` of the thread that launched the job; jobs launched with no
  * key count under "other". */
final class JobTotals extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, failedTasks = 0L
    var taskMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  }
  private val byKey = mutable.Map.empty[String, Acc]
  private val stageKey = mutable.Map.empty[Int, String]

  private def acc(k: String): Acc = byKey.getOrElseUpdate(k, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = Option(e.properties).flatMap(p => Option(p.getProperty(JobTotals.Prop)))
      .getOrElse("other")
    acc(k).jobs += 1
    e.stageInfos.foreach(s => stageKey(s.stageId) = k)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageKey.getOrElse(e.stageInfo.stageId, "other")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageKey.getOrElse(e.stageId, "other"))
    a.tasks += 1
    if (e.taskInfo != null && e.taskInfo.failed) a.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
    }
  }

  /** Totals over every key accepted by `keep`. */
  def sum(keep: String => Boolean): Map[String, Double] = synchronized {
    val as = byKey.collect { case (k, a) if keep(k) => a }
    def t(f: Acc => Long): Double = as.map(f).sum.toDouble
    Map("jobs" -> t(_.jobs), "stages" -> t(_.stages), "tasks" -> t(_.tasks),
      "failed_tasks" -> t(_.failedTasks), "task_ms" -> t(_.taskMs),
      "task_cpu_ms" -> t(_.cpuNs) / 1e6, "gc_ms" -> t(_.gcMs),
      "shuffle_read_mb" -> t(_.shuffleRead) / 1048576.0,
      "shuffle_write_mb" -> t(_.shuffleWrite) / 1048576.0,
      "spill_mb" -> t(_.spill) / 1048576.0)
  }

  def jobs(key: String): Long = synchronized(byKey.get(key).map(_.jobs).getOrElse(0L))
}

object JobTotals {
  val Prop = "perfbench.op"

  /** Tag the jobs this thread launches from now on with `key`. */
  def tag(sc: SparkContext, key: String): Unit = sc.setLocalProperty(Prop, key)
}

/** Catalyst phase times of every executed action, in ms, in arrival order.
  * Only the single-client batch loop reads it, after draining the bus, so
  * everything queued belongs to the operation that just ran. */
final class PlanPhases extends QueryExecutionListener {
  private val q = new ConcurrentLinkedQueue[Map[String, Double]]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    q.add(PlanPhases.of(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    q.add(PlanPhases.of(qe))

  def take(): Seq[Map[String, Double]] = Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
}

object PlanPhases {
  def of(qe: QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
}
