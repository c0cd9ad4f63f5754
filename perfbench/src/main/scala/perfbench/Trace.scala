package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a program layer: name, start, end, the span that
  * caused it (0 = none) and the run it belongs to.
  */
final case class Span(id: Long, parent: Long, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled (untraced runs) it records
  * nothing and `span` only runs its body. Spans are kept in memory and
  * written once, at exit ([[write]]).
  */
final class Trace(val enabled: Boolean, val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  /** Id of the innermost open span on this thread (0 = none). */
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Time `body` as a span, a child of this thread's innermost span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val p = current
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, p, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Per span name: (count, total s, self s). Self time is the span's
    * duration minus the part of its interval covered by its children
    * (the union of the children's intervals, clipped to the parent).
    */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).toSeq.map { case (name, group) =>
      val (total, self) = group.foldLeft((0L, 0L)) { case ((t, s), sp) =>
        val kids = children.getOrElse(sp.id, Nil)
          .map(k => (math.max(k.startNs, sp.startNs), math.min(k.endNs, sp.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var end = Long.MinValue
        kids.foreach { case (a, b) =>
          val from = math.max(a, end)
          if (b > from) covered += b - from
          end = math.max(end, b)
        }
        val d = sp.endNs - sp.startNs
        (t + d, s + d - covered)
      }
      (name, group.size, total / 1e9, self / 1e9)
    }.sortBy(-_._4)
  }

  def write(path: java.io.File): Unit = if (enabled) {
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val lines = all.map(s =>
      s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"start_s":${(s.startNs - t0) / 1e9},""" +
        s""""end_s":${(s.endNs - t0) / 1e9}}""")
    java.nio.file.Files.writeString(path.toPath, lines.mkString("", "\n", "\n"))
  }
}

/** Work counters snapshot: jobs started and, over finished tasks, task
  * count, run time, shuffle bytes written and records read.
  */
final case class Work(jobs: Long, tasks: Long, taskRunMs: Long,
                      shuffleBytes: Long, recordsRead: Long,
                      planningMs: Long) {
  def -(o: Work): Work = Work(jobs - o.jobs, tasks - o.tasks,
    taskRunMs - o.taskRunMs, shuffleBytes - o.shuffleBytes,
    recordsRead - o.recordsRead, planningMs - o.planningMs)
}

/** Listeners registered from the harness (traced runs only): a
  * SparkListener for jobs/tasks and a QueryExecutionListener for the
  * Catalyst phases (analysis + optimization + planning) of each action.
  */
final class Counters(spark: SparkSession) extends SparkListener {
  private val jobs, tasks, runMs, shuffle, records, planning = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      records.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  private val qe = new QueryExecutionListener {
    override def onSuccess(f: String, q: QueryExecution, ns: Long): Unit =
      planning.addAndGet(q.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(f: String, q: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(qe)

  /** Counters after every event queued so far has been delivered. */
  def snap(): Work = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    Work(jobs.get, tasks.get, runMs.get, shuffle.get, records.get,
      planning.get)
  }
}

/** JVM-wide garbage-collection time so far, in seconds. */
object Gc {
  def seconds: Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L))
    .sum / 1e3
}
