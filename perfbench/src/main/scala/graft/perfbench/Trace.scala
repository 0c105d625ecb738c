package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed interval around a call into a layer. `op` is shared by every
  * span of one series load or query; `parent` is the enclosing span
  * (-1 for an operation's root span). Times are epoch milliseconds with a
  * fractional part, so Spark's job submission times can be matched to them.
  */
final case class Span(id: Int, name: String, op: Int, parent: Int,
                      startMs: Double, endMs: Double) {
  def durationS: Double = (endMs - startMs) / 1000.0
}

/** Spark work attributed to one span. */
final case class Work(jobs: Long = 0, tasks: Long = 0, executorMs: Long = 0,
                      shuffleBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks, executorMs + o.executorMs,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
  def executorS: Double = executorMs / 1000.0
}

/** In-memory span recorder. Disabled, it only runs the body, so an untraced
  * run pays one branch per call.
  */
final class Tracer(val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0Ms = System.currentTimeMillis().toDouble
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Double)] = Nil
  private var nextId = 0
  private var currentOp = -1

  private def nowMs: Double = epoch0Ms + (System.nanoTime() - nano0) / 1e6

  /** Starts a new operation: spans opened until the next call share its id. */
  def newOp(): Unit = { nextId += 1; currentOp = nextId }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      stack = (id, name, nowMs) :: stack
      try body
      finally {
        val (_, _, start) = stack.head
        stack = stack.tail
        val parent = stack.headOption.map(_._1).getOrElse(-1)
        done += Span(id, name, currentOp, parent, start, nowMs)
      }
    }

  def spans: Seq[Span] = done.toSeq
}

object Tracer {
  /** Nesting depth of every span (an operation's root span is 0). */
  def depths(spans: Seq[Span]): Map[Int, Int] = {
    val parent = spans.map(s => s.id -> s.parent).toMap
    spans.map { s =>
      s.id -> Iterator.iterate(s.parent)(p => parent.getOrElse(p, -1)).takeWhile(_ != -1).size
    }.toMap
  }

  /** Self time: a span's duration minus the time its child spans cover. The
    * benchmark opens spans from one thread, so siblings never overlap.
    */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childS = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durationS).sum }
    spans.map(s => s.id -> (s.durationS - childS.getOrElse(s.id, 0.0))).toMap
  }
}

/** Job, task, shuffle and spill counters from a listener the benchmark
  * registers itself. Jobs are attributed after the run to the innermost span
  * open when they were submitted, which also covers jobs started from other
  * threads (the quality gate's concurrent checks).
  */
final class SparkCounters extends SparkListener {
  private val jobStarts = mutable.ArrayBuffer.empty[(Long, Seq[Int])]
  private val byStage = mutable.Map.empty[Int, Work]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts += ((e.time, e.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val w =
      if (m == null) Work(tasks = 1)
      else Work(tasks = 1, executorMs = m.executorRunTime,
        shuffleBytes = m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
    byStage(e.stageId) = byStage.getOrElse(e.stageId, Work()) + w
  }

  /** Work per span id; jobs outside every span land under id -1. */
  def attribute(sc: SparkContext, spans: Seq[Span]): Map[Int, Work] = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
    synchronized {
      val depth = Tracer.depths(spans)
      val out = mutable.Map.empty[Int, Work]
      // a stage reused by a later job is listed again but runs once: count
      // its tasks under the first job that lists it
      val counted = mutable.Set.empty[Int]
      jobStarts.sortBy(_._1).foreach { case (t, stages) =>
        // job times are whole milliseconds; allow one for the truncation
        val owner = spans.filter(s => s.startMs - 1 <= t && t <= s.endMs)
          .sortBy(s => (-depth(s.id), -s.startMs)).headOption.map(_.id).getOrElse(-1)
        val w = stages.filter(counted.add).flatMap(byStage.get).foldLeft(Work(jobs = 1))(_ + _)
        out(owner) = out.getOrElse(owner, Work()) + w
      }
      out.toMap
    }
  }
}
