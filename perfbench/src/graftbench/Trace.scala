package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** Spark engine counters for one operation, accumulated by [[SparkProbe]]. */
final class EngineCounts {
  var jobs, stages, tasks = 0L
  var execRunMs, execCpuNs, inputBytes, recordsRead, shuffleBytes, spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** The benchmark's own listener (registered only for traced runs): it
  * attributes every job, stage and task to the operation that was open
  * when the event arrived. The operation boundary drains the listener
  * bus, so no event of one operation lands in the next.
  */
final class SparkProbe(sc: org.apache.spark.SparkContext) extends SparkListener {
  private val lock = new Object
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private var cur = new EngineCounts

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobStart(e.jobId) = e.time
    cur.jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId).foreach(s => cur.jobIntervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized { cur.stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    cur.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cur.execRunMs += m.executorRunTime
      cur.execCpuNs += m.executorCpuTime
      cur.inputBytes += m.inputMetrics.bytesRead
      cur.recordsRead += m.inputMetrics.recordsRead
      cur.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      cur.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def drain(): Unit = org.apache.spark.sql.graftshim.Bridge.waitListenerBusEmpty(sc)

  /** Everything since the last call; starts a fresh accumulator. */
  def take(): EngineCounts = { drain(); lock.synchronized { val c = cur; cur = new EngineCounts; c } }

  /** Jobs counted so far in the open operation. */
  def jobsSoFar(): Long = { drain(); lock.synchronized(cur.jobs) }
}

object SparkProbe {
  /** Length of the union of [start, end] intervals clipped to [lo, hi]:
    * concurrent jobs are counted once, so wall minus this is never
    * negative (summing overlapping job walls is what made it so).
    */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

/** One timed span at a layer boundary. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder; off in untraced runs (then `span` only runs
  * its body). Spans are written once, when the run ends.
  */
final class Tracer(on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, name, t0, System.nanoTime())
      }
    }

  def write(path: java.nio.file.Path): Unit = {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val lines = spans.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
