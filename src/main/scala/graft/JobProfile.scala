package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.sources.GraftTable

/** Where do a query's seconds go? Runs named queries under the session
  * Bench times ([[GraftSession.local]]) with a listener that records
  * every Spark job's wall time, stage/task counts and executor-cpu
  * totals — separating driver-side gaps (planning, file ops, meta I/O)
  * from cluster work.
  *
  * Usage: runMain graft.JobProfile <q1,q2,...> [sfDir]
  * Prints, per query: total wall, job wall (the union of the jobs'
  * intervals), Σ executor run time, job count, task count, the table
  * metadata I/O (directory listings and manifest reads) — and the
  * per-job table (wall, tasks, and the call site: the first `graft.*`
  * frame that started the job's SQL execution, so an AQE query-stage
  * job shows the library line that planned it, not "… at
  * CompletableFuture.java"). The GAP row (wall − job wall) is pure
  * driver time, never negative.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfile <q1,q2,...> [sfDir]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    val listener = new JobLog
    val lock = listener.lock
    val jobs = listener.jobs
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[prof] unknown query: $name")
        case Some(fn) =>
          // warm once at the tiny SF (janino/JIT), mirror Bench
          try { fn(spark, "/root/testdata/sf0.001").queryExecution.toRdd.count() }
          catch { case _: Throwable => }
          spark.catalog.clearCache()
          org.apache.spark.sql.graftshim.Bridge.unloadStateStores()
          System.gc()
          // drain BEFORE clearing: late events from the warm run would
          // otherwise land in (and pollute) the measured run's maps
          org.apache.spark.sql.graftshim.Bridge.waitListenerBusEmpty(spark.sparkContext)
          listener.clear()
          // wall on the listener's clock (epoch ms), so the job
          // intervals are clipped to the very window they are subtracted from
          // planning metadata I/O over the measured run: table directory
          // listings and manifest reads
          val (lists0, reads0) = (GraftTable.metaListCalls, GraftTable.metaReadCalls)
          val t0 = System.currentTimeMillis()
          try { fn(spark, sfDir).queryExecution.toRdd.count() }
          catch { case e: Throwable => System.err.println(s"[prof] $name: $e") }
          org.apache.spark.sql.graftshim.Bridge.waitListenerBusEmpty(spark.sparkContext)
          val t1 = System.currentTimeMillis()
          val (lists, reads) =
            (GraftTable.metaListCalls - lists0, GraftTable.metaReadCalls - reads0)
          val wallS = (t1 - t0) / 1e3
          val snap = lock.synchronized { jobs.values.toVector }
          val jobWall = covered(snap.map(j => (j.start, j.end)), t0, t1) / 1e3
          val execS = snap.map(_.execRunMs).sum / 1e3
          val cpuS = snap.map(_.cpuMs).sum / 1e3
          println(f"%n==== $name%s wall=$wallS%.2fs jobs=${snap.size}%d " +
            f"jobWall=$jobWall%.2fs driverGap=${wallS - jobWall}%.2fs " +
            f"execRun=$execS%.2fs cpu=$cpuS%.2fs tasks=${snap.map(_.tasks).sum}%d " +
            f"metaLists=$lists%d manifestReads=$reads%d")
          snap.sortBy(j => -(j.end - j.start)).take(25).foreach { j =>
            println(f"  job ${j.id}%4d  wall=${(j.end - j.start) / 1e3}%7.3fs " +
              f"stages=${j.stages}%3d tasks=${j.tasks}%5d " +
              f"execRun=${j.execRunMs / 1e3}%7.3fs cpu=${j.cpuMs / 1e3}%7.3fs  ${j.site}")
          }
          // where the driver gap sits: the dead time BEFORE each job
          // (prev job end → this job start = planning, commit metadata
          // I/O, file ops on the driver). Top 12 gaps, chronological id.
          val byStart = snap.sortBy(_.start)
          val gaps = byStart.zip(byStart.drop(1)).map { case (a, b) =>
            (b.id, math.max(0L, b.start - a.end)) }
          gaps.sortBy(-_._2).take(12).filter(_._2 > 50).foreach { case (id, g) =>
            println(f"  gap before job $id%4d: ${g / 1e3}%6.3fs") }
      }
    }
    spark.stop()
  }

  final case class Job(id: Int, start: Long, site: String, var end: Long = 0L,
                       var stages: Int = 0, var tasks: Int = 0,
                       var execRunMs: Long = 0L, var cpuMs: Long = 0L)

  /** The first `graft.*` frame of a call-site long form (one frame per
    * line, optionally "at "-prefixed).
    */
  private[graft] def graftFrame(details: String): Option[String] =
    details.linesIterator.map(_.trim.stripPrefix("at ")).find(_.startsWith("graft."))

  /** The per-job record: interval, stage/task counts, executor times,
    * and the call site — the first `graft.*` frame of the job's SQL
    * execution (`spark.sql.execution.id` → that execution's start
    * details), else of the job's first stage.
    */
  private[graft] class JobLog extends SparkListener {
    // ONE lock shared by the listener callbacks and the main thread's
    // snapshot/clear — the callbacks used to lock the listener instance
    // while the snapshot locked the JobProfile object (different
    // monitors, so the "synchronized" read raced the writes)
    val lock = new Object
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
    private val stageToJob = scala.collection.mutable.HashMap.empty[Int, Int]
    private val execDetails = scala.collection.mutable.HashMap.empty[Long, String]

    def clear(): Unit = lock.synchronized { jobs.clear(); stageToJob.clear(); execDetails.clear() }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        execDetails(s.executionId) = s.details
      }
      case _ =>
    }
    override def onJobStart(js: SparkListenerJobStart): Unit = lock.synchronized {
      val exec = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val site = exec.flatMap(execDetails.get).flatMap(graftFrame)
        .orElse(js.stageInfos.headOption.flatMap(si => graftFrame(si.details)))
        .getOrElse(js.stageInfos.headOption.map(_.name).getOrElse(""))
      jobs(js.jobId) = Job(js.jobId, js.time, site)
      js.stageIds.foreach(sid => stageToJob(sid) = js.jobId)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(je.jobId).foreach(_.end = je.time)
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = sc.stageInfo
      stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
        j.stages += 1
        j.tasks += si.numTasks
        j.execRunMs += si.taskMetrics.executorRunTime
        j.cpuMs += si.taskMetrics.executorCpuTime / 1000000L
      }
    }
  }

  /** Milliseconds of `[lo, hi]` covered by the union of the
    * `[start, end]` job intervals. Concurrent jobs overlap, so summing
    * their walls counts shared time twice and drove driverGap
    * (wall − jobWall) negative; the union never exceeds `hi − lo`.
    */
  private[graft] def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }
}
