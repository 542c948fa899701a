package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** In-memory record of one run: operation timings always, spans and Spark
  * scheduler events only when tracing is on. Everything is written out once,
  * at exit, by [[Main]]; `perfbench/spans.py` turns the raw records into
  * per-layer metrics.
  *
  * Times are milliseconds since the epoch as doubles, so harness spans
  * (nanoTime-derived) and Spark's listener timestamps (currentTimeMillis)
  * share one clock. */
final class Recorder {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  final case class Span(id: Int, op: Int, parent: Int, kind: String,
                        name: String, start: Double, end: Double)
  final case class Op(id: Int, pass: Int, kind: String, name: String,
                      ms: Double, cpuMs: Double, ok: Boolean, error: String)

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole process (all threads) in ms. */
  def cpuMs(): Double = os.getProcessCpuTime / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.ArrayBuffer.empty[Op]
  private var nextId = 1
  private def newId(): Int = { val i = nextId; nextId += 1; i }

  /** Whether spans and job events of the current pass are recorded. A traced
    * run alternates traced and untraced passes, so the cost of tracing
    * itself can be read off (`trace.overhead_ratio`). */
  @volatile var passTraced: Boolean = false

  /** Runs `body` as a span; records it only when the current pass is
    * traced. */
  def span[A](op: Int, parent: Int, kind: String, name: String)(
      body: Int => A): A = {
    val id = newId()
    val t0 = now()
    try body(id) finally {
      if (passTraced) spans += Span(id, op, parent, kind, name, t0, now())
    }
  }

  /** Runs one benchmark operation under its own Spark job group, so the
    * listener can key every job (and its stages and tasks) to it. A thrown
    * error or a failed output check counts the operation as failed. */
  def op(spark: org.apache.spark.sql.SparkSession, pass: Int, parent: Int,
         kind: String, name: String)(body: Int => Boolean): Boolean = {
    val id = newId()
    val sc = spark.sparkContext
    sc.setJobGroup((if (passTraced) "t:" else "u:") + id, name,
      interruptOnCancel = false)
    val t0 = now()
    val c0 = cpuMs()
    var err = ""
    val ok =
      try body(id)
      catch { case e: Throwable =>
        err = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[perfbench] $kind $name failed: $err")
        false
      } finally sc.clearJobGroup()
    val t1 = now()
    if (passTraced) spans += Span(id, id, parent, "op", s"$kind:$name", t0, t1)
    ops += Op(id, pass, kind, name, t1 - t0, cpuMs() - c0, ok, err)
    ok
  }

  /** A construct / plan / action phase inside an operation. */
  def phase[A](op: Int, name: String)(body: => A): A =
    span(op, op, "phase", name)(_ => body)
}

/** Scheduler-event listener for the traced run. Jobs are keyed to
  * operations through the job group [[Recorder.op]] sets ("t:<op id>");
  * jobs of untraced passes ("u:...") and their stages are ignored. */
final class JobListener extends SparkListener {
  final case class Job(id: Int, op: Int, start: Double, var end: Double,
                       stageIds: Seq[Int])
  final case class Stage(id: Int, attempt: Int, start: Double,
                         end: Double, tasks: Int, runMs: Long, cpuNs: Long,
                         gcMs: Long, inputB: Long, shuffleReadB: Long,
                         shuffleWriteB: Long, spillB: Long, outputB: Long,
                         taskMaxMs: Long, taskMedMs: Long)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  private val traced = mutable.HashSet.empty[Int]
  private val taskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (group.startsWith("t:")) {
      val ids = e.stageInfos.map(_.stageId)
      jobs(e.jobId) = Job(e.jobId, group.drop(2).toInt, e.time.toDouble, -1,
        ids)
      traced ++= ids
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (traced.contains(e.stageId) && e.taskInfo != null)
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      if (traced.contains(i.stageId)) {
        val m = i.taskMetrics
        val ts = taskMs.remove((i.stageId, i.attemptNumber()))
          .map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
        stages += Stage(i.stageId, i.attemptNumber(),
          i.submissionTime.getOrElse(0L).toDouble,
          i.completionTime.getOrElse(0L).toDouble, i.numTasks,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.bytesWritten,
          if (ts.isEmpty) 0L else ts.last,
          if (ts.isEmpty) 0L else ts(ts.size / 2))
      }
    }
}
