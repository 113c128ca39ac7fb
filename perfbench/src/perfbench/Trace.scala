package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. A run's spans go to one file; a span's parent
  * is the span that caused it (pass → op → phase → job). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Long, end: Long, attrs: Map[String, String] = Map.empty) {
  def ms: Long = end - start
}

/** Everything the listener learned about one finished stage attempt. */
final case class StageRec(stageId: Int, submitted: Long, completed: Long,
                          taskMs: Seq[Long], cpuNs: Long, shuffleWrite: Long,
                          shuffleRead: Long, spill: Long)

/** Spark job as seen by the listener: its group (set by the benchmark
  * around each phase), its stages and its wall interval. */
final case class JobRec(jobId: Int, group: String, stageIds: Seq[Int],
                        start: Long, end: Long)

/** The benchmark's SparkListener. Only attached in traced runs; keeps
  * everything in memory and is read after [[drain]]. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val lock = new Object
  private val jobStarts = mutable.Map.empty[Int, (String, Seq[Int], Long)]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val taskAgg = mutable.Map.empty[(Int, Int), Array[Long]] // cpu, shW, shR, spill
  private val stages = mutable.ArrayBuffer.empty[StageRec]

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]

  sc.addSparkListener(this)

  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = lock.synchronized { spans += s }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobStarts(e.jobId) = (group, e.stageIds, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStarts.remove(e.jobId).foreach { case (g, st, t0) =>
      jobs += JobRec(e.jobId, g, st, t0, e.time)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val key = (e.stageId, e.stageAttemptId)
    taskMs.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      val a = taskAgg.getOrElseUpdate(key, new Array[Long](4))
      a(0) += m.executorCpuTime
      a(1) += m.shuffleWriteMetrics.bytesWritten
      a(2) += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      a(3) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    val a = taskAgg.remove(key).getOrElse(new Array[Long](4))
    stages += StageRec(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), taskMs.remove(key).map(_.toSeq).getOrElse(Nil),
      a(0), a(1), a(2), a(3))
  }

  /** Wait until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def jobsSnapshot: Seq[JobRec] = lock.synchronized(jobs.toList)
  def spansSnapshot: Seq[Span] = lock.synchronized(spans.toList)

  /** Jobs whose group starts with `prefix`, with the stages they ran. */
  def select(prefix: String): (Seq[JobRec], Seq[StageRec]) = {
    drain()
    lock.synchronized {
      val js = jobs.filter(_.group.startsWith(prefix)).toList
      val ids = js.flatMap(_.stageIds).toSet
      (js, stages.filter(s => ids(s.stageId)).toList)
    }
  }

  /** Spans plus one job span per Spark job, each job parented to the
    * phase span whose id its group names. Self time is a span's length
    * minus the part of it its children cover. */
  def allSpans(): Seq[(Span, Long)] = {
    drain()
    val js = jobsSnapshot.filter(_.group.startsWith("pb/")).map { j =>
      val parent = j.group.split('/').last.toLong
      Span(nextId(), parent, "job", s"job${j.jobId}", j.start, j.end,
        Map("stages" -> j.stageIds.size.toString))
    }
    val all = spansSnapshot ++ js
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Stats.unionLength(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      s -> (s.ms - covered)
    }
  }
}
