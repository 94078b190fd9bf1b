package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with nanoTime resolution, so span
  * times, generator due times and the snapshot log's commit stamps
  * (epoch micros) share one time base. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** Spans around the benchmark's calls into the program's layers.
  * Kept in memory; written out once at exit. Off = the body runs with
  * no bookkeeping at all. */
final class Tracer {
  @volatile var on: Boolean = false

  final case class Span(id: Long, parent: Long, corr: String, layer: String,
      name: String, startMs: Double, endMs: Double, thread: String)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](layer: String, name: String, corr: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val open = stack.get()
      stack.set(id :: open)
      val t0 = Clock.nowMs
      try body
      finally {
        spans.add(Span(id, open.headOption.getOrElse(0L), corr, layer, name,
          t0, Clock.nowMs, Thread.currentThread().getName))
        stack.set(open)
      }
    }

  def rows: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.id).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "corr" -> s.corr,
      "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "thread" -> s.thread)
  }
}

/** Engine counters per Spark job, from the public listener events.
  * Tasks are charged to the job that submitted their stage. */
final class EngineListener extends SparkListener {

  final class JobRec(val id: Int, val startMs: Long) {
    @volatile var endMs: Long = -1L
    val stages = new AtomicLong
    val tasks = new AtomicLong
    val runMs = new AtomicLong
    val cpuNs = new AtomicLong
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
    val peakMem = new AtomicLong
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, new JobRec(e.jobId, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  private def jobOf(stageId: Int): Option[JobRec] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    jobOf(e.stageInfo.stageId).foreach(_.stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) jobOf(e.stageId).foreach { j =>
      j.tasks.incrementAndGet()
      j.runMs.addAndGet(m.executorRunTime)
      j.cpuNs.addAndGet(m.executorCpuTime)
      j.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      j.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      j.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      j.peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  def rows: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.id)
    .map { j =>
      Map("id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "stages" -> j.stages.get, "tasks" -> j.tasks.get,
        "run_ms" -> j.runMs.get, "cpu_ns" -> j.cpuNs.get,
        "shuffle_read" -> j.shuffleRead.get,
        "shuffle_write" -> j.shuffleWrite.get, "spill" -> j.spill.get,
        "peak_mem" -> j.peakMem.get)
    }
}
