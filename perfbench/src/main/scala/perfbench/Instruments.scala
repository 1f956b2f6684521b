package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Driver rounds and bytes: totals since the listener was registered. */
final case class SparkCounts(jobs: Long, stages: Long, tasks: Long,
    taskCpuNs: Long, inputBytes: Long, inputRecords: Long,
    shuffleWriteBytes: Long, spillBytes: Long) {
  def -(o: SparkCounts): SparkCounts = SparkCounts(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, taskCpuNs - o.taskCpuNs,
    inputBytes - o.inputBytes, inputRecords - o.inputRecords,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)
}

/** The traced run's `SparkListener`. It also times its own callbacks,
  * which is the listener's share of the tracing overhead. */
final class OpListener(sc: SparkContext) extends SparkListener {
  private val jobs, stages, tasks, cpuNs, inBytes, inRecords, shufWrite, spill =
    new AtomicLong(0L)
  val callbackNs = new AtomicLong(0L)

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    callbackNs.addAndGet(System.nanoTime() - t0)
    ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed(jobs.incrementAndGet())
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timed(stages.incrementAndGet())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      inBytes.addAndGet(m.inputMetrics.bytesRead)
      inRecords.addAndGet(m.inputMetrics.recordsRead)
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(): SparkCounts = {
    org.apache.spark.BusDrain(sc)
    SparkCounts(jobs.get, stages.get, tasks.get, cpuNs.get, inBytes.get,
      inRecords.get, shufWrite.get, spill.get)
  }
}

/** Spans recorded around the benchmark's calls into each layer. Spans
  * of one op share its id; they stay in memory and are written once,
  * at exit. A disabled trace records nothing. */
final class Trace(val enabled: Boolean) {
  final case class Span(op: Int, name: String, parent: String,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  private val spans = ArrayBuffer.empty[Span]
  val bookkeepingNs = new AtomicLong(0L)

  def span[T](op: Int, name: String, parent: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.synchronized(spans += Span(op, name, parent, t0, t1))
        bookkeepingNs.addAndGet(System.nanoTime() - t1)
      }
    }

  def ms(name: String): Seq[Double] =
    spans.synchronized(spans.filter(_.name == name).map(_.ms).toSeq)

  def medianMs(name: String): Double = {
    val xs = ms(name)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  def write(path: String): Unit = if (enabled) {
    Files.createDirectories(Paths.get(path).getParent)
    val rows = spans.synchronized(spans.toList).map { s =>
      Map("op" -> s.op, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)
    }
    Files.writeString(Paths.get(path), Json.render(rows) + "\n")
    ()
  }
}
