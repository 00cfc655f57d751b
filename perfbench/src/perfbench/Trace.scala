package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around each call into a layer: a name,
  * a start, an end and the enclosing span. Kept in memory and written out
  * when the run ends. A disabled tracer only runs the body. */
final class Tracer(on: Boolean) {
  private var recording = on
  def enabled: Boolean = on

  /** Runs `body` with span recording off. */
  def paused[T](body: => T): T = {
    recording = false
    try body finally recording = on
  }

  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def durationsMs(name: String): Seq[Double] = spans.iterator.filter(_.name == name).map(_.ms).toSeq

  /** Per span name: total time minus the part its direct children cover. */
  def selfMs: Map[String, Double] = {
    val childMs = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    spans.groupMapReduce(_.name)(s => s.ms - childMs(s.id))(_ + _)
  }

  def toJson: String = {
    val base = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ms":${(s.startNs - base) / 1e6},"end_ms":${(s.endNs - base) / 1e6}}"""
    }.mkString("[", ",\n", "]")
  }
}

/** Spark scheduler counters, summed over every job the listener sees. */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleBytes = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val deserMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      deserMs.addAndGet(m.executorDeserializeTime)
    }
  }

  /** (jobs, stages, tasks, shuffle bytes, run ms, cpu ms, deser ms),
    * read after every queued event has been delivered. */
  def snapshot(sc: SparkContext): Array[Double] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Array(jobs.get, stages.get, tasks.get, shuffleBytes.get, runMs.get,
      cpuNs.get / 1e6, deserMs.get).map(_.toDouble)
  }
}
