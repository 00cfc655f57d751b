package graft.vamana

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** What one block of driver code asked of Spark: the jobs and the stages
  * it ran (every job runs one result stage, so stages beyond the job
  * count are shuffle-map stages), and the shuffle bytes its tasks read
  * and wrote. */
final case class JobCount(jobs: Int, stages: Int, shuffleBytes: Long)

object JobCounter {

  /** Runs `body` under a fresh job group and counts what it ran. Listener
    * events arrive asynchronously, so a one-task sentinel job runs after
    * `body`, and the count is read once the listener has seen the
    * sentinel end: the bus delivers events in order, so every event of
    * `body` came before it. */
  def count(sc: SparkContext)(body: => Unit): JobCount = {
    val group = s"job-count-${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val shuffleBytes = new AtomicLong
    val ourStages = ConcurrentHashMap.newKeySet[Int]()
    val sentinelJobs = ConcurrentHashMap.newKeySet[Int]()
    @volatile var sentinelDone = false
    def groupOf(p: java.util.Properties): String =
      if (p == null) null else p.getProperty("spark.jobGroup.id")
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groupOf(e.properties) match {
        case `group` => jobs.incrementAndGet()
        case `sentinel` => sentinelJobs.add(e.jobId)
        case _ =>
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (sentinelJobs.contains(e.jobId)) sentinelDone = true
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties) == group) {
          stages.incrementAndGet()
          ourStages.add(e.stageInfo.stageId)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (ourStages.contains(e.stageId) && e.taskMetrics != null) {
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten +
            e.taskMetrics.shuffleReadMetrics.totalBytesRead)
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!sentinelDone && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelDone, "the listener bus did not deliver the sentinel job within 60 s")
    } finally sc.removeSparkListener(listener)
    JobCount(jobs.get, stages.get, shuffleBytes.get)
  }
}
