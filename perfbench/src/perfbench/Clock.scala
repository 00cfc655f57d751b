package perfbench

import java.nio.file.{Files, Paths}

/** Call timing net of hypervisor steal. /proc/stat counts, over all vCPUs,
  * the time the host withheld from runnable vCPUs (steal) next to the time
  * they ran. Over one call, busy/wall is how many vCPUs were runnable on
  * average, and steal divided by that count is the time an average
  * runnable thread of the call lost to the host. Without /proc/stat the
  * net time is the wall time. */
object Clock {
  private val hz = 100.0

  /** Cumulative (busy including steal, steal) jiffies over all vCPUs. */
  private def jiffies(): (Double, Double) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toDouble)
      // user nice system idle iowait irq softirq steal
      if (f.length < 8) (0.0, 0.0) else (f(0) + f(1) + f(2) + f(5) + f(6) + f(7), f(7))
    } catch { case _: Exception => (0.0, 0.0) }

  /** Runs `body`; returns (wall seconds, wall seconds net of steal). */
  def time(body: => Unit): (Double, Double) = {
    val (busy0, steal0) = jiffies()
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    val (busy1, steal1) = jiffies()
    val runnable = math.max(1.0, (busy1 - busy0) / hz / wall)
    val lost = (steal1 - steal0) / hz / runnable
    (wall, math.max(wall / 2, wall - lost))
  }
}
