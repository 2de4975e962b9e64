package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** CPU time the hypervisor gave to other guests while this one wanted it
  * (the `steal` column of /proc/stat). Recorded in the context line as a
  * run condition; no reported time is adjusted by it. */
object Steal {
  /** (busy, steal) jiffies summed over all CPUs; (0, 0) off Linux. */
  def sample(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8)
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case _: Exception => (0L, 0L) }

  /** Share of the wanted CPU time between two samples that was stolen. */
  def share(from: (Long, Long), to: (Long, Long)): Double = {
    val busy = to._1 - from._1
    val stolen = to._2 - from._2
    if (busy + stolen <= 0) 0.0 else stolen.toDouble / (busy + stolen)
  }
}
