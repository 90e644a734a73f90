package graftbench

import java.nio.file.{Files, Paths}

/** CPU time the hypervisor withheld from this virtual machine, from
  * the aggregate `cpu` line of `/proc/stat`. A vCPU accrues steal only
  * while it has work to run, so the stolen share of busy-plus-stolen
  * time is the share of wall time a busy thread lost to the host. */
object Steal {
  /** (busy, stolen) clock ticks since boot; None off Linux. */
  def sample(): Option[(Long, Long)] =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      // cpu user nice system idle iowait irq softirq steal ...
      val v = f.drop(1).map(_.toLong)
      Some((v(0) + v(1) + v(2) + v(5) + v(6), v(7)))
    } catch { case _: Exception => None }

  /** Stolen share of the busy-plus-stolen time between two samples. */
  def share(from: Option[(Long, Long)], to: Option[(Long, Long)]): Double =
    (from, to) match {
      case (Some((b0, s0)), Some((b1, s1))) if b1 - b0 + s1 - s0 > 0 =>
        (s1 - s0).toDouble / (b1 - b0 + s1 - s0)
      case _ => 0.0
    }
}
