package perfbench

import java.nio.file.{Files, Paths}

/** The clock passes and operations are timed by: wall time less the
  * time the host took the machine's virtual CPUs away (steal), which
  * the program does not cause. On a shared host steal comes in waves of
  * minutes, and it lengthens this latency-bound work out of proportion:
  * at local[4] on a 4-vCPU virtual machine, 60 warm ingest rounds took
  * 0.44 s longer per second of steal summed over the CPUs (the slope
  * within each of ten runs), and runs with up to 26 s of steal in their
  * measured rounds read up to 75% slower than quiet ones. On a machine
  * without steal the clock is the wall clock. */
object Clock {

  /** Seconds of pass time per second of steal: the slope above. */
  val StealCost = 0.45

  private val stat = Paths.get("/proc/stat")

  /** Steal seconds summed over the machine's CPUs since boot; 0 where
    * the kernel does not report them. */
  def steal(): Double =
    if (!Files.isReadable(stat)) 0.0
    else Files.readAllLines(stat).get(0).trim.split("\\s+").lift(8).fold(0.0)(_.toDouble / 100)
}

/** Wall and steal seconds of one piece of work. */
final case class Timing(wall: Double, steal: Double) {
  /** The work's time by [[Clock]]. */
  def seconds: Double = wall - Clock.StealCost * steal
}

/** Times one piece of work by [[Clock]]. */
final class Stopwatch {
  private val t0 = System.nanoTime()
  private val steal0 = Clock.steal()

  def read(): Timing = Timing((System.nanoTime() - t0) / 1e9, Clock.steal() - steal0)
}
