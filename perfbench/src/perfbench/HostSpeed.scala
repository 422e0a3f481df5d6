package perfbench

import java.lang.management.ManagementFactory
import java.util.SplittableRandom

/** A fixed piece of single-threaded work whose CPU time tells how fast
  * the host runs code at the moment: a chase of dependent loads through
  * one random cycle over 16 MB (bound by cache and memory, which the
  * host's other guests share) and a sort of 256 Ki ints (bound by the
  * core). The program is not involved, so a change to the program cannot
  * move it; the host's load does. */
object HostSpeed {
  /** The unit's CPU time on the reference host (a 4-vCPU Xeon guest)
    * while the host is quiet: CPU times divided by the unit and
    * multiplied by this read as seconds on that host. */
  val ReferenceS = 0.18

  private val n = 1 << 22
  // Sattolo's shuffle: a single cycle through all n slots
  private val next = {
    val a = Array.tabulate(n)(identity)
    val r = new SplittableRandom(1)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
  private val unsorted = { val r = new SplittableRandom(2); Array.fill(1 << 18)(r.nextInt()) }
  @volatile private var sink = 0

  private def unit(): Unit = {
    var x = 0
    var i = 0
    while (i < (1 << 20)) { x = next(x); i += 1 }
    val a = unsorted.clone()
    java.util.Arrays.sort(a)
    sink = x + a(0)
  }

  /** CPU seconds of one unit on this thread, `reps` times, after one
    * unmeasured unit. */
  def measure(reps: Int): Seq[Double] = {
    val tm = ManagementFactory.getThreadMXBean
    unit()
    Seq.fill(reps) {
      val t0 = tm.getCurrentThreadCpuTime
      unit()
      (tm.getCurrentThreadCpuTime - t0) / 1e9
    }
  }
}
