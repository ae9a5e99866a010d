package perfbench

/** Host-load sentinel: a fixed amount of single-threaded integer work,
  * timed between ops when the engine is idle. On a quiet host it takes
  * the same time at the start, middle and end of a run; a run whose
  * host got busier partway reads a drift above 1.
  */
object Sentinel {
  private val Iterations = 10000000

  /** One pass of the fixed work; the result keeps the JIT from removing it. */
  def work(): Long = {
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < Iterations) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xFF
      i += 1
    }
    acc
  }

  @volatile private var sink = 0L

  /** Median milliseconds of `reps` passes. */
  def timeMs(reps: Int = 5): Double = {
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      sink += work()
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(ts)
  }

  /** Largest over smallest of the readings; 1 on a steady host. */
  def drift(readings: Seq[Double]): Double = readings.max / readings.min
}
