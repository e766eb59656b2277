package graftbench

/** A fixed piece of work that does not touch the program: `threads`
  * threads each sort their own copy of the same pseudo-random array.
  * Its wall time, taken between passes, tracks how fast the machine
  * runs at that moment, which on a shared host drifts over minutes.
  */
object Reference {
  private val data: Array[Long] = {
    val r = new java.util.SplittableRandom(42L)
    Array.fill(1 << 19)(r.nextLong())
  }

  /** Wall milliseconds of one round of the reference work. */
  def runMs(threads: Int): Double = {
    val workers = Array.fill(threads)(new Thread(() => java.util.Arrays.sort(data.clone())))
    val t0 = System.nanoTime()
    workers.foreach(_.start())
    workers.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }
}
