package perfbench

/** Fixed reference work that runs none of the program's code. It is timed
  * next to every timed pass and set-up round, so that the report can give
  * those times at a fixed speed of the box: the shared host's speed drifts
  * by up to half over minutes, and moves the program's times with it.
  */
object Calibration {
  private val base: Array[Int] = {
    val r = new scala.util.Random(7)
    Array.fill(1 << 20)(r.nextInt())
  }

  /** Seconds for `cores` threads, each sorting its own copy of a fixed
    * 1 Mi-int array: the same number of busy cores as the Spark session,
    * on work that is both compute- and memory-bound.
    */
  def refS(cores: Int): Double = {
    val t = System.nanoTime()
    val ts = (1 to cores).map { _ =>
      val th = new Thread(() => java.util.Arrays.sort(base.clone()))
      th.start()
      th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t) / 1e9
  }
}
