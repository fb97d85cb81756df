package graft

/** The one wall-clock timer of the measurement mains (`Bench`,
  * `Inspect --time`, `ScaleBench`).
  */
object Timer {

  /** `body`'s result and the seconds it took. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }
}
