package perfbench

import graft.ring.Triple

/** The ring algebra alone (`graft.ring.Triple`), at a workload's widths,
  * on rows and triples taken from that workload's data. */
object RingBench {

  private var sink = 0L

  /** Calls of `f` per second, over at least `minS` seconds. */
  private def rate(minS: Double)(f: => Triple): Double = {
    val t0 = System.nanoTime()
    var calls = 0L
    var el = 0.0
    while (el < minS) {
      sink += f.n
      calls += 1
      el = (System.nanoTime() - t0) / 1e9
    }
    calls / el
  }

  def run(in: RingInputs, minS: Double = 0.5): Map[String, Double] = {
    val (n, m) = (in.rows.head._1.length, in.rows.head._2.length)
    def liftAdd(): Triple = in.rows.foldLeft(Triple.zero(n, m)) { case (acc, (x, c)) =>
      Triple.add(acc, Triple.lift(x, c))
    }
    def addSub(): Triple = Triple.subtract(Triple.add(in.a, in.b), in.b)
    def mul(): Triple = Triple.multiply(in.a, in.factor)
    // warm-up: JIT the three paths before measuring
    rate(minS / 4)(liftAdd()); rate(minS / 4)(addSub()); rate(minS / 4)(mul())
    Map(
      "ring.lift_add_rows_per_s" -> rate(minS)(liftAdd()) * in.rows.length,
      "ring.add_subtract_per_s" -> rate(minS)(addSub()) * 2,
      "ring.multiply_per_s" -> rate(minS)(mul()))
  }
}
