package graft.core

/** THE host-steal measurement helper — one definition shared by Bench
  * and ScalingBench so the "steal-clean window" predicate cannot fork
  * between the tools that feed BENCH.md's accepted numbers
  * (it did once: Bench tightened its floor 60 → 20 ticks per VERDICT r3
  * while ScalingBench kept 60).
  *
  * This sandbox shows intermittent host CPU-steal storms (identical work
  * varies 10x for ~30 s periods; /proc/stat field 8 confirms). A timed
  * window is "clean" when it saw at most ~1 stolen core on average
  * (100 USER_HZ ticks per stolen core-second), floored at 20 ticks for
  * /proc/stat tick granularity on sub-second windows. Steal ticks certify
  * CPU quiet only — co-tenant memory-bandwidth contention does NOT tick
  * steal and has measured 4-5x swings; compare absolute levels against
  * BENCH.md's accepted bests before recording any ratio.
  */
object Steal {

  /** Cumulative host steal ticks (USER_HZ) from /proc/stat; 0 when
    * unreadable (non-Linux / restricted). */
  def stealTicks(): Long =
    try
      scala.util.Using.resource(scala.io.Source.fromFile("/proc/stat")) { src =>
        val line = src.getLines().next()
        line.trim.split("\\s+").drop(1).map(_.toLong).lift(7).getOrElse(0L)
      }
    catch { case _: Throwable => 0L }

  /** (wall seconds, steal ticks observed during the call). */
  def timeWithSteal(f: => Unit): (Double, Long) = {
    val s0 = stealTicks()
    val t0 = System.nanoTime()
    f
    ((System.nanoTime() - t0) / 1e9, stealTicks() - s0)
  }

  /** Whether a measured (sec, stealTicks) window was steal-clean. */
  def clean(m: (Double, Long)): Boolean =
    m._2 <= math.max(20L, (100.0 * m._1).toLong)
}
