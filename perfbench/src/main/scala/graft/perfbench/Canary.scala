package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** Host-burst canary: a thread that asks to wake every `periodMs` and
  * records how late each wake-up is. A stalled or frozen machine wakes it
  * late by tens of milliseconds and more; see [[Canary.contaminated]] for
  * the rule that marks a run.
  */
final class Canary(periodMs: Long = 5) {
  private val drifts = ArrayBuffer.empty[Double]
  @volatile private var running = true
  private val thread = new Thread(() => {
    val period = periodMs * 1000000L
    var due = System.nanoTime() + period
    while (running) {
      val wait = due - System.nanoTime()
      if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
      val late = System.nanoTime() - due
      if (late >= 0) {
        drifts.synchronized { drifts += late / 1e6 }
        due += period * (1 + late / period)
      }
    }
  }, "perfbench-canary")
  thread.setDaemon(true)

  def start(): Unit = thread.start()
  def stop(): Unit = { running = false; thread.join() }
  def samples: Seq[Double] = drifts.synchronized(drifts.toVector)
}

object Canary {
  /** p99 wake-up drift above which a run is marked contaminated. The
    * benchmark's own threads keep every core busy, so a clean run already
    * sees a p99 near 10 ms on a 4-core machine.
    */
  val MaxP99Ms = 50.0
  /** Share of the machine's CPU used by other processes, or taken by the
    * hypervisor, above which a run is marked contaminated. A CPU hog that
    * shares the cores hardly moves the canary (the cores were already
    * busy) but shows here.
    */
  val MaxForeignShare = 0.10

  def contaminated(driftP99Ms: Double, foreignShare: Double, stealShare: Double): Boolean =
    driftP99Ms > MaxP99Ms || foreignShare > MaxForeignShare || stealShare > MaxForeignShare
}
