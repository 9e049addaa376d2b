package graft.perfbench

import scala.collection.mutable

/** One timed operation. `primary` operations are the ones the workload's
  * latency and rate metrics are computed over; the others (connects,
  * streaming entries) feed named metrics of their own.
  */
final case class Op(kind: String, nanos: Long, rows: Long, ok: Boolean, primary: Boolean,
    traced: Boolean)

/** Everything a run measures: operations, named metrics and spans. */
final class Recorder(val tracer: Tracer) {
  private val ops = mutable.ArrayBuffer.empty[Op]
  /** name -> (value, unit, samples) in insertion order */
  private val named = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  private val notes = mutable.ArrayBuffer.empty[String]

  def op(kind: String, nanos: Long, rows: Long, ok: Boolean, primary: Boolean = true,
      traced: Boolean = false): Unit =
    ops.synchronized { ops += Op(kind, nanos, rows, ok, primary, traced) }

  def all: Vector[Op] = ops.synchronized(ops.toVector)

  @volatile private var paused = 0L
  /** Run bookkeeping (result checks, emptying a sink) outside the measured
    * time: the run's rates divide by wall time minus these pauses. Only for
    * a single client, whose operations stop while it runs.
    */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally paused += System.nanoTime() - t0
  }
  def pausedNanos: Long = paused

  def put(name: String, value: Double, unit: String, samples: Int = 1): Unit =
    named.synchronized { named(name) = (value, unit, samples) }

  def get(name: String): Option[Double] = named.synchronized(named.get(name).map(_._1))

  def metrics: Seq[(String, (Double, String, Int))] = named.synchronized(named.toVector)

  /** A failed check, kept for the report (the op itself counts as failed). */
  def note(msg: String): Unit = notes.synchronized {
    if (notes.size < 50) notes += msg
  }
  def allNotes: Seq[String] = notes.synchronized(notes.toVector)
}
