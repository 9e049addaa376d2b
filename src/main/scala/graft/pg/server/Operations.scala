package graft.pg.server

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

/** Statement lifecycle: INITIALIZED -> RUNNING -> FINISHED / CANCELED /
  * ERROR, terminal CLOSED (reference OperationManager.scala:29-97,
  * ExecutorImpl.scala:68-91). Cancellation reaches the statement's Spark
  * job group and the partition its handler thread computes.
  */
object OpState extends Enumeration {
  val Initialized, Running, Finished, Canceled, Error, Closed = Value
}

/** Raised when `statement_timeout` fires; maps to SQLSTATE 57014. */
final class StatementTimeoutException(msg: String) extends RuntimeException(msg)

/** Raised when a client cancel request lands; maps to SQLSTATE 57014
  * (PG uses query_canceled for both cases, distinguished by message).
  */
final class QueryCanceledException(msg: String) extends RuntimeException(msg)

/** A server-side error that already knows its PG SQLSTATE (e.g. DEALLOCATE
  * of an unknown statement name → 26000 invalid_sql_statement_name).
  */
final class PgStateException(msg: String, val state: String)
  extends RuntimeException(msg)

object Operation {
  /** One shared daemon timer arms every statement's timeout; firing just
    * cancels a job group, so a single thread never backs up.
    */
  private[server] val timeoutScheduler = {
    Executors.newSingleThreadScheduledExecutor((r: Runnable) => {
      val t = new Thread(r, "graft-statement-timeout")
      t.setDaemon(true)
      t
    })
  }

  /** PG accepts `statement_timeout` as bare milliseconds or with a unit
    * suffix; 0 or unparseable disables. One parser for arm-time and
    * SHOW-time so the displayed and the armed value can never drift.
    */
  private[server] def parseTimeoutMs(v: String): Long = graft.pg.PgGuc.parseMs(v)
}

final class Operation(val session: PgSession, val statement: String) {
  private val state = new AtomicReference[OpState.Value](OpState.Initialized)
  val jobGroup: String = session.nextJobGroup()
  @volatile var startedAt: Long = 0L

  def currentState: OpState.Value = state.get()

  private val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val interrupt = new org.apache.spark.sql.graft.Internals.TaskInterrupt

  /** Rows the current [[run]] sent to the client; published to
    * `rows_streamed` when the body completes.
    */
  private[server] var rowsSent: Long = 0L

  /** Run `body` under this operation's job group with state tracking — the
    * one place statements and streamed rows are counted. A suspended portal
    * re-enters `run` on every Execute; it still counts as one statement.
    */
  def run[T](body: => T): T = {
    if (state.getAndSet(OpState.Running) == OpState.Initialized) {
      ServerStats.statementsRun.incrementAndGet()
    }
    rowsSent = 0L
    startedAt = System.currentTimeMillis()
    session.busy = true
    session.currentQuery = statement
    session.activeOp = this
    val sc = session.spark.sparkContext
    sc.setJobGroup(jobGroup, statement.take(80), interruptOnCancel = true)
    // per-session fair-scheduler pool so one heavy statement cannot starve
    // concurrent sessions' jobs (reference ExecutorImpl.scala:131-145);
    // under the default FIFO scheduler the property is inert
    sc.setLocalProperty("spark.scheduler.pool", s"graft-pg-${session.pid}")
    // PG statement_timeout: SET through the session conf, armed per
    // statement, fires as a job-group cancel + SQLSTATE 57014. Resolved
    // through the same GUC layer SHOW uses (override -> startup default ->
    // builtin), so a timeout seeded via the startup packet or pgjdbc's
    // options=-c arms exactly as displayed.
    val timeoutMs = Operation.parseTimeoutMs(
      graft.pg.PgGuc.value(session.spark, "statement_timeout").getOrElse("0"))
    val timer = if (timeoutMs > 0) {
      Some(Operation.timeoutScheduler.schedule(new Runnable {
        override def run(): Unit = { timedOut.set(true); cancel() }
      }, timeoutMs, TimeUnit.MILLISECONDS))
    } else None
    try {
      val r = org.apache.spark.sql.graft.Internals.interruptibleBy(interrupt)(body)
      ServerStats.rowsStreamed.addAndGet(rowsSent)
      state.compareAndSet(OpState.Running, OpState.Finished)
      r
    } catch {
      case e: Throwable =>
        if (state.get() == OpState.Canceled) {
          if (timedOut.get()) {
            throw new StatementTimeoutException(
              s"canceling statement due to statement timeout (${timeoutMs}ms)")
          }
          throw new QueryCanceledException("canceling statement due to user request")
        }
        state.set(OpState.Error)
        throw e
    } finally {
      timer.foreach(_.cancel(false))
      session.busy = false
      session.touch() // a just-finished statement resets the idle clock
      sc.setLocalProperty("spark.scheduler.pool", null)
      sc.clearJobGroup()
      ServerStats.record(StmtEvent(session.pid, statement.take(200),
        state.get().toString, startedAt, System.currentTimeMillis() - startedAt))
    }
  }

  /** Stops the running statement: its Spark jobs, and the partition its
    * handler thread computes (`Internals.handlerThreadRows`).
    */
  def cancel(): Unit = {
    if (state.compareAndSet(OpState.Running, OpState.Canceled)) {
      session.spark.sparkContext.cancelJobGroup(jobGroup)
      interrupt.interrupt("canceling statement")
    }
  }

  def close(): Unit = state.set(OpState.Closed)
}

/** Idle-session reaper (reference SparkSQLServiceManager idle checker,
  * SparkSQLServiceManager.scala:137-158): sessions quiet longer than the
  * timeout are closed and unregistered.
  */
final class SessionReaper(timeoutMs: Long, periodMs: Long = 10000) {
  private val exec = Executors.newSingleThreadScheduledExecutor(r => {
    val t = new Thread(r, "graft-session-reaper"); t.setDaemon(true); t
  })

  def start(): Unit =
    exec.scheduleWithFixedDelay(() => SessionRegistry.reapIdle(timeoutMs),
      periodMs, periodMs, TimeUnit.MILLISECONDS)

  def stop(): Unit = exec.shutdownNow()
}
