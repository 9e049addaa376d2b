package graft.pg.server

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics

/** One finished (or failed/canceled) statement execution, kept in the
  * recent-statement ring for the monitoring UI (the reference listener's
  * statement store, SQLServerListener.scala:117-176).
  */
final case class StmtEvent(
    pid: Int,
    statement: String,
    state: String,
    startedAt: Long,
    durationMs: Long)

/** Session/statement event tracking (the reference's SQLServerListener,
  * SQLServerListener.scala:68-176). Counters are exposed to clients through
  * the `graft_stat('name')` function and, with the web UI enabled, through
  * [[GraftWebUi]]'s overview/JSON pages.
  */
object ServerStats {
  val sessionsOpened = new AtomicLong
  val sessionsClosed = new AtomicLong
  val statementsRun = new AtomicLong
  val statementsFailed = new AtomicLong
  val rowsStreamed = new AtomicLong
  val startedAt: Long = System.currentTimeMillis()

  /** last 100 statement executions, newest first (bounded — the reference
    * trims its listener stores the same way, SQLServerListener.scala:150).
    */
  private val RecentMax = 100
  private val recent = new java.util.ArrayDeque[StmtEvent](RecentMax)

  def record(ev: StmtEvent): Unit = recent.synchronized {
    if (recent.size >= RecentMax) recent.removeLast()
    recent.addFirst(ev)
  }

  def recentStatements: Seq[StmtEvent] = recent.synchronized {
    import scala.jdk.CollectionConverters._
    recent.iterator().asScala.toVector
  }

  def active: Long = sessionsOpened.get - sessionsClosed.get

  def get(name: String): Long = name match {
    case "sessions_opened" => sessionsOpened.get
    case "sessions_closed" => sessionsClosed.get
    case "sessions_active" => active
    case "statements_run" => statementsRun.get
    case "statements_failed" => statementsFailed.get
    case "rows_streamed" => rowsStreamed.get
    // Janino compiles of generated code since the JVM started; process-wide,
    // so it counts every session and every caller of Spark in the process
    case "codegen_compiles" => CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    case _ => -1L
  }
}
