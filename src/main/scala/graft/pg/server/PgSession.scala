package graft.pg.server

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import graft.pg.wire.PgTypes

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{StringType, StructType}

/** A named prepared statement ('P' message): unanalyzed plan + the schema
  * captured eagerly so Describe can answer before Bind (reference
  * protocol.scala:559-582, QueryState protocol.scala:994-1008). A
  * simple-Query statement is an unnamed one whose schema stays null: it is
  * analyzed once, when its portal runs.
  */
final case class Prepared(
    name: String,
    sql: String,
    plan: LogicalPlan,
    paramIds: Seq[Int],
    schema: StructType,
    paramOids: Seq[Int] = Seq.empty,
    /** PG EXPLAIN ANALYZE (simple Query, or prepared by DBeaver's explain
      * button / pgjdbc executeQuery): `plan` is the INNER statement,
      * executed when the portal runs with its plan+metrics streamed as the
      * one-column QUERY PLAN result.
      */
    explainAnalyze: Boolean = false,
    /** Parse-time resolved plan for the cacheable path (pure query, no
      * params, no driver-folded session functions): consumed ONCE by the
      * first Bind so that Parse→Bind→Execute costs a single analysis.
      * One-shot on purpose — later Binds of a client-cached statement
      * re-analyze, keeping today's per-execution freshness semantics.
      */
    cachedAnalyzed: Option[LogicalPlan] = None) {
  private val freshAnalyzed =
    new java.util.concurrent.atomic.AtomicReference[LogicalPlan](cachedAnalyzed.orNull)
  def takeAnalyzed(): Option[LogicalPlan] = Option(freshAnalyzed.getAndSet(null))

  /** PG's parameter count: the declared types plus any higher `$n` the
    * text uses. Describe reports this many and a Bind must supply them.
    */
  def paramCount: Int = (paramOids.length +: paramIds).max

  /** The type of parameter `i` (0-based): as declared, else text. */
  def paramOid(i: Int): Int =
    paramOids.lift(i).filter(_ != PgTypes.UNSPECIFIED).getOrElse(PgTypes.VARCHAR)
}

/** A portal: statement + bound plan + result formats + the cursor position
  * across Execute calls (reference PortalState protocol.scala:1010-1014,
  * cursor fetch :437-504). Every flow runs one — a Bind, a DECLAREd cursor
  * and each simple-Query statement (PG's unnamed portal). `op` is the
  * statement's lifecycle; every Execute of a suspended portal re-enters it.
  */
final class Portal(
    val name: String,
    val stmt: Prepared,
    val bound: LogicalPlan,
    /** result columns; null until a simple-Query portal starts */
    var schema: StructType,
    wantBinary: Int => Boolean,
    val op: Operation) {
  /** Per-column result format: binary where the client asked for it and
    * RowCodec has a binary encoder (strings always go as text).
    */
  lazy val formats: Seq[Boolean] = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
    wantBinary(i) && PgTypes.binaryCapable(f.dataType) && f.dataType != StringType
  }
  /** Dataset built from the Parse-time resolved plan (cacheable path):
    * the portal runs THIS instance instead of re-analyzing `bound`.
    */
  var df: org.apache.spark.sql.DataFrame = _
  var rows: Iterator[InternalRow] = _
  var rowCount: Long = 0L
  def started: Boolean = rows != null
}

/** Per-connection session: an isolated SparkSession (shared SparkContext,
  * own temp views/conf — reference SparkSQLServiceManager.scala:112-117),
  * prepared statements, portals, and the cancel key.
  */
final class PgSession(val pid: Int, val secret: Int, val spark: SparkSession,
    /** true when `spark` is this connection's own newSession() clone —
      * close() then drops its Tables relation memo (in singleSession mode
      * the shared base session outlives every connection, so its memo stays)
      */
    val isolated: Boolean = true) {
  val statements = mutable.Map.empty[String, Prepared]
  val portals = mutable.Map.empty[String, Portal]
  private val stmtCounter = new AtomicInteger(0)
  @volatile var lastActivity: Long = System.currentTimeMillis()
  @volatile var busy: Boolean = false
  @volatile var onReap: () => Unit = () => ()
  /** most recent statement text (pg_stat_activity.query semantics: PG
    * keeps showing the LAST query when the backend goes idle)
    */
  @volatile var currentQuery: String = ""
  @volatile var appName: String = ""
  /** (senderPid, channel, payload) -> write a NotificationResponse on this
    * session's connection; installed by the wire handler at startup
    */
  @volatile var notifySink: (Int, String, String) => Unit = _
  val backendStart: Long = System.currentTimeMillis()
  def touch(): Unit = lastActivity = System.currentTimeMillis()

  /** job-group id for the next statement; cancellation targets the group
    * (reference ExecutorImpl.scala:68-84).
    */
  def nextJobGroup(): String = s"pg-$pid-${stmtCounter.incrementAndGet()}"
  @volatile var activeJobGroup: String = _

  def cancel(): Unit = {
    val g = activeJobGroup
    if (g != null) spark.sparkContext.cancelJobGroup(g)
  }

  def close(): Unit = {
    statements.clear()
    portals.clear()
    PgNotify.unlistenAll(pid)
    if (isolated) graft.Tables.invalidate(spark)
    SessionRegistry.unregister(pid)
  }
}

/** pid -> session map for out-of-band CancelRequest routing (reference
  * protocol.scala:1168-1184).
  */
object SessionRegistry {
  private val sessions = new ConcurrentHashMap[Int, PgSession]()
  private val pids = new AtomicInteger(1000)
  private val rnd = new java.security.SecureRandom()

  def create(base: SparkSession, singleSession: Boolean = false): PgSession = {
    // single-session mode shares the base session across connections (temp
    // views/conf visible to all, reference SparkSQLServiceManager.scala:
    // 107-133); multi-session isolates with newSession()
    val spark = if (singleSession) base else base.newSession()
    val s = new PgSession(pids.incrementAndGet(), rnd.nextInt(), spark,
      isolated = !singleSession)
    // clients scan raw parquet incl. TIMESTAMP(NANOS) columns
    s.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.spark.conf.set("spark.sql.crossJoin.enabled", "true")
    // psql metadata queries alias with double-quoted identifiers
    s.spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    sessions.put(s.pid, s)
    s
  }
  def cancel(pid: Int, secret: Int): Unit = {
    val s = sessions.get(pid)
    if (s != null && s.secret == secret) s.cancel()
  }

  /** `pg_cancel_backend(pid)`: cancel the target's running statement. The
    * wire CancelRequest needs the secret; the SQL function is the
    * superuser/admin path (this server has no role system — every session
    * is effectively superuser, as is_superuser reports).
    */
  def adminCancel(pid: Int): Boolean = {
    val s = sessions.get(pid)
    if (s == null) false else { s.cancel(); true }
  }

  /** `pg_terminate_backend(pid)`: cancel, close the connection, drop the
    * session.
    */
  def adminTerminate(pid: Int): Boolean = {
    val s = sessions.get(pid)
    if (s == null) false
    else {
      s.cancel()
      s.onReap() // closes the Netty channel like the idle reaper does
      s.close()
      true
    }
  }
  def unregister(pid: Int): Unit = sessions.remove(pid)

  private[server] def get(pid: Int): Option[PgSession] = Option(sessions.get(pid))

  /** The pid of the session whose wire message this thread is currently
    * processing (set by the server around every typed-message dispatch).
    * Required for singleSession mode, where every connection shares the
    * base SparkSession and an identity scan cannot tell connections apart.
    */
  private val currentPid = new ThreadLocal[Integer]

  private[server] def withCurrentPid[T](pid: Int)(body: => T): T = {
    val prev = currentPid.get()
    currentPid.set(pid)
    try body finally currentPid.set(prev)
  }

  /** Reverse lookup: the session owning a given SparkSession. The executing
    * connection's pinned pid wins when its session holds this exact
    * SparkSession (always true in singleSession mode, where the identity
    * scan below would pick an arbitrary connection); the identity scan is
    * the fallback for calls outside a wire dispatch (each multi-mode wire
    * session holds its own newSession() clone). Lets parser-level commands
    * that only receive a SparkSession (NOTIFY, pg_notify) find their wire
    * identity.
    */
  private[server] def pidOfSession(spark: SparkSession): Option[Int] = {
    import scala.jdk.CollectionConverters._
    val pinned = currentPid.get()
    if (pinned != null && get(pinned.intValue()).exists(_.spark eq spark)) {
      Some(pinned.intValue())
    } else {
      sessions.values().asScala.find(_.spark eq spark).map(_.pid)
    }
  }

  /** Close sessions idle past the timeout (reference idle reaping,
    * SparkSQLServiceManager.scala:137-158).
    */
  def reapIdle(timeoutMs: Long): Unit = {
    val cutoff = System.currentTimeMillis() - timeoutMs
    sessions.forEach { (_, s) =>
      // a session with a statement mid-flight is not idle, no matter how
      // long ago its last frame arrived
      if (s.lastActivity < cutoff && !s.busy) {
        s.cancel()
        s.onReap()
        s.close()
      }
    }
  }

  private[server] def activeCount: Int = sessions.size()

  /** (pid, busy, backendStart, lastQuery) per live session — the
    * pg_stat_activity backing rows.
    */
  private[server] def activity: Seq[(Int, Boolean, Long, String)] = {
    import scala.jdk.CollectionConverters._
    sessions.values().asScala.toVector
      .map(s => (s.pid, s.busy, s.backendStart, s.currentQuery))
      .sortBy(_._1)
  }

  /** (pid, busy, ms since last activity) per live session, for the UI. */
  private[server] def snapshot: Seq[(Int, Boolean, Long)] = {
    val now = System.currentTimeMillis()
    import scala.jdk.CollectionConverters._
    sessions.values().asScala.toVector
      .map(s => (s.pid, s.busy, now - s.lastActivity))
      .sortBy(_._1)
  }
}

/** Live `pg_stat_activity` emulation: unlike the static pg_catalog views
  * (snapshotted per connection at startup), this one must reflect sessions
  * that appear and disappear at any moment — so the server re-registers it
  * immediately before executing any statement that references it. The
  * querying backend reports itself `active` with the in-flight statement,
  * exactly PG's behavior.
  */
private[server] object StatActivity {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types.StructType

  def register(spark: org.apache.spark.sql.SparkSession,
      selfPid: Int, selfQuery: String): Unit = {
    val rows: Seq[Row] = SessionRegistry.activity.map { case (pid, busy, start, q) =>
      // a live SET application_name wins over the startup value — PG updates
      // pg_stat_activity.application_name on SET
      val appName = SessionRegistry.get(pid).map(s =>
        s.spark.conf.getOption("application_name").getOrElse(s.appName)).getOrElse("")
      val (state, query) =
        if (pid == selfPid) ("active", selfQuery)
        else (if (busy) "active" else "idle", q)
      Row(pid, "spark-user", "default", appName, state, query,
        new java.sql.Timestamp(start))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType.fromDDL(
        "pid INT, usename STRING, datname STRING, application_name STRING, " +
          "state STRING, query STRING, backend_start TIMESTAMP"))
      .createOrReplaceTempView("pg_stat_activity")
  }

  /** `pg_stat_statements` emulation over the ServerStats recent-statement
    * ring: per-statement-text call counts and execution-time statistics —
    * the workload-profiling view DBAs reach for first. Bounded by the
    * ring's 100-event window (the real extension has its own bounded
    * hashtable; PG semantics of "recent workload profile" are preserved).
    */
  def registerStatements(spark: org.apache.spark.sql.SparkSession): Unit = {
    val rows: Seq[Row] = ServerStats.recentStatements
      .groupBy(_.statement)
      .map { case (q, evs) =>
        val times = evs.map(_.durationMs.toDouble)
        Row(q, evs.size.toLong, times.sum, times.min, times.max,
          times.sum / times.size)
      }.toSeq
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType.fromDDL(
        "query STRING, calls BIGINT, total_exec_time DOUBLE, " +
          "min_exec_time DOUBLE, max_exec_time DOUBLE, mean_exec_time DOUBLE"))
      .createOrReplaceTempView("pg_stat_statements")
  }
}
