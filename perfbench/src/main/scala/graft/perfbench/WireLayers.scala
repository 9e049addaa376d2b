package graft.perfbench

import java.nio.ByteBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Internals

import graft.pg.{PgCatalog, PgDialect, PgGuc, PgParserInterface}
import graft.pg.server.ServerStats
import graft.pg.wire.{ParamCodec, PgTypes, RowCodec}
import graft.queries.CtePrune

/** Per-layer timing for the wire workloads, all taken from outside the
  * program: server phases from client arrival times, and the dialect,
  * engine and codec layers by replaying the same statement in-process
  * through the public functions the server calls, in the server's order.
  */
object WireLayers {

  /** Spans for one extended-protocol round: the whole round, then Parse,
    * Bind, Describe, Execute (with the wait for the first row inside it)
    * and Sync, as delimited by the replies' arrival times.
    */
  def phases(t: Tracer, r: Round, root: String): Unit = if (t.enabled) {
    val op = t.record(root, r.sent, r.ready)
    t.count("server.rounds", 1)
    t.count("server.messages", r.messages)
    t.count("server.bytes", r.bytes)
    t.count("server.rows", r.rows)
    def rec(name: String, a: Long, b: Long, parent: Int = op): Int =
      if (a > 0 && b >= a) t.record(name, a, b, parent) else -1
    rec("server.parse", r.sent, r.parseDone)
    rec("server.bind", r.parseDone, r.bindDone)
    rec("server.describe", r.bindDone, r.describeDone)
    val start = if (r.describeDone > 0) r.describeDone else r.sent
    val ex = rec("server.execute", start, r.executeDone)
    if (r.rows > 0 && ex >= 0) rec("server.first_row", start, r.firstRow, ex)
    rec("server.sync", r.executeDone, r.ready)
  }

  final case class Counters(run: Long, failed: Long, rows: Long, opened: Long)
  def serverCounters(): Counters = Counters(ServerStats.statementsRun.get,
    ServerStats.statementsFailed.get, ServerStats.rowsStreamed.get, ServerStats.sessionsOpened.get)

  def reportServer(rec: Recorder, a: Counters, b: Counters): Unit = {
    rec.put("server.stmts_run", (b.run - a.run).toDouble, "count")
    rec.put("server.stmts_failed", (b.failed - a.failed).toDouble, "count")
    rec.put("server.rows_streamed", (b.rows - a.rows).toDouble, "count")
    rec.put("server.sessions_opened", (b.opened - a.opened).toDouble, "count")
  }
}

/** Replays statements through the layers a Parse/Bind/Execute passes:
  * `CtePrune.prune` → `PgParserInterface.parsePlan` →
  * `PgDialect.collectParamIds` → `ParamCodec.decode` → `PgDialect.bind` →
  * analysis (`Internals.ofRows`) → `optimizedPlan` → `executedPlan` →
  * `Internals.executeToIterator`, with every row encoded by
  * `RowCodec.rowWriter`. Runs on its own session of the server's base
  * session, so it sees the same catalog tables. Counts (rows encoded, time
  * spent encoding, ...) go to the tracer's counters.
  */
final class Replay(base: SparkSession) {
  private val session = base.newSession()
  PgDialect.registerParamFunction(session)
  private val parser = new PgParserInterface(Internals.sessionParser(session))

  /** What the server does for a new connection's session: the pg_catalog
    * views and the startup GUC defaults, on a fresh session.
    */
  def connect(t: Tracer): Unit = {
    val s = base.newSession()
    t.span("dialect.catalog_register")(PgCatalog.register(s))
    t.span("dialect.guc_seed")(PgGuc.seedStartupDefaults(s, "bench", "perfbench"))
  }

  /** `params` are (text value, declared oid); returns the row count. */
  def run(t: Tracer, sql: String, params: Seq[(String, Int)], binary: Boolean): Long =
    t.span("replay") {
      // the server re-registers pg_param on every Parse
      t.span("dialect.param_register")(PgDialect.registerParamFunction(session))
      val pruned = t.span("dialect.cte_prune")(CtePrune.prune(sql))
      t.count("dialect.cte_prune_attempts", 1)
      if (pruned != sql) t.count("dialect.cte_prune_changed", 1)
      val plan = t.span("dialect.parse")(parser.parsePlan(pruned))
      t.span("dialect.param_ids")(PgDialect.collectParamIds(plan))
      val d0 = System.nanoTime()
      val lits: Map[Int, Any] = params.zipWithIndex.map { case ((v, oid), i) =>
        (i + 1) -> ParamCodec.decode(v.getBytes("UTF-8"), oid, 0)
      }.toMap
      t.count("codec.param_decode_ns", System.nanoTime() - d0)
      t.count("codec.params", params.size)
      val bound = t.span("dialect.bind")(PgDialect.bind(plan, lits))
      val df = t.span("engine.analyze")(Internals.ofRows(session, bound))
      val qe = df.queryExecution
      t.span("engine.optimize")(qe.optimizedPlan)
      t.span("engine.plan")(qe.executedPlan)
      val schema = df.schema
      val formats = schema.fields.map(f => binary && PgTypes.binaryCapable(f.dataType) &&
        f.dataType != org.apache.spark.sql.types.StringType).toSeq
      val writer = RowCodec.rowWriter(schema, formats)
      val buf = ByteBuffer.allocate(1 << 20)
      var rows = 0L
      var encodeNanos = 0L
      t.span("engine.execute") {
        val start = System.nanoTime()
        val it = Internals.executeToIterator(df)
        var first = true
        while (it.hasNext) {
          val r = it.next()
          if (first) { t.record("engine.first_row", start, System.nanoTime()); first = false }
          val e0 = System.nanoTime()
          buf.clear()
          buf.putShort(schema.length.toShort)
          writer(r, buf)
          encodeNanos += System.nanoTime() - e0
          rows += 1
        }
      }
      val fmt = if (binary) "binary" else "text"
      t.count(s"codec.encode_${fmt}_ns", encodeNanos)
      t.count(s"codec.encode_${fmt}_rows", rows)
      rows
    }
}
