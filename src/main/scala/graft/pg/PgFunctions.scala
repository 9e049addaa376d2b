package graft.pg

import graft.pg.server.{PgNotify, PgStateException, ServerStats, SessionRegistry}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.graft.Internals
import org.apache.spark.sql.types.TimestampType

/** The PG system functions clients call during metadata discovery and GUC
  * access (semantics mirror reference catalog.scala:223-245; the GUC pair
  * goes beyond the reference, which stubs set_config as an echo). One list,
  * built once per JVM, in the form `SparkSessionExtensions.injectFunction`
  * takes: [[PgExtensions]] injects it, and [[register]] puts it into a
  * session built without the extension.
  */
object PgFunctions {

  /** A function built from its arguments at analysis, in the driver. */
  private def expr(name: String)(builder: FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(getClass.getName, null, name), builder)

  /** A Scala UDF: its body runs at execution, on an executor. */
  private def scalaUdf(name: String, f: UserDefinedFunction) =
    expr(name)(Internals.scalaUdf(f.withName(name), _))

  /** The analyzing session: the one whose statement is being resolved. */
  private def session: SparkSession = SparkSession.active

  // admin signalling over pg_stat_activity pids (driver-side: touches the
  // session registry). PG returns boolean: false for an unknown pid.
  private def signal(name: String, send: Int => Boolean) = expr(name) {
    case Seq(Literal(p, _)) => Literal(!Internals.isAnalysisOnly && send(String.valueOf(p).toInt))
    case args => throw new IllegalArgumentException(s"$name expects a literal pid, got $args")
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    scalaUdf("array_to_string",
      udf((ar: Seq[String], delim: String) => if (ar != null) ar.mkString(delim) else "")),
    scalaUdf("array_in", udf(() => "array_in")),
    scalaUdf("format_type", // boxed typemod: psql passes both INT and NULL
      udf((oid: Int, _: java.lang.Integer) => PgCatalog.typeNameOf(oid))),
    scalaUdf("obj_description", udf((_: Int, _: String) => "")),
    scalaUdf("current_schemas", udf((_: Boolean) => Seq(PgCatalog.defaultNamespace))),
    scalaUdf("pg_encoding_to_char", udf((enc: Int) => if (enc == 6) "UTF8" else "")),
    scalaUdf("pg_get_userbyid", udf((_: Int) => "spark-user")),
    // psql calls pg_get_expr with 2 or 3 args; accept any arity
    expr("pg_get_expr")(_ => Literal("")),
    scalaUdf("pg_table_is_visible", udf((_: Int) => true)),
    scalaUdf("pg_function_is_visible", udf((_: Int) => true)),
    scalaUdf("array_upper", udf((ar: Seq[String], _: Int) => if (ar != null) ar.size else 0)),
    scalaUdf("pg_get_function_arguments", udf((_: Int) => "")),
    scalaUdf("pg_get_function_result", udf((_: Int) => "")),
    scalaUdf("oidvectortypes", udf((oids: Seq[Int]) =>
      if (oids != null) oids.map(PgCatalog.typeNameOf).mkString(", ") else "")),
    scalaUdf("ANY", udf((ar: Seq[String]) => if (ar != null && ar.nonEmpty) ar.head else "")),
    scalaUdf("regtype", udf((oid: Int) => PgCatalog.typeNameOf(oid))),
    // GUC access functions: both manipulate the live session conf through
    // PgGuc, so SELECT current_setting(...) / set_config(...) and SHOW / SET
    // observe the same state (PG semantics). NOT plain UDFs — a UDF closure
    // would drag the SparkSession onto executors where its state is null;
    // these resolve driver-side at analysis, folding to the value literal.
    // Plans re-analyze per execution, so a cached prepared statement still
    // reads fresh values.
    expr("current_setting") {
      case Seq(Literal(n, _)) =>
        val name = String.valueOf(n)
        Literal(PgGuc.value(session, name).getOrElse(
          throw new PgStateException(
            s"""unrecognized configuration parameter "${name.toLowerCase}"""", "42704")))
      case args => throw new IllegalArgumentException(
        s"current_setting expects a literal parameter name, got $args")
    },
    expr("set_config") {
      case Seq(Literal(n, _), Literal(v, _), _) =>
        val name = String.valueOf(n)
        // PG applies set_config only at execution; Parse/Describe/EXPLAIN
        // also analyze (where this resolves), so fold schema-correctly
        // there WITHOUT mutating — the Execute re-analysis applies it
        if (Internals.isAnalysisOnly) {
          Literal(if (v == null) PgGuc.value(session, name).getOrElse("")
            else String.valueOf(v))
        } else if (v == null) {
          PgGuc.reset(session, name)
          Literal(PgGuc.value(session, name).getOrElse(""))
        } else {
          val s = String.valueOf(v)
          PgGuc.set(session, name, s"'${s.replace("'", "''")}'")
          Literal(s)
        }
      // non-literal args: echo the value expression (no session effect),
      // the pre-GUC behavior psql's startup probes tolerate
      case Seq(_, v, _) => v
      case args => throw new IllegalArgumentException(
        s"set_config expects (name, value, is_local), got $args")
    },
    scalaUdf("current_schema", udf(() => PgCatalog.defaultNamespace)),
    // `SELECT version()` must parse as PostgreSQL for version-sniffing
    // clients (SQLAlchemy, psycopg's server checks) — Spark's own version()
    // returns a bare Spark build string they reject. Driver-side: reads the
    // announced server_version from the session.
    expr("version")(_ => Literal(
      s"PostgreSQL ${PgGuc.value(session, "server_version").getOrElse("9.6.0")} " +
        s"graft on Apache Spark ${org.apache.spark.SPARK_VERSION}")),
    // pg_sleep(seconds): a plain UDF so the sleep runs at EXECUTION on an
    // executor (clients use it to exercise statement_timeout and cancel)
    scalaUdf("pg_sleep", udf((s: Double) => {
      Thread.sleep(math.max(0L, (s * 1000).toLong)); ""
    })),
    // failover/monitoring probes (no recovery mode here: always primary)
    scalaUdf("pg_is_in_recovery", udf(() => false)),
    expr("pg_postmaster_start_time")(_ =>
      Literal.create(new java.sql.Timestamp(ServerStats.startedAt), TimestampType)),
    // the wire pid of this session (0 outside the server) — driver-side so
    // `WHERE pid = pg_backend_pid()` against pg_stat_activity works
    expr("pg_backend_pid")(_ => Literal(PgNotify.pidOf(session).getOrElse(0))),
    // SELECT pg_notify('chan','payload') — the function form of NOTIFY
    // (driver-side: delivery needs the session registry, not executor state)
    expr("pg_notify") {
      case Seq(Literal(c, _), Literal(p, _)) =>
        // delivery only at execution (see set_config above): preparing or
        // explaining a pg_notify must not notify
        if (!Internals.isAnalysisOnly) {
          val sender = PgNotify.pidOf(session).getOrElse(0)
          PgNotify.notify(sender, String.valueOf(c), if (p == null) "" else String.valueOf(p))
        }
        Literal("")
      case args => throw new IllegalArgumentException(
        s"pg_notify expects literal (channel, payload), got $args")
    },
    signal("pg_cancel_backend", SessionRegistry.adminCancel),
    signal("pg_terminate_backend", SessionRegistry.adminTerminate),
    // server observability (reference SQLServerListener counters)
    scalaUdf("graft_stat", udf((name: String) => ServerStats.get(name))))

  /** Put [[all]] into a session built without [[PgExtensions]]. */
  def register(spark: SparkSession): Unit = Internals.registerFunctions(spark, all)
}
