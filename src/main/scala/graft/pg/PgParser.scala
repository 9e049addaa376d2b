package graft.pg

import scala.collection.mutable

import graft.pg.wire.ParamCodec

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction, UnresolvedRelation,
  UnresolvedTableValuedFunction, UnresolvedTVFAliases}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, CaseWhen, Cast, Expression,
  GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, OneRowRelation, Project, Range,
  SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.{CreateViewCommand, ExplainCommand}
import org.apache.spark.sql.graft.Internals
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, NullType, StructType}

/** Delegating PG-dialect parser: rewrites the dialect surface with
  * [[PgRewrite]] and hands everything else to the session's stock parser —
  * the design the reference's own TODO asks for (PgParser.scala:42-44)
  * instead of its grammar fork — then puts the `$n` placeholders, the
  * pg_catalog relations and the `generate_series` plans in place. Installable via
  * `SparkSessionExtensions.injectParser` ([[PgExtensions]]).
  */
class PgParserInterface(private[pg] val delegate: ParserInterface) extends ParserInterface {
  import PgParserInterface._

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case txnRe(_*) => PgBeginCommand()
    case showRe(what) if !sparkShowKinds.contains(
        what.replaceAll("\\s+", " ").trim.toLowerCase) =>
      val token = what.replaceAll("\\s+", " ").trim
      token.toLowerCase match {
        case "transaction isolation level" => PgShowCommand("transaction_isolation")
        case "session authorization" => PgShowCommand("session_authorization")
        case "time zone" => PgShowCommand("TimeZone")
        case _ => PgShowCommand(token)
      }
    case setGucRe(name, value) if !name.contains(".") =>
      PgSetCommand(name, value)
    case resetGucRe(what) =>
      if (what.equalsIgnoreCase("ALL")) PgResetCommand(None)
      else PgResetCommand(Some(what))
    case listenRe(ch) =>
      PgListenCommand(graft.pg.server.PgNotify.foldChannel(ch))
    case unlistenRe(ch) =>
      if (ch == "*") PgUnlistenCommand(None)
      else PgUnlistenCommand(Some(graft.pg.server.PgNotify.foldChannel(ch)))
    case notifyRe(ch, payload) =>
      PgNotifyCommand(graft.pg.server.PgNotify.foldChannel(ch),
        if (payload == null) "" else payload.replace("''", "'"))
    case _ => resolve(delegate.parsePlan(PgRewrite(sqlText)))
  }

  /** The parsed statement after a walk over all its plans
    * ([[PgDialect.transformPlans]]): each `pg_param(n)`, PgRewrite's
    * spelling of `$n`, becomes `ParameterPlaceHolder(n)`, each
    * unqualified pg_catalog name that no WITH of the statement binds
    * becomes its relation, and each `generate_series` call in FROM becomes
    * the plan it stands for (`GenerateSeries`). A temp view over either
    * keeps its analyzed plan instead of its text: Spark re-parses a stored
    * view text with the session's own parser, which may not know them.
    */
  private def resolve(plan: LogicalPlan): LogicalPlan = {
    val ctes = mutable.Set.empty[String]
    PgDialect.transformPlans(plan) {
      case w: UnresolvedWith => ctes ++= w.cteRelations.map(_._1.toLowerCase); w
      case p => p
    }
    var placed = false
    val param: PartialFunction[Expression, Expression] = {
      case u: UnresolvedFunction if u.nameParts.map(_.toLowerCase) == Seq("pg_param") =>
        u.arguments match {
          case Seq(Literal(id: Int, IntegerType)) => ParameterPlaceHolder(id)
          case _ => u
        }
    }
    PgDialect.transformPlans(plan) {
      case u: UnresolvedRelation if u.multipartIdentifier.length == 1 &&
          !ctes(u.multipartIdentifier.head.toLowerCase) =>
        val r = PgCatalog.relation(u.multipartIdentifier.head)
        placed ||= r.isDefined
        r.getOrElse(u)
      case GenerateSeries(series) => placed = true; series.transformExpressions(param)
      case p => p.transformExpressions(param)
    } match {
      case v: CreateViewCommand if placed => v.copy(originalText = None)
      case out => out
    }
  }

  override def parseQuery(sqlText: String): LogicalPlan =
    resolve(delegate.parseQuery(PgRewrite(sqlText)))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(PgRewrite(sqlText))
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object PgParserInterface {
  // transaction-control no-ops: Spark has no transactions, so these
  // complete with their PG tags (reference handles BEGIN/COMMIT/ROLLBACK;
  // SAVEPOINT/RELEASE/ROLLBACK TO are the psql-script superset — each a
  // no-op under autocommit semantics, exactly like BEGIN)
  private val txnRe =
    ("""(?is)\s*(BEGIN(\s+(WORK|TRANSACTION))?|COMMIT(\s+WORK)?|""" +
      """ROLLBACK(\s+WORK)?(\s+TO\s+(SAVEPOINT\s+)?[A-Za-z_]\w*)?|""" +
      """START\s+TRANSACTION|END|ABORT(\s+WORK)?|""" +
      """SAVEPOINT\s+[A-Za-z_]\w*|RELEASE(\s+SAVEPOINT)?\s+[A-Za-z_]\w*)\s*;?\s*""").r

  // PG GUC surface (SHOW / SET ... TO / RESET): intercepted ahead of the
  // rewrite so both wire protocols and PgDialect.sql get it. Spark's own
  // SHOW/SET/RESET forms fall through: Spark SHOW kinds are excluded by
  // keyword, Spark conf keys are dotted (the GUC regexes match only dotless
  // names), and multi-token forms (SET VAR x = 1, SET TIME ZONE, SHOW TABLES
  // IN db, bare SET/RESET) never match the single-identifier shapes.
  private val showRe =
    ("""(?is)\s*SHOW\s+(ALL|TRANSACTION\s+ISOLATION\s+LEVEL|""" +
      """SESSION\s+AUTHORIZATION|TIME\s+ZONE|[A-Za-z_][\w.]*)\s*;?\s*""").r
  private val sparkShowKinds = Set(
    "tables", "table", "databases", "namespaces", "catalogs", "columns",
    "create", "functions", "partitions", "tblproperties", "views",
    "procedures", "current", "schemas", "variables", "locks")
  private val setGucRe =
    """(?is)\s*SET\s+(?:SESSION\s+|LOCAL\s+)?([A-Za-z_]\w*)\s*(?:=|\s+TO\s+)\s*(.+?)\s*;?\s*""".r
  private val resetGucRe =
    """(?is)\s*RESET\s+(ALL|[A-Za-z_]\w*)\s*;?\s*""".r
  // LISTEN/NOTIFY: channel folds like an identifier (quoted = byte-exact);
  // NOTIFY's optional payload is a standard-conforming string literal
  private val listenRe =
    """(?is)\s*LISTEN\s+("[^"]+"|[A-Za-z_]\w*)\s*;?\s*""".r
  private val unlistenRe =
    """(?is)\s*UNLISTEN\s+(\*|"[^"]+"|[A-Za-z_]\w*)\s*;?\s*""".r
  private val notifyRe =
    """(?is)\s*NOTIFY\s+("[^"]+"|[A-Za-z_]\w*)\s*(?:,\s*'((?:[^']|'')*)')?\s*;?\s*""".r

  /** PG's `generate_series(start, stop[, step])` in FROM, its one column
    * named `generate_series` or by its alias. With integer-literal bounds
    * it is a `Range`: a distributed scan with no materialized array, its
    * column bigint. Other bounds (pgjdbc's TypeInfoCache passes
    * `array_upper(current_schemas(false), 1)`, which a Range cannot take)
    * explode a `sequence`, its column of the bounds' type: tiny by
    * construction.
    */
  private object GenerateSeries {
    def unapply(p: LogicalPlan): Option[LogicalPlan] = p match {
      case UnresolvedTVFAliases(_, UnresolvedTableValuedFunction(name, args, _), Seq(col)) =>
        series(name, args, col)
      case UnresolvedTableValuedFunction(name, args, _) => series(name, args, "generate_series")
      case _ => None
    }

    private def series(name: Seq[String], args: Seq[Expression],
        col: String): Option[LogicalPlan] = {
      def fn(name: String, args: Expression*) = UnresolvedFunction(name, args, isDistinct = false)
      val literal = args.collect { case Literal(v: Number, IntegerType | LongType) => v.longValue }
      if (name.map(_.toLowerCase) != Seq("generate_series")) None
      else args match {
        case Seq(_, _) | Seq(_, _, _) if literal.size == args.size =>
          // Range's end is exclusive: one past stop, in the step's
          // direction; a wrong-direction range is empty, as in PG
          val step = literal.lift(2).getOrElse(1L)
          val range = Range(literal(0), literal(1) + math.signum(step), step, None)
          Some(Project(Seq(Alias(range.output.head, col)()), range))
        case Seq(start, stop, rest @ _*) if rest.size <= 1 =>
          // sequence(a, b) with a > b counts down (and a 3-argument sequence
          // throws on a wrong-direction step) where PG returns zero rows: the
          // guard keeps empty ranges empty, and CASE evaluates only under it.
          val guard = rest.headOption.fold[Expression](LessThanOrEqual(start, stop)) { step =>
            Or(And(GreaterThan(step, Literal(0)), LessThanOrEqual(start, stop)),
              And(LessThan(step, Literal(0)), GreaterThanOrEqual(start, stop)))
          }
          val values = CaseWhen(Seq(guard -> fn("sequence", args: _*)), fn("array"))
          Some(Project(Seq(Alias(fn("explode", values), col)()), OneRowRelation()))
        case _ => None
      }
    }
  }
}

/** Extension builder: `SparkSession.Builder.withExtensions(new PgExtensions)`
  * or `spark.sql.extensions=graft.pg.PgExtensions` (mirrors the reference's
  * extension injection, SQLServerEnv.scala:73-97). Installs the WHOLE
  * engine, not just the dialect: the PG delegating parser, the PG system
  * functions ([[PgFunctions]]), the time-band range-join rewrite rule
  * (nest-loop theta → binned equi-join; fires only on its exact guarded
  * shape), and the native as-of-join strategy — so a session configured
  * with this one class gets the custom plan machinery without touching the
  * experimental API (which the entries use only for per-session,
  * test-scoped installs).
  */
class PgExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser((_, delegate) => new PgParserInterface(delegate))
    PgFunctions.all.foreach(ext.injectFunction)
    // Spark builds optimizer rules from the extensions at each use, so after
    // PgExtensions.install the rewrite would reach the built session too: it
    // applies only where the parser is PG's. The strategy plans only AsOf's node.
    ext.injectOptimizerRule(session =>
      if (Internals.sessionParser(session).isInstanceOf[PgParserInterface]) {
        graft.plans.RangeJoinRewrite
      } else new Rule[LogicalPlan] { def apply(plan: LogicalPlan): LogicalPlan = plan })
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object PgExtensions {

  /** Install [[PgExtensions]] into the extensions `base` hands to each
    * later `newSession()`, unless they already build a
    * [[PgParserInterface]] (an earlier install, or a `base` built with the
    * extension): two parser layers would rewrite every statement twice.
    * `base` itself keeps the parser it was built with.
    */
  def install(base: SparkSession): Unit = {
    val ext = Internals.extensions(base)
    ext.synchronized {
      if (!Internals.newSessionParser(base).isInstanceOf[PgParserInterface]) new PgExtensions()(ext)
    }
  }
}

/** Library-level entry to the PG dialect: parse + (optionally) bind `$n`
  * params + execute, on any session. A session built with [[PgExtensions]]
  * (a server's connections among them) parses with its own parser; any
  * other gets it wrapped in a [[PgParserInterface]]. The PG system
  * functions need [[PgCatalog.register]] on a session built without the
  * extension.
  */
object PgDialect {

  /** `rule` applied top-down to every plan of a statement: its tree, the
    * plans of its subquery expressions, the CTE bodies of every
    * `UnresolvedWith`, at any depth, and the statement an EXPLAIN
    * explains. A parsed WITH keeps its definitions in `cteRelations`, and
    * EXPLAIN its statement, as inner children that no `transform*` or
    * `collect` walk enters, so a `$n` or a catalog name there would be
    * missed (found by the round-11 hostile-text suite).
    */
  private[pg] def transformPlans(plan: LogicalPlan)(
      rule: LogicalPlan => LogicalPlan): LogicalPlan =
    plan.transformDownWithSubqueries { case p =>
      rule(p) match {
        case w: UnresolvedWith => w.copy(cteRelations = w.cteRelations.map { case (n, rel, d) =>
          (n, transformPlans(rel)(rule).asInstanceOf[SubqueryAlias], d)
        })
        case e: ExplainCommand => e.copy(logicalPlan = transformPlans(e.logicalPlan)(rule))
        case q => q
      }
    }

  /** `rule` applied to every expression of the statement ([[transformPlans]]). */
  private def transformExpressions(plan: LogicalPlan)(
      rule: PartialFunction[Expression, Expression]): LogicalPlan =
    transformPlans(plan)(_.transformExpressions(rule))

  /** Substitute bound `$n` values (reference ParamBinder.scala:31-47), in a
    * parsed or an analyzed plan; a `$n` with no value stays. A non-null
    * value binds as a [[ParamLiteral]], so a new value reuses the code
    * compiled for the last one; NULL binds as a plain `Literal`. A typed
    * placeholder keeps its type: a value of another type (date or
    * timestamp text `java.time` does not read) goes through Spark's ANSI
    * cast in the session zone, evaluated here. A cast the analyzer put
    * around a typed placeholder folds the same way into a value of the
    * cast's type, which constant folding would otherwise rebuild as a
    * plain Literal, compiled once per value.
    */
  def bind(plan: LogicalPlan, params: Map[Int, Any]): LogicalPlan = {
    def zone = java.time.ZoneId.of(SQLConf.get.sessionLocalTimeZone)
    def param(l: Literal): Literal =
      if (l.value == null) l else new ParamLiteral(l.value, l.dataType)
    def value(p: ParameterPlaceHolder): Literal = {
      val l = params(p.id) match {
        case l: Literal => l
        case other => Literal(other)
      }
      if (p.dataType == NullType || p.dataType == l.dataType) param(l)
      else if (l.value == null) Literal(null, p.dataType)
      else param(Literal(ParamCodec.cast(l.value, l.dataType, p.dataType, zone), p.dataType))
    }
    transformExpressions(plan) {
      case c @ Cast(p: ParameterPlaceHolder, _, _, _)
          if params.contains(p.id) && p.dataType != NullType && c.resolved =>
        param(Literal(ParamCodec.evalCast(c.withNewChildren(Seq(value(p))).asInstanceOf[Cast]),
          c.dataType))
      case p: ParameterPlaceHolder if params.contains(p.id) => value(p)
    }
  }

  /** `plan` with placeholder `$n` typed `types(n)`. */
  private[pg] def typed(plan: LogicalPlan, types: Int => DataType): LogicalPlan =
    transformExpressions(plan) { case p: ParameterPlaceHolder => p.copy(dataType = types(p.id)) }

  /** Every `$n` id in the statement ([[transformPlans]]), sorted. */
  def collectParamIds(plan: LogicalPlan): Seq[Int] = {
    val ids = mutable.SortedSet.empty[Int]
    transformExpressions(plan) { case p: ParameterPlaceHolder => ids += p.id; p }
    ids.toSeq
  }

  /** Kept for callers written when `$n` analyzed through a session
    * function: the parser now emits [[ParameterPlaceHolder]] itself, so
    * there is nothing to register.
    */
  def registerParamFunction(spark: SparkSession): Unit = ()

  /** Parse PG-dialect SQL without executing (prepared-statement analysis:
    * unbound `$n` stay untyped [[ParameterPlaceHolder]]s, as the
    * reference's forked grammar leaves them, predicates.scala:26-34).
    */
  def parse(spark: SparkSession, text: String): LogicalPlan =
    (Internals.sessionParser(spark) match {
      case pg: PgParserInterface => pg
      case stock => new PgParserInterface(stock)
    }).parsePlan(text)

  /** Parse PG-dialect SQL and run it on the given session, its `$n` bound
    * before analysis. Executing with unbound `$n` raises the reference's
    * bind error (ParamBinder.scala:49-55), not a codegen internal error.
    */
  def sql(spark: SparkSession, text: String, params: Map[Int, Any] = Map.empty): DataFrame = {
    val bound = bind(parse(spark, text), params)
    val unbound = collectParamIds(bound)
    if (unbound.nonEmpty) {
      throw new IllegalArgumentException(
        "Unresolved parameters found: " + unbound.map(n => s"$$$n").mkString(", "))
    }
    Internals.ofRows(spark, bound)
  }
}
