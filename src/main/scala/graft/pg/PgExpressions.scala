package graft.pg

import org.apache.spark.sql.Row
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal, Unevaluable}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

/** `$n` bind-parameter placeholder: a resolved NullType leaf so that a
  * prepared statement analyzes before parameters arrive (mirrors the
  * reference's ParameterPlaceHolder,
  * catalyst/expressions/predicates.scala:26-34).
  */
case class ParameterPlaceHolder(id: Int) extends LeafExpression with Unevaluable {
  override lazy val resolved: Boolean = true
  override def dataType: DataType = NullType
  override def nullable: Boolean = true
  override def toString: String = s"$$$id"
}

/** A bound `$n` value. To every Catalyst rule and to Parquet filter
  * pushdown it is an ordinary [[Literal]]; only its generated code differs.
  * `Literal` writes primitive, date and timestamp values into the Java
  * source, so each new key of `WHERE k = $1` would be a new class for
  * Janino to compile and the JIT to warm. This one reads the value from the
  * `references` array into a field once per instance, so every key yields
  * the same source and reuses one compiled class from Spark's cache.
  * Strings, decimals and the other types already go through `references`
  * in `Literal` itself.
  */
final class ParamLiteral(v: Any, t: DataType) extends Literal(v, t) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = dataType match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType |
        DoubleType | DateType | TimestampType | TimestampNTZType if value != null =>
      val javaType = CodeGenerator.javaType(dataType)
      val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
      val field = ctx.addMutableState(javaType, "param", f => s"$f = $ref.${javaType}Value();")
      ExprCode.forNonNullValue(JavaCode.global(field, dataType))
    case _ => super.doGenCode(ctx, ev)
  }
}

/** PG clients (JDBC autocommit-off) send `BEGIN`; Spark has no transactions,
  * so it completes as an empty command (reference
  * service/postgresql/execution/command/commands.scala:30-32).
  */
case class PgBeginCommand() extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = Seq.empty
}

/** LISTEN <channel>: register this wire session on the channel. Outside a
  * wire session (library use) it is a no-op, like PG's own behavior when no
  * backend exists to deliver to.
  */
case class PgListenCommand(channel: String) extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    graft.pg.server.PgNotify.pidOf(sparkSession)
      .foreach(pid => graft.pg.server.PgNotify.listen(pid, channel))
    Seq.empty
  }
}

/** UNLISTEN <channel> / UNLISTEN * (channel = None). */
case class PgUnlistenCommand(channel: Option[String]) extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    graft.pg.server.PgNotify.pidOf(sparkSession)
      .foreach(pid => graft.pg.server.PgNotify.unlisten(pid, channel))
    Seq.empty
  }
}

/** NOTIFY <channel> [, 'payload']: deliver a NotificationResponse to every
  * session listening on the channel (including the sender, per PG).
  */
case class PgNotifyCommand(channel: String, payload: String)
  extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val sender = graft.pg.server.PgNotify.pidOf(sparkSession).getOrElse(0)
    graft.pg.server.PgNotify.notify(sender, channel, payload)
    Seq.empty
  }
}
