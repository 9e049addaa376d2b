package graft.pg

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.StringType

/** PG run-time configuration (GUC) surface: `SHOW x` / `SHOW ALL` /
  * `SET x TO v` / `RESET x` / `pg_settings`. The reference passes
  * `SHOW <guc>` straight to Spark's parser, which cannot parse it — yet the
  * surface is load-bearing for real clients: pgjdbc's
  * `getTransactionIsolation()` issues `SHOW TRANSACTION ISOLATION LEVEL`,
  * PgBouncer tracks server GUCs across pooled checkouts, and BI tools read
  * `pg_settings` for capability probing.
  *
  * Value resolution (everything lives in the session's SparkConf, so the
  * server's `newSession()` isolation gives PG's per-backend GUC scoping for
  * free):
  *   1. a dotless conf key equal to the GUC's lowercase name — a prior SET
  *      (every genuine Spark conf key is dotted, so dotless keys are exactly
  *      the session's GUC overrides);
  *   2. the per-session startup default under `spark.graft.guc.default.<x>`
  *      (seeded from the startup packet: application_name, session user);
  *   3. the registry default (possibly computed from live server state).
  * RESET / RESET ALL / DISCARD ALL clear layer 1 only, so values fall back
  * to the startup default — PG's reset-to-session-default semantics.
  */
object PgGuc {
  private[pg] val DefaultPrefix = "spark.graft.guc.default."

  final case class Guc(
      canonical: String,
      category: String,
      description: String,
      default: SparkSession => String,
      // live Spark conf key when the GUC is backed by real engine state
      // (TimeZone <-> spark.sql.session.timeZone) rather than a stored value
      confKey: Option[String] = None,
      unitMs: Boolean = false) {
    def lower: String = canonical.toLowerCase
  }

  /** server_version "9.6.0"/"10.5"/"15.2" -> PG integer form 90600/100005/
    * 150002 (pre-10 releases use major*10000 + minor*100 + patch; 10+ use
    * major*10000 + minor).
    */
  def versionNum(v: String): Int = {
    val p = v.split("\\.").map(_.takeWhile(_.isDigit)).filter(_.nonEmpty).map(_.toInt)
    if (p.isEmpty) 0
    else if (p(0) >= 10) p(0) * 10000 + p.lift(1).getOrElse(0)
    else p(0) * 10000 + p.lift(1).getOrElse(0) * 100 + p.lift(2).getOrElse(0)
  }

  /** PG accepts millisecond-unit GUCs as bare ms or with a unit suffix;
    * 0 or unparseable disables.
    */
  def parseMs(v: String): Long = {
    val t = v.trim.toLowerCase.stripPrefix("'").stripSuffix("'").trim
    try {
      if (t.endsWith("ms")) t.dropRight(2).trim.toLong
      else if (t.endsWith("min")) t.dropRight(3).trim.toLong * 60000L
      else if (t.endsWith("h")) t.dropRight(1).trim.toLong * 3600000L
      else if (t.endsWith("d")) t.dropRight(1).trim.toLong * 86400000L
      else if (t.endsWith("s")) t.dropRight(1).trim.toLong * 1000L
      else t.toLong
    } catch { case _: NumberFormatException => 0L }
  }

  /** PG's GUC display normalization for ms-unit settings: the largest unit
    * that divides the value evenly (SET statement_timeout = 5000 shows as
    * "5s", 5500 stays "5500ms", 0 is bare "0").
    */
  def renderMs(ms: Long): String =
    if (ms == 0L) "0"
    else if (ms % 86400000L == 0) s"${ms / 86400000L}d"
    else if (ms % 3600000L == 0) s"${ms / 3600000L}h"
    else if (ms % 60000L == 0) s"${ms / 60000L}min"
    else if (ms % 1000L == 0) s"${ms / 1000L}s"
    else s"${ms}ms"

  /** The GUCs real drivers and tools read. Defaults match either what the
    * server announces in ParameterStatus at startup (server_version,
    * client_encoding, DateStyle, ...) or PG's stock defaults.
    */
  val registry: Seq[Guc] = Seq(
    Guc("application_name", "Reporting and Logging",
      "Sets the application name to be reported in statistics and logs.", _ => ""),
    Guc("bytea_output", "Client Connection Defaults",
      "Sets the output format for bytea.", _ => "hex"),
    Guc("client_encoding", "Client Connection Defaults",
      "Sets the client's character set encoding.", _ => "UTF8"),
    Guc("client_min_messages", "Client Connection Defaults",
      "Sets the message levels that are sent to the client.", _ => "notice"),
    Guc("DateStyle", "Client Connection Defaults",
      "Sets the display format for date and time values.", _ => "ISO"),
    Guc("default_transaction_isolation", "Client Connection Defaults",
      "Sets the transaction isolation level of each new transaction.",
      _ => "read committed"),
    Guc("default_transaction_read_only", "Client Connection Defaults",
      "Sets the default read-only status of new transactions.", _ => "off"),
    Guc("extra_float_digits", "Client Connection Defaults",
      "Sets the number of digits displayed for floating-point values.", _ => "1"),
    Guc("idle_in_transaction_session_timeout", "Client Connection Defaults",
      "Sets the maximum allowed idle time between queries, when in a transaction.",
      _ => "0", unitMs = true),
    Guc("integer_datetimes", "Preset Options",
      "Shows whether datetimes are integer based.", _ => "on"),
    Guc("IntervalStyle", "Client Connection Defaults",
      "Sets the display format for interval values.", _ => "postgres"),
    Guc("is_superuser", "Preset Options",
      "Shows whether the current user is a superuser.", _ => "on"),
    Guc("lock_timeout", "Client Connection Defaults",
      "Sets the maximum allowed duration of any wait for a lock.",
      _ => "0", unitMs = true),
    Guc("max_connections", "Connections and Authentication",
      "Sets the maximum number of concurrent connections.", _ => "100"),
    Guc("search_path", "Client Connection Defaults",
      "Sets the schema search order for names that are not schema-qualified.",
      _ => "\"$user\", public"),
    Guc("server_encoding", "Preset Options",
      "Shows the server (database) character set encoding.", _ => "UTF8"),
    Guc("server_version", "Preset Options",
      "Shows the server version.",
      s => s.conf.get("spark.graft.server.version", "9.6.0")),
    Guc("server_version_num", "Preset Options",
      "Shows the server version as an integer.",
      s => versionNum(s.conf.get("spark.graft.server.version", "9.6.0")).toString),
    Guc("session_authorization", "Client Connection Defaults",
      "Sets the session user name.", _ => "spark-user"),
    Guc("standard_conforming_strings", "Version and Platform Compatibility",
      "Causes '...' strings to treat backslashes literally.", _ => "on"),
    Guc("statement_timeout", "Client Connection Defaults",
      "Sets the maximum allowed duration of any statement.",
      _ => "0", unitMs = true),
    Guc("TimeZone", "Client Connection Defaults",
      "Sets the time zone for displaying and interpreting time stamps.",
      _ => "UTC", confKey = Some("spark.sql.session.timeZone")),
    Guc("transaction_isolation", "Client Connection Defaults",
      "Sets the current transaction's isolation level.", _ => "read committed"),
    Guc("transaction_read_only", "Client Connection Defaults",
      "Sets the current transaction's read-only status.", _ => "off")
  )

  private val byLower: Map[String, Guc] = registry.map(g => g.lower -> g).toMap

  /** SHOW column header: the canonical (PG-cased) name for known GUCs,
    * lowercase otherwise (PG folds unquoted identifiers lower).
    */
  def canonicalName(name: String): String =
    byLower.get(name.toLowerCase).map(_.canonical).getOrElse(name.toLowerCase)

  private def stripQuotes(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && t.head == '\'' && t.last == '\'')
      t.substring(1, t.length - 1).replace("''", "'")
    else t
  }

  /** Current value, or None when the parameter is unrecognized (the caller
    * raises SQLSTATE 42704). Unknown names still resolve if a SET planted
    * them in the conf — PG's customized-option behavior.
    */
  def value(spark: SparkSession, name: String): Option[String] = {
    val lower = name.toLowerCase
    byLower.get(lower) match {
      case Some(g) =>
        val raw = g.confKey match {
          case Some(k) => spark.conf.get(k, g.default(spark))
          case None =>
            spark.conf.getOption(g.lower)
              .orElse(spark.conf.getOption(DefaultPrefix + g.lower))
              .getOrElse(g.default(spark))
        }
        Some(if (g.unitMs) renderMs(parseMs(raw)) else stripQuotes(raw))
      case None =>
        spark.conf.getOption(lower).orElse(spark.conf.getOption(name))
          .map(stripQuotes)
    }
  }

  /** Whether the session carries a SET override for the GUC (pg_settings
    * `source` column: "session" vs "default").
    */
  private def overridden(spark: SparkSession, g: Guc): Boolean = g.confKey match {
    case Some(k) =>
      spark.conf.get(k, g.default(spark)) !=
        spark.conf.get(DefaultPrefix + g.lower, g.default(spark))
    case None => spark.conf.getOption(g.lower).isDefined
  }

  /** SET value normalization: DEFAULT -> null (caller resets); a quoted
    * string unquotes with '' -> '; comma lists normalize to ", " separation
    * (PG's canonical list form). A quoted value containing commas must be a
    * single quoted token to survive intact — PG's own list GUCs quote
    * per-element, so this matches the wire reality.
    */
  def normalizeValue(raw: String): String = {
    val t = raw.trim
    if (t.equalsIgnoreCase("DEFAULT")) null
    else if (t.length >= 2 && t.head == '\'' && t.last == '\'' &&
      !t.substring(1, t.length - 1).replace("''", "").contains('\''))
      stripQuotes(t)
    else t.split(",").map(stripQuotes).mkString(", ")
  }

  def set(spark: SparkSession, name: String, rawValue: String): Unit = {
    val lower = name.toLowerCase
    val v = normalizeValue(rawValue)
    if (v == null) { reset(spark, name); return }
    byLower.get(lower).flatMap(_.confKey) match {
      case Some(k) => spark.conf.set(k, v)
      case None => spark.conf.set(lower, v)
    }
  }

  def reset(spark: SparkSession, name: String): Unit = {
    val lower = name.toLowerCase
    byLower.get(lower).flatMap(_.confKey) match {
      case Some(k) =>
        val d = spark.conf.get(DefaultPrefix + lower, byLower(lower).default(spark))
        spark.conf.set(k, d)
      case None =>
        try spark.conf.unset(lower) catch { case _: Exception => () }
    }
  }

  /** RESET ALL / the RESET-ALL step of DISCARD ALL: drop every dotless conf
    * key (exactly the GUC overrides) and restore live-backed GUCs to their
    * startup defaults. The dotted startup-default shadow keys survive, so
    * values fall back to per-session defaults, not blank slate.
    */
  def resetAll(spark: SparkSession): Unit = {
    spark.conf.getAll.keys.filter(!_.contains('.'))
      .foreach(k => try spark.conf.unset(k) catch { case _: Exception => () })
    registry.filter(_.confKey.isDefined).foreach(g => reset(spark, g.lower))
  }

  /** Seed per-session defaults from the startup packet; RESET restores to
    * these, matching PG where startup-packet values are session defaults.
    */
  def seedStartupDefaults(spark: SparkSession, user: String, appName: String): Unit = {
    spark.conf.set(DefaultPrefix + "application_name", appName)
    spark.conf.set(DefaultPrefix + "session_authorization", user)
    spark.conf.set(DefaultPrefix + "timezone",
      spark.conf.get("spark.sql.session.timeZone", "UTC"))
  }

  /** One startup-packet run-time parameter (PG accepts any GUC in the
    * startup message, plus `options` with `-c name=value` pairs — pgjdbc's
    * `options` connection property rides exactly this). The value becomes
    * the session DEFAULT (what RESET restores), and live-backed GUCs apply
    * immediately.
    */
  def seedStartupParam(spark: SparkSession, name: String, value: String): Unit = {
    val lower = name.toLowerCase
    if (lower == "options") {
      // -c name=value / --name=value, whitespace-separated
      val tokens = value.trim.split("\\s+").toSeq
      var i = 0
      while (i < tokens.length) {
        val t = tokens(i)
        if (t == "-c" && i + 1 < tokens.length && tokens(i + 1).contains('=')) {
          val Array(n, v) = tokens(i + 1).split("=", 2)
          seedStartupParam(spark, n, v)
          i += 2
        } else if (t.startsWith("--") && t.contains('=')) {
          val Array(n, v) = t.substring(2).split("=", 2)
          seedStartupParam(spark, n, v)
          i += 1
        } else i += 1
      }
    } else {
      spark.conf.set(DefaultPrefix + lower, value)
      byLower.get(lower).flatMap(_.confKey).foreach(k => spark.conf.set(k, value))
    }
  }

  /** (name, setting, description) for SHOW ALL: the registry plus any
    * session-SET custom parameters, name-sorted.
    */
  def all(spark: SparkSession): Seq[(String, String, String)] = {
    val known = registry.map(g =>
      (g.canonical, value(spark, g.canonical).getOrElse(""), g.description))
    val custom = spark.conf.getAll.keys
      .filter(k => !k.contains('.') && !byLower.contains(k.toLowerCase)).toSeq
      .map(k => (k, stripQuotes(spark.conf.get(k)), "Session-defined parameter."))
    (known ++ custom).sortBy(_._1.toLowerCase)
  }

  /** The `pg_settings` rows: the registry with this session's live values
    * (columns in [[PgCatalog]]).
    */
  def settingsRows(spark: SparkSession): Seq[Row] = registry.map { g =>
    val v = value(spark, g.canonical).getOrElse("")
    // PG stores the bare numeric value in `setting` with the unit in
    // `unit` (monitoring tools compute setting::int * unit); the display
    // form ('5s') is SHOW-only
    Row(g.lower, if (g.unitMs) parseMs(v).toString else v,
      if (g.unitMs) "ms" else null,
      g.category, g.description, "user",
      if (overridden(spark, g)) "session" else "default")
  }
}

/** `SHOW <guc>` / `SHOW ALL` as a runnable command (not a string rewrite):
  * the output schema is known at analysis so extended-protocol Describe
  * answers, and the value is read at EXECUTE time — a pgjdbc-cached
  * server-prepared `SHOW x` re-executed after `SET x` sees the new value.
  */
case class PgShowCommand(name: String) extends LeafRunnableCommand {
  private def isAll: Boolean = name.equalsIgnoreCase("all")

  override val output: Seq[Attribute] =
    if (isAll) Seq("name", "setting", "description")
      .map(n => AttributeReference(n, StringType, nullable = false)())
    else Seq(AttributeReference(PgGuc.canonicalName(name), StringType,
      nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    if (isAll) PgGuc.all(spark).map { case (n, v, d) => Row(n, v, d) }
    else PgGuc.value(spark, name) match {
      case Some(v) => Seq(Row(v))
      case None => throw new graft.pg.server.PgStateException(
        s"""unrecognized configuration parameter "${name.toLowerCase}"""", "42704")
    }
}

/** PG-form `SET [SESSION|LOCAL] <guc> (TO|=) <value>`: unlike Spark's
  * SetCommand (which stores the raw remainder, quotes included), the value
  * unquotes per PG literal rules and lands under the GUC's conf key.
  */
case class PgSetCommand(name: String, rawValue: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    PgGuc.set(spark, name, rawValue)
    Seq.empty
  }
}

/** `RESET <guc>` / `RESET ALL` with PG semantics: back to the session
  * (startup) default, not a global wipe of Spark conf state.
  */
case class PgResetCommand(name: Option[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    name match {
      case Some(n) => PgGuc.reset(spark, n)
      case None => PgGuc.resetAll(spark)
    }
    Seq.empty
  }
}
