package graft.pg

import java.util.OptionalLong

import graft.pg.server.{ServerStats, SessionRegistry}
import graft.pg.wire.PgTypes

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.connector.catalog.{SupportsRead, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, ScanBuilder, Statistics,
  SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.Internals
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** pg_catalog emulation: the system tables PG clients probe for metadata,
  * the 29-row pg_type seed ([[PgTypes.table]]) among them (reference
  * catalog.scala:87-118,280-379). Each name is a relation that
  * [[PgParserInterface]] puts in place of the table name after parsing
  * ([[relation]]); nothing is registered in the session. Static tables
  * hold rows built once per JVM; live ones (pg_class, pg_attribute,
  * information_schema, pg_stat_*, pg_settings) compute theirs when a
  * statement using them is planned, for the session that plans it.
  */
object PgCatalog {

  /** Textual type name -> OID for `'name'::regtype` literal resolution
    * (see PgRewrite): the seeded types plus the pseudo-types psql's \df
    * queries compare prorettype against (fixed PG OIDs from pg_type.dat).
    */
  val typeOidByName: Map[String, Int] =
    PgTypes.table.map(t => t.name -> t.oid).toMap ++ Map(
      "text" -> 25, "oid" -> 26, "record" -> 2249, "cstring" -> 2275,
      "any" -> 2276, "anyarray" -> 2277, "void" -> 2278, "trigger" -> 2279,
      "language_handler" -> 2280, "internal" -> 2281, "anyelement" -> 2283,
      "event_trigger" -> 3838)

  val defaultNamespaceOid = 2200
  val defaultNamespace = "spark"
  val userRoleOid = 10

  /** Fastpath-callable functions (FunctionCall 'F' → FunctionCallResponse):
    * (oid, proname, arg type oids, result type oid). OIDs sit in PG's user
    * range (≥16384); clients discover them by name from pg_proc — the same
    * lookup libpq's large-object fastpath setup performs. The reference
    * decodes the 'F' message but then throws "Not supported yet"
    * (protocol.scala:506-533); here the call executes for real against the
    * session's function registry, so these rows also seed pg_proc (which
    * doubles as real `\df` output).
    */
  val fastpathFunctions: Seq[(Int, String, Seq[Int], Int)] = Seq(
    (16384, "current_schema", Nil, 1043),
    (16385, "pg_backend_pid", Nil, 23),
    (16386, "pg_encoding_to_char", Seq(23), 1043),
    (16387, "pg_get_userbyid", Seq(23), 1043),
    (16388, "format_type", Seq(23, 23), 1043),
    (16389, "pg_table_is_visible", Seq(23), 16),
    (16390, "graft_stat", Seq(1043), 20),
    (16391, "upper", Seq(1043), 1043),
    (16392, "length", Seq(1043), 23),
    (16393, "version", Nil, 1043))

  def fastpathByOid(oid: Int): Option[(String, Seq[Int], Int)] =
    fastpathFunctions.find(_._1 == oid).map(f => (f._2, f._3, f._4))

  private val typeNameByOid: Map[Int, String] = typeOidByName.map(_.swap)

  /** format_type/regtype: the name of a seeded or pseudo type. */
  def typeNameOf(oid: Int): String = typeNameByOid.getOrElse(oid, "unknown")

  /** One catalog relation: a DSv2 table whose scan is a [[LocalScan]] over
    * `rowsOf` the planning session. A static table computes its rows once.
    */
  private final class CatalogRelation(tableName: String, ddl: String, fixed: Boolean,
      rowsOf: SparkSession => Seq[Row]) extends SupportsRead {
    override def name: String = tableName
    override val schema: StructType = StructType.fromDDL(ddl)
    override def capabilities: java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)

    private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    private def rows(spark: SparkSession): Array[InternalRow] =
      rowsOf(spark).map(r => toCatalyst(r).asInstanceOf[InternalRow]).toArray
    private lazy val constant = rows(null)

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () => {
      val data = if (fixed) constant else rows(SparkSession.active)
      // the row count lets a join with a catalog relation broadcast it
      new LocalScan with SupportsReportStatistics {
        override def readSchema: StructType = schema
        override def rows: Array[InternalRow] = data
        override def estimateStatistics: Statistics = new Statistics {
          override def sizeInBytes = OptionalLong.of(schema.defaultSize.toLong * data.length)
          override def numRows = OptionalLong.of(data.length)
        }
      }
    }
  }

  private def static(name: String, ddl: String)(rows: => Seq[Row]): CatalogRelation =
    new CatalogRelation(name, ddl, fixed = true, _ => rows)

  private def live(name: String, ddl: String)(rows: SparkSession => Seq[Row]): CatalogRelation =
    new CatalogRelation(name, ddl, fixed = false, rows)

  private def isTable(t: CatalogTable): Boolean =
    t.tableType == CatalogTableType.MANAGED || t.tableType == CatalogTableType.EXTERNAL

  /** (pg_class oid, table name, attnum, column) of every column of the
    * visible tables and views. The oid is 10000 + the listing position:
    * stable while the listing is.
    */
  private def columns(spark: SparkSession) =
    Internals.catalogTables(spark).zipWithIndex.flatMap { case (t, i) =>
      t.schema.fields.zipWithIndex.map { case (f, c) => (10000 + i, t.identifier.table, c + 1, f) }
    }

  private val relations: Map[String, CatalogRelation] = Seq(
    static("pg_type", "oid INT, typname STRING, typtype STRING, typlen INT, " +
      "typnotnull BOOLEAN, typelem INT, typdelim STRING, typinput STRING, typrelid INT, " +
      "typbasetype INT, typcollation INT, typnamespace INT") {
      PgTypes.table.map { t =>
        Row(t.oid, t.name, "b", t.len, false, t.elem, ",", t.input, 0, 0, 0, defaultNamespaceOid)
      }
    },
    static("pg_namespace", "oid INT, nspname STRING")(
      Seq(Row(defaultNamespaceOid, defaultNamespace))),
    static("pg_roles", "oid INT, rolname STRING")(Seq(Row(userRoleOid, "spark-user"))),
    static("pg_user", "usename STRING, usesysid INT")(Seq(Row("spark-user", userRoleOid))),
    // PG 15's \l also reads the locale-provider columns
    static("pg_database", "datname STRING, datdba INT, encoding INT, datcollate STRING, " +
      "datctype STRING, datlocprovider STRING, datacl ARRAY<STRING>, daticulocale STRING") {
      Seq(Row("default", userRoleOid, 6, "C", "C", "c", null, null))
    },
    // Static empties the JDBC drivers probe (reference catalog.scala:87-118).
    static("pg_attrdef", "adrelid INT, adnum SHORT, adbin STRING")(Nil),
    static("pg_constraint", "oid INT, confupdtype STRING, confdeltype STRING, conname STRING, " +
      "condeferrable BOOLEAN, condeferred BOOLEAN, conkey ARRAY<INT>, confkey ARRAY<INT>, " +
      "confrelid INT, conrelid INT, contype STRING")(Nil),
    static("pg_depend", "objid INT, classid INT, refobjid INT, refclassid INT")(Nil),
    static("pg_description", "objoid INT, classoid INT, objsubid INT, description STRING")(Nil),
    // indkey is PG's int2vector of indexed column numbers; pgjdbc's
    // getPrimaryKeys expands it via information_schema._pg_expandarray
    static("pg_index", "oid INT, indrelid INT, indexrelid INT, indisprimary BOOLEAN, " +
      "indkey ARRAY<SMALLINT>")(Nil),
    static("pg_inherits",
      "inhrelid INT, inhparent INT, inhseqno INT, inhdetachpending BOOLEAN")(Nil),
    static("pg_policy", "polname STRING, polrelid INT, polcmd STRING, polroles STRING, " +
      "polqual STRING, polwithcheck STRING")(Nil),
    static("pg_collation", "oid INT, collname STRING")(Nil),
    // access methods: \dt on PG>=12 LEFT JOINs this (rows survive, am null)
    static("pg_am", "oid INT, amname STRING")(Nil),
    // lock monitor: admin tools (DBeaver, pgAdmin) probe it when browsing
    // sessions; there is no lock manager, so zero rows is the truth
    static("pg_locks", "locktype STRING, database INT, relation INT, pid INT, mode STRING, " +
      "granted BOOLEAN, virtualtransaction STRING, virtualxid STRING")(Nil),
    // seeded (not empty) since round 5: the fastpath registry is the source
    // of truth, so FunctionCall clients can resolve OIDs by name and \df
    // shows real rows. prokind replaced proisagg/proiswindow in PG 11; \df
    // on new announced versions reads it.
    static("pg_proc", "oid INT, proname STRING, prorettype INT, proargtypes ARRAY<INT>, " +
      "pronamespace INT, proisagg BOOLEAN, proiswindow BOOLEAN, proretset BOOLEAN, " +
      "prokind STRING") {
      fastpathFunctions.map { case (oid, name, argOids, retOid) =>
        Row(oid, name, retOid, argOids, defaultNamespaceOid, false, false, false, "f")
      }
    },

    // Live tables over the session catalog, so psql \d works: pg_class
    // with the reference's full 21-column schema (catalog.scala:217-219)
    // plus relam (access-method oid, read by \dt on PG>=12), and
    // pg_attribute rows per visible column.
    live("pg_class", "oid INT, reltablespace INT, relname STRING, reloftype INT, " +
      "relpersistence STRING, relkind STRING, relnamespace INT, relowner INT, " +
      "relacl ARRAY<STRING>, relchecks SHORT, reltoastrelid INT, relhasindex BOOLEAN, " +
      "relhasrules BOOLEAN, relhastriggers BOOLEAN, relrowsecurity BOOLEAN, " +
      "relforcerowsecurity BOOLEAN, relreplident STRING, reltriggers SHORT, " +
      "relhasoids BOOLEAN, relispartition BOOLEAN, relpartbound STRING, relam INT") { spark =>
      Internals.catalogTables(spark).zipWithIndex.map { case (t, i) =>
        Row(10000 + i, 0, t.identifier.table, 0, "p", if (isTable(t)) "r" else "v",
          defaultNamespaceOid, userRoleOid, null, 0.toShort, 0,
          false, false, false, false, false, "d", 0.toShort, false, false, null, 0)
      }
    },
    // atttypid is the type RowDescription announces; attgenerated '' is a
    // plain column (read by \d on PG>=12)
    live("pg_attribute", "oid INT, attrelid INT, attname STRING, atttypid INT, " +
      "attnotnull BOOLEAN, atthasdef BOOLEAN, atttypmod INT, attlen INT, attnum INT, " +
      "attidentity STRING, attisdropped BOOLEAN, attcollation INT, attgenerated STRING") {
      spark => columns(spark).map { case (rel, _, num, f) =>
        val oid = PgTypes.oidOf(f.dataType)
        Row(0, rel, f.name, oid, !f.nullable, false, -1, PgTypes.typeLenOf(oid), num,
          "", false, 0, "")
      }
    },

    // information_schema emulation (beyond-reference): many BI tools query
    // information_schema, not pg_catalog. PgRewrite fuses the qualifier, so
    // information_schema.tables resolves to information_schema_tables.
    static("information_schema_schemata",
      "catalog_name STRING, schema_name STRING, schema_owner STRING") {
      Seq(Row("default", defaultNamespace, "spark-user"))
    },
    live("information_schema_tables",
      "table_catalog STRING, table_schema STRING, table_name STRING, table_type STRING") {
      spark => Internals.catalogTables(spark).map { t =>
        Row("default", defaultNamespace, t.identifier.table,
          if (isTable(t)) "BASE TABLE" else "VIEW")
      }
    },
    live("information_schema_views",
      "table_catalog STRING, table_schema STRING, table_name STRING, view_definition STRING") {
      spark => Internals.catalogTables(spark).filterNot(isTable).map { t =>
        Row("default", defaultNamespace, t.identifier.table, null)
      }
    },
    live("information_schema_columns", "table_catalog STRING, table_schema STRING, " +
      "table_name STRING, column_name STRING, ordinal_position INT, column_default STRING, " +
      "is_nullable STRING, data_type STRING") {
      spark => columns(spark).map { case (_, table, num, f) =>
        Row("default", defaultNamespace, table, f.name, num, null,
          if (f.nullable) "YES" else "NO", typeNameOf(PgTypes.oidOf(f.dataType)))
      }
    },

    // Server state: every session, the querying one `active` with its
    // in-flight statement (PG's behaviour; the others show their last)
    live("pg_stat_activity", "pid INT, usename STRING, datname STRING, " +
      "application_name STRING, state STRING, query STRING, backend_start TIMESTAMP") {
      _ => SessionRegistry.activity.map { case (pid, busy, start, query, appName) =>
        Row(pid, "spark-user", "default", appName, if (busy) "active" else "idle", query,
          new java.sql.Timestamp(start))
      }
    },
    // pg_stat_statements over the ServerStats recent-statement ring:
    // per-statement-text call counts and execution-time statistics, bounded
    // by the ring's 100-event window (the real extension has its own
    // bounded hashtable)
    live("pg_stat_statements", "query STRING, calls BIGINT, total_exec_time DOUBLE, " +
      "min_exec_time DOUBLE, max_exec_time DOUBLE, mean_exec_time DOUBLE") {
      _ => ServerStats.recentStatements.groupBy(_.statement).map { case (q, evs) =>
        val times = evs.map(_.durationMs.toDouble)
        Row(q, evs.size.toLong, times.sum, times.min, times.max, times.sum / times.size)
      }.toSeq
    },
    live("pg_settings", "name STRING, setting STRING, unit STRING, category STRING, " +
      "short_desc STRING, context STRING, source STRING")(PgGuc.settingsRows)
  ).map(t => t.name -> t).toMap

  /** The relation of catalog table `name` (any case), under that name. */
  def relation(name: String): Option[LogicalPlan] =
    relations.get(name.toLowerCase)
      .map(t => SubqueryAlias(name, DataSourceV2Relation.create(t, None, None)))

  /** Make a session built without [[PgExtensions]] ready for PG clients:
    * the system functions ([[PgFunctions.all]]) go into its registry. The
    * catalog relations need nothing per session.
    */
  def register(spark: SparkSession): Unit = PgFunctions.register(spark)

  /** Catalog relations whose backing feature (row-level security, logical
    * replication, extended statistics, rules/triggers) has no Spark
    * counterpart. psql's hidden `\d` queries over them use PG-only syntax —
    * `ARRAY(SELECT ...)`, `= ANY(...)`, regtype casts — that Spark cannot
    * parse, and the truthful answer is always zero rows (psql renders those
    * sections only when ntuples > 0). SELECTs touching them short-circuit
    * to an empty result server-side.
    */
  private val featureAbsentRe =
    ("(?is)\\bpg_(policy|policies|publication(_rel|_namespace)?|" +
      "statistic_ext(_data)?|rewrite|trigger|event_trigger|rules|matviews)\\b").r

  def isFeatureAbsentQuery(sql: String): Boolean = {
    val t = sql.trim
    (t.regionMatches(true, 0, "SELECT", 0, 6) || t.regionMatches(true, 0, "WITH", 0, 4)) &&
      featureAbsentRe.findFirstIn(sql).isDefined
  }

  /** DuckDB oracle for the pg_type scan: the same seed rows as inline VALUES
    * (generated from the same Seq, so consistent by construction).
    */
  def pgTypeOracle: String = {
    val rows = PgTypes.table.map { t =>
      s"(${t.oid}, '${t.name}', ${t.len}, ${t.elem}, '${t.input}')"
    }.mkString(",\n        ")
    s"""SELECT * FROM (VALUES
        $rows) AS t(oid, typname, typlen, typelem, typinput)
      ORDER BY oid"""
  }
}
