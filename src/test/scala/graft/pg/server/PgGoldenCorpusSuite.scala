package graft.pg.server

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.sys.process._

import graft.TestSpark

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Golden-output e2e over a slice of the ported PostgreSQL regression corpus
  * (the reference runs the same inputs through JDBC,
  * TEST/SQLServerQueryTestSuite.scala:42-58). Each input file — PostgreSQL's
  * own regression SQL as adapted by Apache Spark's sql-tests, consumed in
  * place from the reference checkout rather than duplicated here — is
  * executed through a real `psql` against the wire server inside its own
  * database, and the full normalized output (rows AND errors) must match the
  * committed golden file. Regenerate with GOLDEN_REGEN=1 after intentional
  * behavior changes.
  */
class PgGoldenCorpusSuite extends AnyFunSuite with BeforeAndAfterAll {

  private val corpusDir = new File(
    "/root/reference/sql/sql-server/src/test/resources/sql-tests/inputs")
  private val goldenDir = new File("src/test/resources/golden-pg")
  private val regen = sys.env.get("GOLDEN_REGEN").contains("1")

  /** The full postgreSQL corpus directory (33 files — the reference runs
    * ~the same set through JDBC minus its blacklist). Because the goldens
    * capture OUR normalized behavior — rows and errors alike — the
    * reference's "output mismatch" blacklist reasons don't apply here; only
    * nondeterminism would (audited: the sole live now()/random() uses sit
    * in view definitions that are DESC'd, not selected, or in statements
    * that error deterministically).
    */
  private val corpus =
    Seq(
      "comments", "case", "boolean", "int2", "int4", "int8",
      "select_implicit", "select_having", "select_distinct", "limit",
      "union", "groupingsets", "with", "window_part1", "text",
      "select", "join", "aggregates_part1", "aggregates_part2",
      "aggregates_part3", "aggregates_part4", "strings", "numeric",
      "date", "timestamp", "interval", "float4", "float8", "insert",
      "create_view", "window_part2", "window_part3", "window_part4")
      .map("postgreSQL/" + _) ++
    Seq(
      "in-basic", "in-group-by", "in-having", "in-joins", "in-limit",
      "in-multiple-columns", "in-order-by", "in-set-operations",
      "in-with-cte", "not-in-group-by", "not-in-joins",
      "not-in-unit-tests-multi-column", "not-in-unit-tests-multi-column-literal",
      "not-in-unit-tests-single-column", "not-in-unit-tests-single-column-literal",
      "simple-in").map("subquery/in-subquery/" + _) ++
    Seq(
      "exists-aggregate", "exists-basic", "exists-cte", "exists-having",
      "exists-joins-and-set-ops", "exists-orderby-limit",
      "exists-within-and-or").map("subquery/exists-subquery/" + _) ++
    Seq("scalar-subquery-predicate", "scalar-subquery-select")
      .map("subquery/scalar-subquery/" + _) ++
    Seq("invalid-correlation", "subq-input-typecheck")
      .map("subquery/negative-cases/" + _) ++
    Seq("subquery/subquery-in-from",
      "group-by", "cte", "cross-join", "inner-join", "outer-join",
      "natural-join", "except", "except-all", "intersect-all", "count") ++
    // every remaining top-level input (the reference blacklists ~30 of
    // these for output-format or engine bugs its Spark 2.x base had —
    // TEST/SQLServerQueryTestSuite.scala:142-236; our goldens capture
    // rows AND errors, so only nondeterminism needs masking).
    // Excluded: blacklist.sql (intentionally crashes the engine),
    // udf/* and ansi/* (need the --UDF/--IMPORT directive harness).
    Seq(
      "array", "bitwise", "cast", "change-column", "columnresolution",
      "columnresolution-negative", "columnresolution-views", "comparator",
      "csv-functions", "cte-legacy", "date_part", "datetime",
      "decimalArithmeticOperations", "describe", "describe-part-after-analyze",
      "describe-query", "describe-table-after-alter-table",
      "describe-table-column", "explain", "extract", "group-analytics",
      "group-by-ordinal", "grouping_set", "having", "higher-order-functions",
      "inline-table", "interval", "join-empty-relation", "json-functions",
      "limit", "literals", "misc-functions", "null-handling",
      "null-propagation", "operator-div", "operators",
      "order-by-nulls-ordering", "order-by-ordinal", "pivot",
      "pred-pushdown", "predicate-functions", "query_regex_column", "random",
      "show-create-table", "show-tables", "show_columns",
      "sql-compatibility-functions", "string-functions", "struct",
      "table-aliases", "table-valued-functions", "tablesample-negative",
      "udaf", "union", "window") ++
    Seq(
      "arrayJoin", "binaryComparison", "booleanEquality", "caseWhenCoercion",
      "concat", "dateTimeOperations", "decimalPrecision", "division", "elt",
      "ifCoercion", "implicitTypeCasts", "inConversion", "mapZipWith",
      "mapconcat", "promoteStrings", "stringCastAndExpressions",
      "widenSetOperationTypes", "windowFrameCoercion")
      .map("typeCoercion/native/" + _) ++
    // directive tranches: --SET/--IMPORT are expanded by readInput; udf/
    // files get a real `udf` function via CREATE TEMPORARY FUNCTION in the
    // preamble (upstream substitutes an identity string UDF the same way —
    // IntegratedUDFTestUtils). With these, every reference input except the
    // intentionally-crashing blacklist.sql is covered: 177 of 178.
    Seq("interval-display", "interval-display-iso_8601",
      "interval-display-sql_standard") ++
    Seq("decimalArithmeticOperations", "higher-order-functions", "interval",
      "literals").map("ansi/" + _) ++
    Seq(
      "udf-count", "udf-cross-join", "udf-except-all", "udf-except",
      "udf-group-analytics", "udf-group-by", "udf-having", "udf-inline-table",
      "udf-inner-join", "udf-intersect-all", "udf-join-empty-relation",
      "udf-natural-join", "udf-outer-join", "udf-pivot", "udf-special-values",
      "udf-udaf", "udf-union", "udf-window").map("udf/" + _) ++
    Seq(
      "udf-aggregates_part1", "udf-aggregates_part2", "udf-aggregates_part3",
      "udf-aggregates_part4", "udf-case", "udf-join", "udf-select_having",
      "udf-select_implicit").map("udf/postgreSQL/" + _)

  /** flat, filesystem-safe name for goldens/databases. Lowercased: Spark
    * lowercases database identifiers, so the physical warehouse dir is
    * lowercase — the pre-clean of stale dirs must hit the same path.
    */
  private def flat(name: String): String =
    name.replaceAll("[^A-Za-z0-9]+", "_").toLowerCase

  /** window_part2's numerics.f_numeric is an INT column fed 1.1 and 1.12 —
    * two rows tie at 1, and first(id)/last(id) over a RANGE frame pick among
    * peer rows in partition-sort order, which Spark does not pin (PG's
    * corpus relies on insertion order). Those statements' row values are
    * genuinely nondeterministic, so the golden masks them; every other
    * statement in the file stays value-checked.
    */
  private def tieNondeterministic(stmt: String): Boolean = {
    val lc = stmt.toLowerCase
    // window_part2 peer-order ties (see above); plus statements whose VALUES
    // are genuinely time-dependent — datetime.sql selects current_date /
    // current_timestamp directly. Errors in those statements still check.
    lc.contains("order by f_numeric") ||
      lc.contains("current_date") || lc.contains("current_timestamp") ||
      lc.contains("now()")
  }

  private var server: PgWireServer = _

  override def beforeAll(): Unit = {
    server = new PgWireServer(TestSpark.spark, port = 0)
    server.start()
    goldenDir.mkdirs()
  }

  override def afterAll(): Unit = if (server != null) server.stop()

  /** strip run-dependent noise: expression ids, absolute paths, file-line
    * prefixes from psql, trailing whitespace
    */
  private def normalize(s: String): String = s.linesIterator
    .map(_.replaceAll("#\\d+", "#N")
      .replaceAll("psql:<stdin>:\\d+:", "psql:")
      .replaceAll("random\\(-?\\d+\\)", "random(SEED)")
      .replaceAll("CTERelation(Def|Ref) \\d+", "CTERelation$1 N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("(Created Time|Last Access)\\|[^|]+", "$1|TIME")
      .replaceAll("(Created Time|Last Access): .*", "$1: TIME")
      // which row of a multi-row scan overflows first is partition-order
      // dependent — mask the value, keep the error class
      .replaceAll("(NUMERIC_VALUE_OUT_OF_RANGE[.\\w]*\\]\\s+)[-\\d.]+", "$1VALUE")
      .replaceAll("file:[^\\s,;)\\]]+", "file:PATH")
      .replaceAll("/[^\\s,;)\\]]*spark-warehouse[^\\s,;)\\]]*", "PATH")
      .replaceAll("/root/reference[^\\s,;)\\]']*", "PATH")
      .replaceAll("\\s+$", ""))
    .mkString("\n").trim

  /** Read an input file, expanding the sql-tests harness directives:
    * `--IMPORT f.sql` inlines inputs/f.sql (upstream runs the imported
    * statements in place), `--SET k = v` becomes a real SET statement so the
    * conf change flows through the wire like everything else.
    */
  private def readInput(name: String): String = {
    val raw = new String(Files.readAllBytes(
      Paths.get(new File(corpusDir, s"$name.sql").getPath)), UTF_8)
    raw.linesIterator.map {
      case l if l.startsWith("--IMPORT ") =>
        readInput(l.stripPrefix("--IMPORT ").trim.stripSuffix(".sql"))
      case l if l.startsWith("--SET ") =>
        l.stripPrefix("--").trim + ";"
      case l => l
    }.mkString("\n")
  }

  private val pgData = new File(corpusDir, "../../test-data/postgresql").getCanonicalPath

  /** the PG regression schema the corpus assumes, provisioned per golden
    * database exactly like the reference does before running the inputs
    * (TEST/SQLServerQueryTestSuite.scala:77-131)
    */
  private def testTables: Seq[String] = {
    def csvTable(tname: String, cols: String, data: String) =
      s"CREATE TABLE $tname ($cols) USING csv OPTIONS (path '$pgData/$data', header 'false', delimiter '\t')"
    val onekCols = """unique1 int, unique2 int, two int, four int, ten int, twenty int,
      hundred int, thousand int, twothousand int, fivethous int, tenthous int,
      odd int, even int, stringu1 string, stringu2 string, string4 string"""
    Seq(
      "CREATE TABLE testdata AS SELECT id AS key, CAST(id AS string) AS value FROM range(1, 101)",
      """CREATE TABLE arraydata AS SELECT * FROM VALUES
         (ARRAY(1, 2, 3), ARRAY(ARRAY(1, 2, 3))),
         (ARRAY(2, 3, 4), ARRAY(ARRAY(2, 3, 4))) AS v(arraycol, nestedarraycol)""",
      """CREATE TABLE mapdata AS SELECT * FROM VALUES
         MAP(1, 'a1', 2, 'b1', 3, 'c1', 4, 'd1', 5, 'e1'),
         MAP(1, 'a2', 2, 'b2', 3, 'c2', 4, 'd2'),
         MAP(1, 'a3', 2, 'b3', 3, 'c3'),
         MAP(1, 'a4', 2, 'b4'),
         MAP(1, 'a5') AS v(mapcol)""",
      csvTable("aggtest", "a int, b float", "agg.data"),
      csvTable("onek", onekCols, "onek.data"),
      csvTable("tenk1", onekCols, "tenk.data"))
  }

  /** One psql session executes the provisioning preamble plus every corpus
    * statement, with `\echo`/`\warn` markers delimiting per-statement blocks
    * on stdout/stderr. Rows WITHIN a statement are sorted before comparison:
    * corpus queries without ORDER BY have no defined row order (and parquet
    * multi-file scan order genuinely varies across JVMs), so the golden
    * captures the value set per statement, while ordering semantics are
    * covered by the ORDER BY oracle queries elsewhere.
    */
  private def runFile(name: String): String = {
    // the in-memory catalog resets per JVM but spark-warehouse persists:
    // DROP DATABASE in a fresh JVM is a no-op, leaving stale table files
    // that fail the CTAS provisioning — clear the physical dir first
    val wh = java.nio.file.Paths.get(new java.net.URI(
      TestSpark.spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val dbDir = wh.resolve(s"golden_${flat(name)}.db")
    if (Files.exists(dbDir)) {
      import scala.jdk.CollectionConverters._
      Files.walk(dbDir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
    // the postgreSQL/ inputs are PG regression SQL (double quotes are
    // identifiers — the server's PG-dialect default); everything else is
    // Spark sql-tests dialect where "..." is a string literal, switched
    // per-session via the official Spark conf
    val dialectPre =
      if (name.startsWith("postgreSQL/")) Seq.empty
      else Seq("SET spark.sql.ansi.doubleQuotedIdentifiers=false")
    // ansi/ files run with ANSI on (explicit — it is also the Spark 4
    // default); udf/ files need the `udf` function the upstream harness
    // injects, provided here as a CREATE TEMPORARY FUNCTION so registration
    // itself flows through the server like any client statement
    val tranchePre =
      (if (name.startsWith("ansi/")) Seq("SET spark.sql.ansi.enabled=true")
       else Seq.empty) ++
      (if (name.startsWith("udf/"))
         Seq("CREATE TEMPORARY FUNCTION udf AS 'graft.pg.server.IdentityStringUDF'")
       else Seq.empty)
    val pre = Seq(
      s"DROP DATABASE IF EXISTS golden_${flat(name)} CASCADE",
      s"CREATE DATABASE golden_${flat(name)}",
      s"USE golden_${flat(name)}") ++ dialectPre ++ tranchePre ++ testTables
    val stmts = pre ++ PgStatementSplitter.split(readInput(name))
    val marker = "===STMT==="
    val script = stmts.map(s => s"$s;\n\\echo $marker\n\\warn $marker").mkString("\n")

    val out = new StringBuilder
    val err = new StringBuilder
    val cmd = Seq("psql",
      s"host=127.0.0.1 port=${server.boundPort} dbname=default user=graft",
      "-X", "-A", "-t", "-f", "-")
    (cmd #< new java.io.ByteArrayInputStream(script.getBytes(UTF_8))) !
      ProcessLogger(l => out.append(l).append('\n'), l => err.append(l).append('\n'))

    def blocks(s: String): Seq[Seq[String]] = {
      val bs = scala.collection.mutable.ArrayBuffer(scala.collection.mutable.ArrayBuffer.empty[String])
      s.linesIterator.foreach {
        case l if l.endsWith(marker) => bs += scala.collection.mutable.ArrayBuffer.empty[String]
        case l => bs.last += l
      }
      bs.map(_.toSeq).toSeq
    }
    val outBlocks = blocks(normalize(out.toString) + "\n")
    val errBlocks = blocks(normalize(err.toString) + "\n")
    stmts.zipWithIndex.map { case (stmt, i) =>
      val head = normalize(stmt.linesIterator.mkString(" ").replaceAll("\\s+", " ")).take(100)
      val rows =
        if (tieNondeterministic(stmt)) Seq("<nondeterministic: peer-order ties>")
        else outBlocks.lift(i).getOrElse(Seq.empty).filter(_.nonEmpty).sorted
      val errs = errBlocks.lift(i).getOrElse(Seq.empty).filter(_.nonEmpty).sorted
      s"-- [$i] $head" +
        (if (rows.nonEmpty) rows.mkString("\n", "\n", "") else "") +
        (if (errs.nonEmpty) errs.mkString("\n! ", "\n! ", "") else "")
    }.mkString("\n")
  }

  /** The catalog relations are no session views, so SHOW TABLES — and the
    * show_tables golden — lists none of them, while every name still
    * resolves in a query.
    */
  test("SHOW TABLES lists no catalog relation, and each still resolves") {
    val names = Seq(
      "information_schema_columns", "information_schema_schemata",
      "information_schema_tables", "information_schema_views",
      "pg_am", "pg_attrdef", "pg_attribute", "pg_class", "pg_collation",
      "pg_constraint", "pg_database", "pg_depend", "pg_description",
      "pg_index", "pg_inherits", "pg_locks", "pg_namespace", "pg_policy",
      "pg_proc", "pg_roles", "pg_type", "pg_user")
    val s = TestSpark.spark.newSession()
    graft.pg.PgCatalog.register(s)
    val listed = graft.pg.PgDialect.sql(s, "SHOW TABLES").collect().map(_.getString(1))
    assert(!listed.exists(n => n.startsWith("pg_") || n.startsWith("information_schema_")),
      listed.mkString(", "))
    names.foreach(n =>
      assert(graft.pg.PgDialect.sql(s, s"SELECT * FROM $n").schema.nonEmpty, n))
  }

  corpus.foreach { name =>
    test(s"golden: $name.sql") {
      assume(corpusDir.exists, "reference corpus not present")
      val got = runFile(name)
      val goldenFile = new File(goldenDir, s"${flat(name)}.out")
      if (regen) {
        Files.write(Paths.get(goldenFile.getPath), got.getBytes(UTF_8))
        info(s"regenerated ${goldenFile.getPath} (${got.linesIterator.size} lines)")
      } else {
        assert(goldenFile.exists, s"golden missing — run with GOLDEN_REGEN=1")
        val want = new String(Files.readAllBytes(Paths.get(goldenFile.getPath)), UTF_8)
        if (got != want) {
          val dump = Paths.get(s"/tmp/golden_fail_${flat(name)}.out")
          Files.write(dump, got.getBytes(UTF_8))
          val firstDiff = got.linesIterator.zipAll(want.linesIterator, "<EOF>", "<EOF>")
            .zipWithIndex.find { case ((g, w), _) => g != w }
          fail(s"output drifted from golden ${goldenFile.getPath} (got dumped to $dump); " +
            s"first differing line: $firstDiff")
        }
      }
    }
  }
}
