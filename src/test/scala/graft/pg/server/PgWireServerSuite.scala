package graft.pg.server

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.sys.process._

import graft.TestSpark

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end wire-protocol tests: the real `psql` binary for the simple 'Q'
  * flow (mirrors reference PsqlCommandsSuite) and a raw-socket V3 client for
  * the extended P/B/D/E/S flow incl. portal suspension (mirrors reference
  * PgV3ProtocolScenarioSuite.scala:22-68).
  */
class PgWireServerSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var server: PgWireServer = _
  private def port: Int = server.boundPort

  override def beforeAll(): Unit = {
    server = new PgWireServer(TestSpark.spark, port = 0)
    server.start()
  }

  override def afterAll(): Unit = if (server != null) server.stop()

  private def psql(sql: String): String =
    Seq("psql", s"host=127.0.0.1 port=$port dbname=default user=graft sslmode=prefer",
      "-At", "-c", sql).!!.trim

  test("psql: SELECT constant") {
    assert(psql("SELECT 1 AS x") === "1")
  }

  test("psql: expressions, strings, booleans, null") {
    assert(psql("SELECT 2 + 3") === "5")
    assert(psql("SELECT 'ab' || 'cd'") === "abcd")
    assert(psql("SELECT true, false") === "t|f")
    assert(psql("SELECT NULL") === "")
  }

  test("psql: PG dialect through the wire (::cast, ~, generate_series)") {
    assert(psql("SELECT 42::text") === "42")
    assert(psql("SELECT 'spark' ~ 'sp.*'") === "t")
    assert(psql("SELECT * FROM generate_series(1, 3)") === "1\n2\n3")
  }

  test("a second server on the same base adds no second PG parser layer") {
    val second = new PgWireServer(TestSpark.spark, port = 0)
    second.start()
    val c = new WireClient(second.boundPort)
    try {
      val pid = WireClient.backendPid(c.connect())
      val spark = SessionRegistry.get(pid).get.spark
      org.apache.spark.sql.graft.Internals.sessionParser(spark) match {
        case pg: graft.pg.PgParserInterface =>
          assert(!pg.delegate.isInstanceOf[graft.pg.PgParserInterface],
            "the PG parser must wrap Spark's own, not another PG parser")
        case other => fail(s"the connection does not parse with the PG parser: $other")
      }
      assert(WireClient.col0(c.simple("SELECT pg_backend_pid()")) === Seq(pid.toString))
    } finally { c.close(); second.stop() }
  }

  test("psql: PG-style command tags for DDL, CTAS and writes") {
    // psql prints the server's CommandComplete tag for row-less statements —
    // PG's tags carry the object type ("CREATE TABLE", not "CREATE")
    def tagOf(sql: String): String = {
      val out = new StringBuilder
      val rc = scala.sys.process.Process(Seq("psql",
        s"host=127.0.0.1 port=$port dbname=default user=graft", "-At", "-c", sql))
        .!(scala.sys.process.ProcessLogger(
          l => out.append(l).append('\n'), l => out.append(l).append('\n')))
      assert(rc === 0, s"psql failed for [$sql]: $out")
      out.toString.trim.linesIterator.toSeq.last
    }
    tagOf("DROP DATABASE IF EXISTS tagdb CASCADE")
    // the in-memory catalog resets per JVM but spark-warehouse persists: a
    // stale physical dir from a killed run fails CREATE TABLE (same
    // pre-clean the golden corpus does)
    val whDir = java.nio.file.Paths.get(new java.net.URI(
      TestSpark.spark.conf.get("spark.sql.warehouse.dir")).getPath).resolve("tagdb.db")
    if (java.nio.file.Files.exists(whDir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(whDir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    assert(tagOf("CREATE DATABASE tagdb") === "CREATE DATABASE")
    assert(tagOf("CREATE TABLE tagdb.tag_t (a INT, b STRING) USING parquet") === "CREATE TABLE")
    assert(tagOf("INSERT INTO tagdb.tag_t VALUES (1, 'x'), (2, 'y')") === "INSERT 0 2")
    // deviation noted in commandTag: PG tags CTAS "SELECT n", but Spark's
    // CTAS command exposes no written-row metric — truthful CREATE TABLE
    assert(tagOf("CREATE TABLE tagdb.tag_ctas USING parquet AS SELECT * FROM tagdb.tag_t") === "CREATE TABLE")
    assert(tagOf("ALTER TABLE tagdb.tag_t ADD COLUMNS (c DOUBLE)") === "ALTER TABLE")
    assert(tagOf("CREATE OR REPLACE TEMPORARY VIEW tag_v AS SELECT 1 AS one") === "CREATE VIEW")
    assert(tagOf("TRUNCATE TABLE tagdb.tag_ctas") === "TRUNCATE TABLE")
    assert(tagOf("DROP TABLE IF EXISTS tagdb.tag_ctas") === "DROP TABLE")
    assert(tagOf("DROP TABLE tagdb.tag_t") === "DROP TABLE")
    assert(tagOf("DROP DATABASE tagdb") === "DROP DATABASE")
  }

  test("psql: EXPLAIN ANALYZE executes and reports the ran plan with metrics") {
    val out = psql("EXPLAIN ANALYZE SELECT l_returnflag, count(*) AS n " +
      "FROM parquet.`/root/testdata/sf0.001/lineitem.parquet` " +
      "GROUP BY l_returnflag")
    // the post-AQE executed plan with real metric values, PG-style column
    assert(out.contains("HashAggregate"), out)
    assert(out.contains("numOutputRows="), out)
    assert(out.contains("Execution Time:"), out)
    // it EXECUTED (PG semantics): a GUC mutation through EXPLAIN ANALYZE
    // lands, unlike plain EXPLAIN (analysis-only)
    psql("EXPLAIN ANALYZE SELECT set_config('graft.ea_probe', 'ran', false); " +
      "SELECT current_setting('graft.ea_probe')") match {
      case s => assert(s.linesIterator.toSeq.last === "ran", s)
    }
    // plain Spark EXPLAIN still routes to Spark untouched
    assert(psql("EXPLAIN SELECT 1").contains("== Physical Plan =="))
    // the option form works too
    assert(psql("EXPLAIN (ANALYZE, VERBOSE) SELECT 5").contains("Execution Time:"))
    // PG accepts options in ANY order: ANALYZE after another option still
    // executes (it used to fall to the plain-EXPLAIN path and silently
    // skip execution)
    assert(psql("EXPLAIN (VERBOSE, ANALYZE) SELECT 5").contains("Execution Time:"))
    psql("EXPLAIN (VERBOSE, ANALYZE) SELECT set_config('graft.ea_probe2', 'ran2', false); " +
      "SELECT current_setting('graft.ea_probe2')") match {
      case s => assert(s.linesIterator.toSeq.last === "ran2", s)
    }
    // ...but a disabled ANALYZE anywhere in the list must NOT execute
    assert(!psql("EXPLAIN (VERBOSE, ANALYZE FALSE) SELECT 5").contains("Execution Time:"))
  }

  test("psql: version-sniffing and monitoring probes answer PG-style") {
    // SQLAlchemy/psycopg parse "PostgreSQL x.y" out of version()
    assert(psql("SELECT version()").startsWith("PostgreSQL 9.6.0 graft"))
    assert(psql("SELECT pg_is_in_recovery()") === "f")
    // a timestamp in the past, not an error — failover monitors poll this
    assert(psql("SELECT pg_postmaster_start_time() <= current_timestamp()") === "t")
    // pg_sleep sleeps at execution: 0 returns immediately with empty text
    assert(psql("SELECT pg_sleep(0)") === "")
  }

  test("psql: statement_timeout cancels a pg_sleep mid-nap") {
    val out = new StringBuilder
    Process(Seq("psql",
      s"host=127.0.0.1 port=$port dbname=default user=graft", "-At",
      "-c", "SET statement_timeout=500", "-c", "SELECT pg_sleep(30)"))
      .!(ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    assert(out.toString.contains("statement timeout"), out.toString)
  }

  test("psql: real parquet scan with aggregation") {
    val out = psql(
      "SELECT l_returnflag, count(*) AS n FROM parquet.`/root/testdata/sf0.001/lineitem.parquet` GROUP BY l_returnflag ORDER BY l_returnflag")
    assert(out.split("\n").length === 3)
    assert(out.startsWith("A|"))
  }

  test("psql: timestamps and dates render PG-style") {
    assert(psql("SELECT TIMESTAMP '2024-01-15 12:34:56.5'") === "2024-01-15 12:34:56.5")
    assert(psql("SELECT DATE '2024-01-15'") === "2024-01-15")
  }

  test("psql: BEGIN / SET no-ops complete with their tags") {
    assert(psql("BEGIN") === "BEGIN")
    assert(psql("SET spark.sql.shuffle.partitions=8") === "SET")
  }

  test("psql: COMMIT / ROLLBACK / END complete with their own tags") {
    // psql -At prints no tag; capture stderr-free full output with -c and
    // default format, where the command tag is the whole output
    def tagOf(sql: String): String =
      Seq("psql", s"host=127.0.0.1 port=$port dbname=default user=graft",
        "-c", sql).!!.trim
    assert(tagOf("COMMIT") === "COMMIT")
    assert(tagOf("ROLLBACK") === "ROLLBACK")
    assert(tagOf("END") === "COMMIT")
    assert(tagOf("BEGIN") === "BEGIN")
    // savepoint family: psql-script no-ops under autocommit semantics
    assert(tagOf("SAVEPOINT sp1") === "SAVEPOINT")
    assert(tagOf("RELEASE SAVEPOINT sp1") === "RELEASE")
    assert(tagOf("ROLLBACK TO SAVEPOINT sp1") === "ROLLBACK")
    assert(tagOf("ABORT") === "ROLLBACK")
  }

  test("pg_stat_statements profiles the recent workload") {
    psql("SELECT 123456 AS stmt_marker")
    psql("SELECT 123456 AS stmt_marker")
    val out = psql(
      "SELECT calls, total_exec_time >= 0 FROM pg_stat_statements " +
        "WHERE query LIKE '%stmt_marker%' AND query NOT LIKE '%pg_stat%'")
    // the ring keeps the last 100 events; both runs of the marker counted
    val cols = out.split("\\|")
    assert(cols(0).toLong >= 2, s"expected >=2 calls, got $out")
    assert(cols(1) === "t")
  }

  test("psql: Spark-4 interval types render PG-style text") {
    assert(psql("SELECT INTERVAL '1' DAY") === "1 day")
    assert(psql("SELECT INTERVAL '2 03:04:05' DAY TO SECOND") === "2 days 03:04:05")
    assert(psql("SELECT INTERVAL '1-2' YEAR TO MONTH") === "1 year 2 mons")
    assert(psql("SELECT INTERVAL '-14' MONTH") === "-1 years -2 mons")
  }

  test("psql: timestamp text follows the session time zone") {
    val out = psql(
      "SET spark.sql.session.timeZone=America/New_York; SELECT timestamp_seconds(0)")
    assert(out.linesIterator.toSeq.last === "1969-12-31 19:00:00")
  }

  test("rows wider than the 1MiB scratch buffer stream intact") {
    val out = psql("SELECT length(repeat('xy', 1500000))")
    assert(out === "3000000")
    // and the value itself round-trips (a single 3MB field)
    val full = psql("SELECT repeat('ab', 1500000)")
    assert(full.length === 3000000 && full.startsWith("abab") && full.endsWith("ab"))
  }

  test("psql: pg_catalog visible") {
    assert(psql("SELECT typname FROM pg_type WHERE oid = 20") === "int8")
  }

  test("psql: information_schema views reflect the live catalog") {
    TestSpark.spark.sql(
      "CREATE OR REPLACE VIEW infoschema_probe AS SELECT 1 AS id, 'x' AS txt")
    try {
      assert(psql("SELECT schema_name FROM information_schema.schemata") === "spark")
      assert(psql(
        "SELECT table_type FROM information_schema.tables WHERE table_name = 'infoschema_probe'")
        === "VIEW")
      assert(psql(
        "SELECT column_name, data_type, is_nullable FROM information_schema.columns " +
          "WHERE table_name = 'infoschema_probe' ORDER BY ordinal_position")
        // literal-backed view columns are non-nullable in Spark's catalog
        === "id|int4|NO\ntxt|varchar|NO")
      assert(psql(
        "SELECT table_name FROM information_schema.views WHERE table_name = 'infoschema_probe'")
        === "infoschema_probe")
    } finally TestSpark.spark.sql("DROP VIEW IF EXISTS infoschema_probe")
  }

  test("pg_attribute and pg_type agree with RowDescription for every column type") {
    TestSpark.spark.sql("""CREATE OR REPLACE VIEW codec_types AS SELECT true AS bo,
      CAST(1 AS TINYINT) AS i1, CAST(1 AS SMALLINT) AS i2, 1 AS i4, 1L AS i8,
      CAST(1 AS FLOAT) AS f4, CAST(1 AS DOUBLE) AS f8, CAST(1 AS DECIMAL(10, 2)) AS n,
      'x' AS s, X'01' AS b, DATE '2024-01-01' AS d, TIMESTAMP '2024-01-01 00:00:00' AS ts,
      TIMESTAMP_NTZ '2024-01-01 00:00:00' AS ntz, INTERVAL '1' DAY AS dti,
      INTERVAL '1' YEAR AS ymi, array(true) AS ab, array(CAST(1 AS SMALLINT)) AS ai2,
      array(1) AS ai4, array(1L) AS ai8, array(CAST(1 AS FLOAT)) AS af4,
      array(CAST(1 AS DOUBLE)) AS af8, array('x') AS asx, array(DATE '2024-01-01') AS ad,
      array(TIMESTAMP '2024-01-01 00:00:00') AS ats, array(CAST(1 AS DECIMAL(10, 2))) AS an,
      array(array(1)) AS nested, map('k', 1) AS m, named_struct('x', 1) AS st""")
    try {
      val described = WireClient.withClient(port)(c =>
        WireClient.columns(c.simple("SELECT * FROM codec_types")))
      assert(described.length === 28)
      val catalog = WireClient.withClient(port)(c => WireClient.rows(c.simple(
        """SELECT a.attname, a.atttypid, a.attlen, t.typlen, t.typname,
          |  format_type(a.atttypid, NULL), i.data_type
          |FROM pg_attribute a JOIN pg_class c ON a.attrelid = c.oid
          |LEFT JOIN pg_type t ON t.oid = a.atttypid
          |JOIN information_schema.columns i
          |  ON i.table_name = c.relname AND i.column_name = a.attname
          |WHERE c.relname = 'codec_types' ORDER BY a.attnum""".stripMargin)))
      assert(catalog.map(r => (r(0), r(1).toInt, r(2).toInt)) === described)
      assert(catalog.map(r => (r(0), r(3).toInt)) === described.map(d => (d._1, d._3)),
        "pg_type.typlen")
      assert(catalog.forall(r => r(4) == r(5) && r(4) == r(6)), catalog.mkString("\n"))
      assert(psql("SELECT format_type(25, NULL), format_type(1082, NULL)") === "text|date")
    } finally TestSpark.spark.sql("DROP VIEW IF EXISTS codec_types")
  }

  test("psql: error surfaces as ERROR not disconnect") {
    val res = Seq("psql", s"host=127.0.0.1 port=$port dbname=default user=graft",
      "-At", "-c", "SELECT no_such_column").!(ProcessLogger(_ => ()))
    assert(res != 0) // psql exits nonzero but got a proper ErrorResponse
    assert(psql("SELECT 7") === "7") // server still healthy
  }

  test("psql: multi-statement simple query") {
    assert(psql("SELECT 1; SELECT 2") === "1\n2")
  }

  test("psql: trailing comments and comment-embedded semicolons don't break the split") {
    assert(psql("SELECT 1; -- done") === "1")
    assert(psql("SELECT 1 -- note; with semicolon\n + 2") === "3")
    assert(psql("/* lead; */ SELECT 4") === "4")
  }

  test("extended flow: binary int4 parameter decodes via the declared oid") {
    val c = new RawClient
    c.startup()
    // Parse declares one int4 (oid 23) parameter
    c.send('P', c.cstr("sbin") ++ c.cstr("SELECT $1 + 1 AS v") ++
      Array[Byte](0, 1, 0, 0, 0, 23))
    // Bind sends the param in binary format: int4 41
    c.send('B', c.cstr("") ++ c.cstr("sbin") ++
      Array[Byte](0, 1, 0, 1) ++ // one param format code: binary
      Array[Byte](0, 1) ++ // 1 param
      Array[Byte](0, 0, 0, 4, 0, 0, 0, 41) ++ // len=4, int4 41
      Array[Byte](0, 0))
    c.send('E', c.cstr("") ++ Array[Byte](0, 0, 0, 0))
    val msgs = c.sync()
    val data = msgs.find(_._1 == 'D').get._2
    val buf = java.nio.ByteBuffer.wrap(data)
    buf.getShort
    val len = buf.getInt
    val v = new Array[Byte](len); buf.get(v)
    assert(new String(v, UTF_8) === "42")
    c.close()
  }

  test("large results stream through chunked flushes intact") {
    // ~3.9MB of text rows: exercises the >1MiB chunk flush path
    val out = psql("SELECT id FROM range(500000) ORDER BY id")
    val lines = out.split("\n")
    assert(lines.length === 500000)
    assert(lines.head === "0" && lines.last === "499999")
  }

  test("error after streaming began still reaches the client cleanly") {
    // divide-by-zero triggers mid-execution after RowDescription under ANSI
    val res = Seq("psql", s"host=127.0.0.1 port=$port dbname=default user=graft",
      "-At", "-c", "SELECT id / (id - 250000) FROM range(500000)").!(ProcessLogger(_ => ()))
    assert(res != 0)
    assert(psql("SELECT 9") === "9") // connection pool still healthy
  }

  private def dataCells(p: Array[Byte]): Seq[String] = {
    val b = java.nio.ByteBuffer.wrap(p)
    val n = b.getShort.toInt
    (0 until n).map { _ =>
      val len = b.getInt
      if (len == -1) null
      else { val v = new Array[Byte](len); b.get(v); new String(v, UTF_8) }
    }
  }

  private def sqlStateOf(payload: Array[Byte]): String = {
    var i = 0
    while (i < payload.length && payload(i) != 0) {
      val tpe = payload(i).toChar
      val end = payload.indexOf(0.toByte, i + 1)
      if (tpe == 'C') return new String(payload, i + 1, end - i - 1, UTF_8)
      i = end + 1
    }
    "?"
  }

  test("statement_timeout cancels the statement with SQLSTATE 57014") {
    val c = new RawClient
    c.startup()
    c.send('Q', c.cstr("SET statement_timeout=1200"))
    c.drainUntilReady()
    val t0 = System.currentTimeMillis()
    // >>1.2s uncancelled
    c.send('Q', c.cstr("SELECT max(id * 2 + 1) FROM range(200000000000)"))
    val msgs = c.drainUntilReady()
    val elapsed = System.currentTimeMillis() - t0
    val err = msgs.find(_._1 == 'E')
    assert(err.isDefined, "timed-out statement must surface an ErrorResponse")
    assert(sqlStateOf(err.get._2) === "57014", "PG query_canceled SQLSTATE")
    assert(new String(err.get._2, UTF_8).contains("statement timeout"))
    assert(elapsed < 30000, s"timeout fired too late: ${elapsed}ms")
    // 0 disables; the session is healthy
    c.send('Q', c.cstr("SET statement_timeout=0"))
    c.drainUntilReady()
    c.send('Q', c.cstr("SELECT 3"))
    assert(c.drainUntilReady().exists(_._1 == 'D'))
    c.close()
  }

  test("pg_stat_activity lists live sessions with state and last query") {
    val c1 = new RawClient
    c1.startup()
    val c2 = new RawClient
    c2.startup()
    c2.send('Q', c2.cstr("SELECT 42 AS stat_marker"))
    c2.drainUntilReady()
    c1.send('Q', c1.cstr(
      "SELECT state, query FROM pg_stat_activity ORDER BY backend_start"))
    val rows = c1.drainUntilReady().filter(_._1 == 'D').map(m => dataCells(m._2))
    assert(rows.length >= 2, s"both sessions must be listed, got $rows")
    // the querying backend reports itself active with the in-flight query
    assert(rows.exists(r => r(0) == "active" && r(1).contains("pg_stat_activity")))
    // the idle session shows its LAST statement (PG semantics)
    assert(rows.exists(r => r(0) == "idle" && r(1).contains("stat_marker")),
      s"idle session with its last query expected in $rows")
    c1.close(); c2.close()
  }

  test("cancel actually interrupts a running query") {
    val c = new RawClient
    val (pid, secret) = c.startupKeyData()
    val t0 = System.currentTimeMillis()
    // a query that takes >>10s uncancelled
    c.send('Q', c.cstr("SELECT max(id * 2 + 1) FROM range(200000000000)"))
    Thread.sleep(1500)
    val cs = new Socket("127.0.0.1", port)
    val os = new DataOutputStream(cs.getOutputStream)
    os.writeInt(16); os.writeInt(80877102); os.writeInt(pid); os.writeInt(secret)
    os.flush(); cs.close()
    val msgs = c.drainUntilReady() // error response then ReadyForQuery
    val elapsed = System.currentTimeMillis() - t0
    assert(msgs.exists(_._1 == 'E'), "canceled query must surface an error")
    assert(elapsed < 30000, s"cancellation took too long: ${elapsed}ms")
    c.close()
  }

  // ---- raw V3 client for the extended flow ----

  private class RawClient {
    private val sock = new Socket("127.0.0.1", port)
    private val in = new DataInputStream(sock.getInputStream)
    private val os = new DataOutputStream(sock.getOutputStream)

    def startup(): Unit = { startupKeyData(); () }

    /** run the startup flow, returning (pid, secret) from BackendKeyData */
    def startupKeyData(): (Int, Int) = {
      val msgs = startupRaw(196608,
        cstr("user") ++ cstr("graft") ++ cstr("database") ++ cstr("default") :+ 0.toByte)
      msgs.find(_._1 == 'K').map { case (_, p) =>
        val b = java.nio.ByteBuffer.wrap(p)
        (b.getInt, b.getInt)
      }.getOrElse((-1, -1))
    }

    /** send an arbitrary startup packet and drain to ReadyForQuery */
    def startupRaw(code: Int, body: Array[Byte]): Seq[(Char, Array[Byte])] = {
      os.writeInt(8 + body.length)
      os.writeInt(code)
      os.write(body)
      os.flush()
      drainUntilReady()
    }

    def send(tpe: Char, payload: Array[Byte]): Unit = {
      os.writeByte(tpe)
      os.writeInt(4 + payload.length)
      os.write(payload)
      os.flush()
    }

    def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte

    /** read messages until ReadyForQuery; returns seq of (type, payload) */
    def drainUntilReady(): Seq[(Char, Array[Byte])] = {
      val msgs = mutable.ArrayBuffer.empty[(Char, Array[Byte])]
      var done = false
      while (!done) {
        val tpe = in.readByte().toChar
        val len = in.readInt()
        val payload = new Array[Byte](len - 4)
        in.readFully(payload)
        msgs += ((tpe, payload))
        if (tpe == 'Z') done = true
      }
      msgs.toSeq
    }

    def sync(): Seq[(Char, Array[Byte])] = { send('S', Array.empty); drainUntilReady() }
    def close(): Unit = { send('X', Array.empty); sock.close() }
  }

  test("extended flow: Parse/Bind/Describe/Execute with $1 parameter") {
    val c = new RawClient
    c.startup()
    // Parse: named statement with a $1 parameter
    c.send('P', c.cstr("s1") ++ c.cstr("SELECT 10 + $1 AS v") ++ Array[Byte](0, 0))
    // Bind: text param "32"
    c.send('B', c.cstr("") ++ c.cstr("s1") ++
      Array[Byte](0, 0) ++ // no param format codes (default text)
      Array[Byte](0, 1) ++ // 1 param
      { val b = "32".getBytes(UTF_8); java.nio.ByteBuffer.allocate(4).putInt(b.length).array() ++ b } ++
      Array[Byte](0, 0)) // no result format codes
    c.send('D', Array[Byte]('P'.toByte) ++ c.cstr(""))
    c.send('E', c.cstr("") ++ Array[Byte](0, 0, 0, 0))
    val msgs = c.sync()
    val types = msgs.map(_._1).mkString
    assert(types.contains("1")) // ParseComplete
    assert(types.contains("2")) // BindComplete
    assert(types.contains("T")) // RowDescription
    assert(types.contains("D")) // DataRow
    assert(types.contains("C")) // CommandComplete
    val data = msgs.find(_._1 == 'D').get._2
    // DataRow: int16 ncols, int32 len, payload
    val buf = java.nio.ByteBuffer.wrap(data)
    assert(buf.getShort === 1)
    val n = buf.getInt
    val v = new Array[Byte](n); buf.get(v)
    assert(new String(v, UTF_8) === "42")
    c.close()
  }

  test("extended flow: portal suspension with maxRows") {
    val c = new RawClient
    c.startup()
    c.send('P', c.cstr("s2") ++ c.cstr("SELECT id FROM range(0, 5) ORDER BY id") ++ Array[Byte](0, 0))
    c.send('B', c.cstr("p2") ++ c.cstr("s2") ++
      Array[Byte](0, 0, 0, 0, 0, 0))
    c.send('E', c.cstr("p2") ++ Array[Byte](0, 0, 0, 2)) // maxRows=2
    c.send('H', Array.empty)
    // Execute again to resume, then drain
    c.send('E', c.cstr("p2") ++ Array[Byte](0, 0, 0, 0))
    val msgs = c.sync()
    val types = msgs.map(_._1).mkString
    // 2 rows then PortalSuspended('s'), then remaining 3 rows + CommandComplete
    assert(types.count(_ == 'D') === 5)
    assert(types.contains("s"))
    val tag = msgs.filter(_._1 == 'C').map(m => new String(m._2, UTF_8).trim).last
    assert(tag.contains("SELECT 5"), s"tag was $tag")
    c.close()
  }

  test("extended flow: binary result format round-trips int8") {
    val c = new RawClient
    c.startup()
    c.send('P', c.cstr("sb") ++ c.cstr("SELECT CAST(4242 AS BIGINT) AS v") ++ Array[Byte](0, 0))
    c.send('B', c.cstr("") ++ c.cstr("sb") ++
      Array[Byte](0, 0) ++ // no param formats
      Array[Byte](0, 0) ++ // no params
      Array[Byte](0, 1, 0, 1)) // one result format code: binary
    c.send('E', c.cstr("") ++ Array[Byte](0, 0, 0, 0))
    val msgs = c.sync()
    val data = msgs.find(_._1 == 'D').get._2
    val buf = java.nio.ByteBuffer.wrap(data)
    assert(buf.getShort === 1)
    assert(buf.getInt === 8) // 8-byte binary int8
    assert(buf.getLong === 4242L)
    c.close()
  }

  test("syntax errors carry the 'P' position field psql needs for its caret") {
    val c = new RawClient
    c.startup()
    val sql = "SELECT broken syntax here FROM FROM lineitem"
    c.send('Q', c.cstr(sql))
    val msgs = c.drainUntilReady()
    val err = msgs.find(_._1 == 'E').getOrElse(fail("no ErrorResponse"))._2
    // 'C' must be the parse SQLSTATE, 'P' a 1-based offset in the statement
    val fields = fieldsOf(err)
    assert(fields.get('C') === Some("42601"), s"fields: $fields")
    val pos = fields.getOrElse('P', fail(s"no position field in $fields")).toInt
    assert(pos >= 1 && pos <= sql.length, s"position $pos out of range")
    // a runtime (non-parse) error carries no position field
    c.send('Q', c.cstr("SELECT 1/0"))
    val msgs2 = c.drainUntilReady()
    val err2 = msgs2.find(_._1 == 'E').getOrElse(fail("no ErrorResponse"))._2
    assert(!fieldsOf(err2).contains('P'))
    c.close()
  }

  private def fieldsOf(err: Array[Byte]): Map[Char, String] = {
    val b = java.nio.ByteBuffer.wrap(err)
    var fields = Map.empty[Char, String]
    var t = b.get()
    while (t != 0) {
      val sb = new StringBuilder
      var ch = b.get()
      while (ch != 0) { sb.append(ch.toChar); ch = b.get() }
      fields += (t.toChar -> sb.toString)
      t = if (b.hasRemaining) b.get() else 0
    }
    fields
  }

  test("fastpath FunctionCall 'F' executes and unknown types get a protocol error") {
    import graft.pg.PgCatalog
    def i32(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4).putInt(v).array()
    def i16(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(2).putShort(v.toShort).array()
    def oidOf(name: String): Int = PgCatalog.fastpathFunctions.find(_._2 == name).get._1
    val c = new RawClient
    val (pid, _) = c.startupKeyData()

    // no-arg text call: pg_backend_pid() -> the session's wire pid, text
    c.send('F', i32(oidOf("pg_backend_pid")) ++ i16(0) ++ i16(0) ++ i16(0))
    val r1 = c.drainUntilReady()
    val v1 = r1.find(_._1 == 'V').getOrElse(fail(s"no FunctionCallResponse: ${r1.map(_._1)}"))._2
    val b1 = java.nio.ByteBuffer.wrap(v1)
    val n1 = b1.getInt; val s1 = new Array[Byte](n1); b1.get(s1)
    assert(new String(s1, UTF_8) === pid.toString)

    // one text arg, BINARY result: length('hello') -> int4 binary 5
    val arg = "hello".getBytes(UTF_8)
    c.send('F', i32(oidOf("length")) ++ i16(0) ++ i16(1) ++ i32(arg.length) ++ arg ++ i16(1))
    val r2 = c.drainUntilReady()
    val v2 = r2.find(_._1 == 'V').get._2
    val b2 = java.nio.ByteBuffer.wrap(v2)
    assert(b2.getInt === 4)
    assert(b2.getInt === 5)

    // unknown OID: ErrorResponse then ReadyForQuery, connection survives
    c.send('F', i32(999999) ++ i16(0) ++ i16(0) ++ i16(0))
    val r3 = c.drainUntilReady()
    assert(r3.exists(_._1 == 'E') && r3.last._1 == 'Z')

    // junk message type: protocol error, connection survives
    c.send('z', Array.empty)
    val r4 = c.drainUntilReady()
    assert(r4.exists(_._1 == 'E') && r4.last._1 == 'Z')
    c.send('Q', c.cstr("SELECT 7"))
    assert(c.drainUntilReady().exists(_._1 == 'D'), "connection must stay usable")
    c.close()
  }

  test("extended flow: error skips pipelined frames until Sync") {
    val c = new RawClient
    c.startup()
    // pgjdbc-style single batch: a failing Parse followed by B/D/E, then Sync
    c.send('P', c.cstr("bad") ++ c.cstr("SELECT definitely_not_a_column") ++ Array[Byte](0, 0))
    c.send('B', c.cstr("") ++ c.cstr("bad") ++ Array[Byte](0, 0, 0, 0, 0, 0))
    c.send('D', Array[Byte]('P'.toByte) ++ c.cstr(""))
    c.send('E', c.cstr("") ++ Array[Byte](0, 0, 0, 0))
    val msgs = c.sync()
    val types = msgs.map(_._1).mkString
    assert(types.count(_ == 'E') === 1,
      s"exactly one ErrorResponse for the whole failed batch, got: $types")
    assert(types.endsWith("Z"), s"batch must close with ReadyForQuery, got: $types")
    // next batch on the same connection works normally
    c.send('P', c.cstr("ok") ++ c.cstr("SELECT 11 AS v") ++ Array[Byte](0, 0))
    c.send('B', c.cstr("") ++ c.cstr("ok") ++ Array[Byte](0, 0, 0, 0, 0, 0))
    c.send('E', c.cstr("") ++ Array[Byte](0, 0, 0, 0))
    val ok = c.sync()
    assert(ok.exists(_._1 == 'D'), "connection must recover after Sync")
    c.close()
  }

  test("hostile frame length is rejected, not allocated") {
    val sock = new Socket("127.0.0.1", port)
    val os = new DataOutputStream(sock.getOutputStream)
    val in = new DataInputStream(sock.getInputStream)
    val body = "user".getBytes(UTF_8) ++ Array(0.toByte) ++
      "graft".getBytes(UTF_8) ++ Array(0.toByte, 0.toByte)
    os.writeInt(8 + body.length); os.writeInt(196608); os.write(body); os.flush()
    // drain startup response until ReadyForQuery
    var done = false
    while (!done) {
      val t = in.readByte().toChar
      val len = in.readInt()
      in.skipBytes(len - 4)
      if (t == 'Z') done = true
    }
    // a typed frame claiming a ~1.9GB payload
    os.writeByte('Q'); os.writeInt(0x70000000); os.write("SELECT 1".getBytes(UTF_8)); os.flush()
    // server answers with an ErrorResponse then closes; reading eventually EOFs
    val t = in.readByte().toChar
    assert(t === 'E', "oversized frame must produce an ErrorResponse")
    sock.close()
  }

  test("cancel request routes by pid/secret without crashing the server") {
    val c = new RawClient
    c.startup()
    // harvest pid+secret from BackendKeyData of a fresh connection
    val c2 = new RawClient
    val (pid, secret) = c2.startupKeyData()
    // wrong secret: no-op; right secret: cancels (no active op -> no-op)
    val cancelSock = new Socket("127.0.0.1", port)
    val os = new DataOutputStream(cancelSock.getOutputStream)
    os.writeInt(16); os.writeInt(80877102); os.writeInt(pid); os.writeInt(secret)
    os.flush(); cancelSock.close()
    Thread.sleep(200)
    // both sessions still usable
    c.send('Q', c.cstr("SELECT 5"))
    assert(c.drainUntilReady().exists(_._1 == 'D'))
    c2.send('Q', c2.cstr("SELECT 6"))
    assert(c2.drainUntilReady().exists(_._1 == 'D'))
    c.close(); c2.close()
  }

  test("server stats track sessions and statements") {
    val before = psql("SELECT graft_stat('statements_run')").toLong
    psql("SELECT 1")
    val after = psql("SELECT graft_stat('statements_run')").toLong
    assert(after > before)
    assert(psql("SELECT graft_stat('sessions_opened')").toLong > 0)
  }

  test("operation lifecycle transitions") {
    val s = SessionRegistry.create(TestSpark.spark)
    val op = new Operation(s, "SELECT 1")
    assert(op.currentState === OpState.Initialized)
    op.run { assert(op.currentState === OpState.Running); 42 }
    assert(op.currentState === OpState.Finished)
    val op2 = new Operation(s, "boom")
    intercept[RuntimeException](op2.run { throw new RuntimeException("x") })
    assert(op2.currentState === OpState.Error)
    s.close()
  }

  test("idle sessions are reaped") {
    val before = System.currentTimeMillis()
    val s = SessionRegistry.create(TestSpark.spark)
    s.lastActivity = before - 60000
    var reaped = false
    s.onReap = () => reaped = true
    SessionRegistry.reapIdle(30000)
    assert(reaped, "stale session must be reaped")
  }

  test("SET of the session time zone announces a TimeZone ParameterStatus") {
    val c = new RawClient
    c.startup()
    c.send('Q', c.cstr("SET spark.sql.session.timeZone=Asia/Tokyo"))
    val msgs = c.drainUntilReady()
    val params = msgs.filter(_._1 == 'S').map { case (_, p) =>
      // ParameterStatus payload is name NUL value NUL
      val parts = new String(p, UTF_8).split('\u0000'); (parts(0), parts(1))
    }
    assert(params.contains(("TimeZone", "Asia/Tokyo")),
      s"SET timeZone must emit ParameterStatus, got: $params")
    // a SET that does not touch the zone announces nothing
    c.send('Q', c.cstr("SET spark.sql.shuffle.partitions=8"))
    assert(!c.drainUntilReady().exists(_._1 == 'S'))
    // restore for other tests (single spark session is shared via newSession,
    // but this connection's session is isolated — still, be tidy)
    c.send('Q', c.cstr("SET spark.sql.session.timeZone=UTC"))
    c.drainUntilReady()
    c.close()
  }

  test("session isolation: temp views do not leak across connections") {
    val c1 = new RawClient
    c1.startup()
    c1.send('Q', c1.cstr("CREATE TEMPORARY VIEW t_iso AS SELECT 1 AS a"))
    c1.drainUntilReady()
    val c2 = new RawClient
    c2.startup()
    c2.send('Q', c2.cstr("SELECT * FROM t_iso"))
    val msgs = c2.drainUntilReady()
    assert(msgs.exists(_._1 == 'E'), "second session must not see the first's temp view")
    c1.close(); c2.close()
  }

  test("pg_class, pg_attribute and information_schema list what a connection creates") {
    val dir = java.nio.file.Files.createTempDirectory("graft-later-t")
    WireClient.withClient(port) { c =>
      try {
        c.simple(s"CREATE TABLE later_t (k INT, v STRING) USING parquet LOCATION '$dir'")
        c.simple("CREATE TEMP VIEW later_v AS SELECT 1 AS one")
        assert(WireClient.rows(c.simple("SELECT relname, relkind FROM pg_class " +
          "WHERE relname LIKE 'later_%' ORDER BY relname")) ===
          Seq(Seq("later_t", "r"), Seq("later_v", "v")))
        assert(WireClient.rows(c.simple("SELECT c.relname, a.attname FROM pg_attribute a " +
          "JOIN pg_class c ON a.attrelid = c.oid WHERE c.relname LIKE 'later_%' " +
          "ORDER BY c.relname, a.attnum")) ===
          Seq(Seq("later_t", "k"), Seq("later_t", "v"), Seq("later_v", "one")))
        assert(WireClient.rows(c.simple("SELECT table_name, table_type " +
          "FROM information_schema.tables WHERE table_name LIKE 'later_%' ORDER BY 1")) ===
          Seq(Seq("later_t", "BASE TABLE"), Seq("later_v", "VIEW")))
      } finally c.simple("DROP TABLE IF EXISTS later_t")
    }
  }

  test("pg_class lists a temp view to its own connection only") {
    WireClient.withClient(port) { c1 =>
      c1.simple("CREATE TEMP VIEW mine_only AS SELECT 1 AS one")
      val q = "SELECT count(*) FROM pg_class WHERE relname = 'mine_only'"
      assert(WireClient.col0(c1.simple(q)) === Seq("1"))
      WireClient.withClient(port)(c2 => assert(WireClient.col0(c2.simple(q)) === Seq("0")))
    }
  }

  test("a temp view over pg_stat_activity sees a session that connects after it") {
    WireClient.withClient(port) { c1 =>
      c1.simple("CREATE TEMP VIEW activity_v AS SELECT * FROM pg_stat_activity")
      WireClient.withClient(port) { c2 =>
        val pid2 = WireClient.col0(c2.simple("SELECT pg_backend_pid()")).head
        assert(WireClient.col0(c1.simple("SELECT pid FROM activity_v")).contains(pid2))
      }
    }
  }

  test("a WITH named like a catalog relation shadows it") {
    WireClient.withClient(port) { c =>
      assert(WireClient.col0(c.simple(
        "WITH pg_class AS (SELECT 'x' AS relname) SELECT relname FROM pg_class")) === Seq("x"))
    }
  }

  test("COPY of a catalog relation copies its rows") {
    WireClient.withClient(port) { c =>
      val m = c.simple("COPY pg_type TO STDOUT")
      assert(m.count(_._1 == 'd') === 29)
      assert(WireClient.commandTags(m) === Seq("COPY 29"))
      // a live relation copies out as it is at the COPY
      c.simple("CREATE TEMP VIEW copied_later AS SELECT 1 AS one")
      val rels = c.simple("COPY pg_class (relname) TO STDOUT")
      assert(rels.exists(r => r._1 == 'd' && new String(r._2, UTF_8) == "copied_later\n"))
    }
  }

  test("error responses carry the PG SQLSTATE clients branch on") {
    def sqlState(payload: Array[Byte]): String = {
      // ErrorResponse: repeated (field-type byte, cstring); 'C' = SQLSTATE
      var i = 0
      while (i < payload.length && payload(i) != 0) {
        val tpe = payload(i).toChar
        val end = payload.indexOf(0.toByte, i + 1)
        if (tpe == 'C') return new String(payload, i + 1, end - i - 1, UTF_8)
        i = end + 1
      }
      "?"
    }
    val c = new RawClient
    c.startup()
    def errFor(sql: String): String = {
      c.send('Q', c.cstr(sql))
      val msgs = c.drainUntilReady()
      val err = msgs.find(_._1 == 'E')
      assert(err.isDefined, s"expected an ErrorResponse for: $sql")
      sqlState(err.get._2)
    }
    assert(errFor("SELECT * FROM table_that_is_not_there") === "42P01") // undefined_table
    assert(errFor("SELECT nope_col FROM (VALUES (1)) t(a)") === "42703") // undefined_column
    assert(errFor("SELECT 1 +") === "42601") // syntax_error
    // connection stays healthy across classified errors
    c.send('Q', c.cstr("SELECT 1 AS ok"))
    assert(c.drainUntilReady().exists(_._1 == 'D'))
    c.close()
  }

  test("protocol 3.2 startup gets NegotiateProtocolVersion, then works normally") {
    val c = new RawClient
    // minor 2 + an unknown _pq_ protocol option: the server must answer
    // 'v' (newest minor = 0, option listed) and continue at 3.0
    val msgs = c.startupRaw((3 << 16) | 2,
      c.cstr("user") ++ c.cstr("graft") ++ c.cstr("database") ++ c.cstr("default") ++
        c.cstr("_pq_.fancy_feature") ++ c.cstr("on") :+ 0.toByte)
    val nego = msgs.find(_._1 == 'v')
    assert(nego.isDefined, s"expected NegotiateProtocolVersion, got ${msgs.map(_._1)}")
    val b = java.nio.ByteBuffer.wrap(nego.get._2)
    assert(b.getInt === 0, "newest supported minor must be 0")
    assert(b.getInt === 1, "exactly the one _pq_ option is unsupported")
    assert(msgs.exists(_._1 == 'R') && msgs.exists(_._1 == 'Z'),
      "startup must complete after negotiation")
    // and the downgraded connection executes queries
    c.send('Q', c.cstr("SELECT 41 + 1 AS v"))
    assert(c.drainUntilReady().exists(_._1 == 'D'))
    c.close()
  }
}
