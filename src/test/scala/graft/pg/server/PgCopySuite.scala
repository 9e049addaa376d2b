package graft.pg.server

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.sys.process._

import graft.TestSpark

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** COPY subprotocol end-to-end through real psql `\copy` (the reference
  * decodes these messages but throws "Not supported yet",
  * protocol.scala:679-698 — here both directions work), plus unit coverage
  * of the statement/format parsers.
  */
class PgCopySuite extends AnyFunSuite with BeforeAndAfterAll {
  import WireClient._

  private var server: PgWireServer = _
  private def port: Int = server.boundPort

  override def beforeAll(): Unit = {
    server = new PgWireServer(TestSpark.spark, port = 0)
    server.start()
    TestSpark.spark.sql("DROP TABLE IF EXISTS copy_t")
    TestSpark.spark.sql("CREATE TABLE copy_t (k INT, v STRING, d DOUBLE) USING parquet")
  }

  override def afterAll(): Unit = {
    TestSpark.spark.sql("DROP TABLE IF EXISTS copy_t")
    if (server != null) server.stop()
  }

  private def psql(cmd: String): String =
    Seq("psql", s"host=127.0.0.1 port=$port dbname=default user=graft",
      "-At", "-c", cmd).!!.trim

  test("\\copy FROM text format round-trips incl. NULL and escapes") {
    val f = Files.createTempFile("copy_in", ".tsv")
    Files.write(f, "1\talpha\t1.5\n2\t\\N\t2.5\n3\twith\\ttab\t\\N\n".getBytes(UTF_8))
    val tag = psql(s"\\copy copy_t from ${f.toString}")
    assert(tag === "COPY 3")
    assert(psql("SELECT count(*) FROM copy_t WHERE v IS NULL") === "1")
    assert(psql("SELECT count(*) FROM copy_t WHERE d IS NULL") === "1")
    assert(psql("SELECT v FROM copy_t WHERE k = 3") === "with\ttab")
    Files.delete(f)
  }

  test("\\copy FROM csv with header and quoted fields") {
    psql("TRUNCATE TABLE copy_t")
    val f = Files.createTempFile("copy_in", ".csv")
    Files.write(f,
      "k,v,d\n10,\"hello, world\",0.5\n11,\"say \"\"hi\"\"\",\n".getBytes(UTF_8))
    val tag = psql(s"\\copy copy_t from ${f.toString} with (format csv, header true)")
    assert(tag === "COPY 2")
    assert(psql("SELECT v FROM copy_t WHERE k = 10") === "hello, world")
    assert(psql("SELECT v FROM copy_t WHERE k = 11") === "say \"hi\"")
    assert(psql("SELECT count(*) FROM copy_t WHERE d IS NULL") === "1")
  }

  test("COPY table TO STDOUT streams text format with \\N nulls") {
    psql("TRUNCATE TABLE copy_t")
    psql("INSERT INTO copy_t VALUES (1, 'a', 1.5), (2, NULL, 2.5)")
    val out = Seq("psql", s"host=127.0.0.1 port=$port dbname=default user=graft",
      "-c", "COPY (SELECT * FROM copy_t ORDER BY k) TO STDOUT").!!
    assert(out === "1\ta\t1.5\n2\t\\N\t2.5\n")
  }

  test("COPY (query) TO STDOUT csv renders booleans/quotes PG-style") {
    val out = Seq("psql", s"host=127.0.0.1 port=$port dbname=default user=graft",
      "-c", "COPY (SELECT 1 AS a, true AS b, 'x,y' AS c) TO STDOUT WITH (FORMAT csv)").!!
    assert(out === "1,t,\"x,y\"\n")
  }

  test("COPY FROM a server-side file rejects with a clear error") {
    val r = Seq("psql", s"host=127.0.0.1 port=$port dbname=default user=graft",
      "-At", "-c", "COPY copy_t FROM '/etc/passwd'").!(ProcessLogger(_ => ()))
    assert(r != 0)
    assert(psql("SELECT 1") === "1") // connection path still healthy
  }

  test("statement parser handles the COPY grammar") {
    import PgCopy._
    assert(parse("SELECT 1").isEmpty)
    assert(parse("COPY t FROM STDIN") ===
      Some(CopyIn("t", Nil, CopyOptions())))
    assert(parse("copy t (a, b) from stdin with csv header") ===
      Some(CopyIn("t", Seq("a", "b"),
        CopyOptions(csv = true, delimiter = ',', nullStr = "", header = true))))
    assert(parse("COPY t TO STDOUT (FORMAT csv, DELIMITER ';', NULL 'nil')") ===
      Some(CopyOut(Left("t"), Nil,
        CopyOptions(csv = true, delimiter = ';', nullStr = "nil"))))
    // a comma inside a quoted value does not end the option (psql's
    // `\copy ... with (format csv, delimiter ',')` sends the first)
    assert(parse("COPY t FROM STDIN (FORMAT csv, DELIMITER ',')") ===
      Some(CopyIn("t", Nil, CopyOptions(csv = true, delimiter = ',', nullStr = ""))))
    assert(parse("COPY t FROM STDIN (FORMAT csv, NULL 'a,b')") ===
      Some(CopyIn("t", Nil, CopyOptions(csv = true, delimiter = ',', nullStr = "a,b"))))
    assert(parse("COPY t TO STDOUT (FORMAT csv, NULL 'it''s, null', DELIMITER ';')") ===
      Some(CopyOut(Left("t"), Nil, CopyOptions(csv = true, delimiter = ';', nullStr = "it's, null"))))
    assert(parse("COPY (SELECT a FROM t WHERE x > 1) TO STDOUT") ===
      Some(CopyOut(Right("SELECT a FROM t WHERE x > 1"), Nil, CopyOptions())))
    intercept[IllegalArgumentException](parse("COPY t FROM 'file.csv'"))
    // the delimiter checks of PG's ProcessCopyOptions: 0A000 for the
    // length, 22023 for the rest
    for (d <- Seq("", "ab", "\u00e9"); opts <- Seq(s"(DELIMITER '$d')", s"DELIMITER '$d'"))
      assert(intercept[UnsupportedOperationException](parse(s"COPY t FROM STDIN $opts"))
        .getMessage === "COPY delimiter must be a single one-byte character", opts)
    for (d <- Seq("\n", "\r"); format <- Seq("text", "csv"))
      assert(intercept[IllegalArgumentException](
        parse(s"COPY t TO STDOUT (FORMAT $format, DELIMITER '$d')"))
        .getMessage === "COPY delimiter cannot be newline or carriage return", format)
    // text format escapes a delimiter with a backslash, so none of these
    for (d <- Seq("\\", ".", "a", "n", "z", "0", "9"))
      assert(intercept[IllegalArgumentException](parse(s"COPY t FROM STDIN (DELIMITER '$d')"))
        .getMessage === s"""COPY delimiter cannot be "$d"""")
    assert(parse("COPY t TO STDOUT (FORMAT csv, DELIMITER '.')") ===
      Some(CopyOut(Left("t"), Nil, CopyOptions(csv = true, delimiter = '.', nullStr = ""))))
  }

  test("COPY binary round-trips typed rows incl. numeric, timestamp, NULLs") {
    psql("DROP TABLE IF EXISTS copy_bin")
    psql("DROP TABLE IF EXISTS copy_bin2")
    psql("CREATE TABLE copy_bin (k INT, v STRING, d DOUBLE, " +
      "ts TIMESTAMP, n DECIMAL(10,2)) USING parquet")
    psql("CREATE TABLE copy_bin2 (k INT, v STRING, d DOUBLE, " +
      "ts TIMESTAMP, n DECIMAL(10,2)) USING parquet")
    psql("INSERT INTO copy_bin VALUES " +
      "(1, 'alpha', 1.5, TIMESTAMP '2024-03-01 12:34:56.789012', 1234.56), " +
      "(2, NULL, NULL, NULL, NULL), " +
      "(3, 'utf8 é', -0.25, TIMESTAMP '1999-12-31 23:59:59', -0.01)")
    val f = Files.createTempFile("copy_bin", ".pgb")
    val tagOut = psql(s"\\copy (SELECT * FROM copy_bin ORDER BY k) to ${f.toString} with (format binary)")
    assert(tagOut === "COPY 3")
    // the file must open with the PGCOPY signature
    val head = Files.readAllBytes(f).take(11)
    assert(head.toSeq === "PGCOPY\n".getBytes(UTF_8).toSeq ++ Seq(0xFF.toByte, '\r'.toByte, '\n'.toByte, 0x00.toByte))
    val tagIn = psql(s"\\copy copy_bin2 from ${f.toString} with (format binary)")
    assert(tagIn === "COPY 3")
    val before = psql("SELECT k, v, d, ts, n FROM copy_bin ORDER BY k")
    val after = psql("SELECT k, v, d, ts, n FROM copy_bin2 ORDER BY k")
    assert(after === before)
    assert(before.contains("1234.56") && before.contains("12:34:56.789012"))
    psql("DROP TABLE copy_bin"); psql("DROP TABLE copy_bin2")
    Files.deleteIfExists(f)
  }

  test("binary copy-in parser survives arbitrary frame splits") {
    TestSpark.spark.sql("DROP TABLE IF EXISTS copy_bin_chunk")
    TestSpark.spark.sql(
      "CREATE TABLE copy_bin_chunk (k INT, n DECIMAL(10,2)) USING parquet")
    try {
      // build a binary stream: header + 3 tuples + trailer
      val bb = java.nio.ByteBuffer.allocate(1024)
      bb.put(PgCopy.BinaryCopy.header)
      def tuple(k: Int, n: Option[String]): Unit = {
        bb.putShort(2)
        bb.putInt(4); bb.putInt(k)
        n match {
          case Some(s) =>
            val enc = graft.pg.wire.PgNumeric.toBytes(new java.math.BigDecimal(s))
            bb.putInt(enc.length); bb.put(enc)
          case None => bb.putInt(-1)
        }
      }
      tuple(1, Some("10.50")); tuple(2, None); tuple(3, Some("-99.99"))
      bb.put(PgCopy.BinaryCopy.Trailer)
      bb.flip()
      val stream = new Array[Byte](bb.remaining()); bb.get(stream)
      // feed in pathological 3-byte chunks: tuples span frames
      val st = new PgCopy.CopyInSession(TestSpark.spark,
        PgCopy.CopyIn("copy_bin_chunk", Nil, PgCopy.CopyOptions(binary = true)))
      stream.grouped(3).foreach(st.feed)
      assert(st.finish() === 3L)
      val got = TestSpark.spark.sql(
        "SELECT k, n FROM copy_bin_chunk ORDER BY k").collect()
      assert(got.map(_.getInt(0)).toSeq === Seq(1, 2, 3))
      assert(got(0).getDecimal(1).toString === "10.50")
      assert(got(1).isNullAt(1))
      assert(got(2).getDecimal(1).toString === "-99.99")
    } finally TestSpark.spark.sql("DROP TABLE IF EXISTS copy_bin_chunk")
  }

  /** A binary COPY stream of `tuples`, each field's send() bytes or null. */
  private def binaryStream(tuples: Seq[Seq[Array[Byte]]]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4096)
    bb.put(PgCopy.BinaryCopy.header)
    tuples.foreach { t =>
      bb.putShort(t.length.toShort)
      t.foreach(f => if (f == null) bb.putInt(-1) else { bb.putInt(f.length); bb.put(f) })
    }
    bb.put(PgCopy.BinaryCopy.Trailer)
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }

  test("binary copy-in reads fields as PG's recv functions do") {
    val spark = TestSpark.spark
    spark.sql("DROP TABLE IF EXISTS copy_recv")
    spark.sql("CREATE TABLE copy_recv (k INT, b BOOLEAN, raw BINARY, ntz TIMESTAMP_NTZ, " +
      "n DECIMAL(38,18)) USING parquet")
    def i4(v: Int) = java.nio.ByteBuffer.allocate(4).putInt(v).array()
    def i8(v: Long) = java.nio.ByteBuffer.allocate(8).putLong(v).array()
    def numeric(s: String) = graft.pg.wire.PgNumeric.toBytes(new java.math.BigDecimal(s))
    def copy(tuples: Seq[Array[Byte]]*): Long = {
      val st = new PgCopy.CopyInSession(spark, PgCopy.CopyIn("copy_recv", Nil,
        PgCopy.CopyOptions(binary = true)), java.time.ZoneId.of("America/New_York"))
      st.feed(binaryStream(tuples))
      st.finish()
    }
    try {
      // an 8-byte value for an INT column is not an int4
      val e = intercept[PgStateException](copy(Seq(i8(0x0000000100000005L), null, null, null, null)))
      assert((e.state, e.getMessage) === ("22P03", "incorrect binary data format"))
      // a numeric with more integer digits than DECIMAL(38,18) holds
      val wide = intercept[PgStateException](copy(Seq(i4(0), null, null, null,
        numeric("100000000000000000000"))))
      assert((wide.state, wide.getMessage) === ("22003", "numeric field overflow"))
      // boolrecv: any non-zero byte is true; bytea is its bytes; a
      // TIMESTAMP_NTZ in a New York DST gap keeps its wall clock; a
      // numeric rounds half up to the column's scale
      val gap = java.time.LocalDateTime.parse("2024-03-10T02:30:00")
      val wall = gap.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
      assert(copy(Seq(i4(1), Array[Byte](2), Array[Byte](0, -1), i8(wall - 946684800000000L),
        numeric("0.1234567890123456789"))) === 1L)
      val got = spark.table("copy_recv").collect().toSeq
      assert(got.map(r => (r.getInt(0), r.getBoolean(1), r.getAs[Array[Byte]](2).toSeq,
        r.getAs[java.time.LocalDateTime](3), r.getDecimal(4).toPlainString)) ===
        Seq((1, true, Seq[Byte](0, -1), gap, "0.123456789012345679")))
    } finally spark.sql("DROP TABLE IF EXISTS copy_recv")
  }

  test("COPY TO text and csv fields are the DataRow text, escaped for COPY") {
    val select = "SELECT array(1, 2) AS a, map('k', 1) AS m, named_struct('x', 1) AS s, " +
      "X'0102' AS b, CAST(0 AS DECIMAL(38, 18)) AS n, 'tab\there' AS t"
    assert(psql(select) ===
      "{1,2}|{\"k\":1}|{\"x\":1}|\\x0102|0.000000000000000000|tab\there")
    def copyOut(opts: String) = Seq("psql", s"host=127.0.0.1 port=$port dbname=default user=graft",
      "-c", s"COPY ($select) TO STDOUT $opts").!!
    assert(copyOut("") ===
      "{1,2}\t{\"k\":1}\t{\"x\":1}\t\\\\x0102\t0.000000000000000000\ttab\\there\n")
    assert(copyOut("WITH (FORMAT csv)") ===
      "\"{1,2}\",\"{\"\"k\"\":1}\",\"{\"\"x\"\":1}\",\\x0102,0.000000000000000000,tab\there\n")
  }

  test("binary format option parsing and conflicts") {
    import PgCopy._
    assert(parse("COPY t FROM STDIN WITH (FORMAT binary)") ===
      Some(CopyIn("t", Nil, CopyOptions(binary = true))))
    assert(parse("COPY t TO STDOUT BINARY") ===
      Some(CopyOut(Left("t"), Nil, CopyOptions(binary = true))))
    intercept[IllegalArgumentException](
      parse("COPY t FROM STDIN WITH (FORMAT binary, HEADER true)"))
    intercept[IllegalArgumentException](
      parse("COPY t FROM STDIN WITH (FORMAT binary, DELIMITER ',')"))
  }

  test("text/csv line parsers: null-before-unescape semantics") {
    /** `parse` over UTF-8 `line` and NULL string, fields decoded back */
    def split(parse: (Array[Byte], Byte, Array[Byte]) => Array[Array[Byte]], delim: Char,
        nullStr: String)(line: String): Seq[String] =
      parse(line.getBytes(UTF_8), delim.toByte, nullStr.getBytes(UTF_8)).toSeq
        .map(f => if (f == null) null else new String(f, UTF_8))
    val text = split(PgCopy.parseTextLine, '\t', "\\N") _
    val csv = split(PgCopy.parseCsvLine, ',', "") _
    assert(text("a\t\\N\tb") === Seq("a", null, "b"))
    // literal backslash-N survives as the two-char string
    assert(text("\\\\N") === Seq("\\N"))
    assert(text("x\\ty") === Seq("x\ty"))
    assert(csv("a,,\"\"") === Seq("a", null, ""))
    assert(csv("\"a,b\",\"c\"\"d\"") === Seq("a,b", "c\"d"))
    // a multi-byte character is split and unescaped whole
    assert(text("é\\é\t\\N") === Seq("éé", null))
    // one to three octal digits, or x and one or two hex digits, name a byte
    assert(text("\\101\\0619\t\\1\\18\t\\x41\\x4g\\xz\\x") ===
      Seq("A19", "\u0001\u00018", "A\u0004gxzx"))
    assert(text("\\303\\251\t\\xc3\\xA9") === Seq("é", "é"))
    assert(csv("\"é,\"\"\",ü") === Seq("é,\"", "ü"))
  }

  /** `sql` (a COPY FROM STDIN) over `c` with `data` as one CopyData frame;
    * the messages up to ReadyForQuery.
    */
  private def copyIn(c: WireClient, sql: String, data: Array[Byte]): Msgs = {
    c.send('Q', c.cstr(sql))
    val start = c.drain(stopAt = 'G')
    if (start.last._1 != 'G') start
    else { c.send('d', data); c.send('c', Array.emptyByteArray); c.drain() }
  }

  test("COPY FROM format and column-list errors carry PG's SQLSTATEs") {
    def i4(v: Int) = java.nio.ByteBuffer.allocate(4).putInt(v).array()
    val twoFields = binaryStream(Seq(Seq(i4(1), null)))
    val untrailed = binaryStream(Seq(Seq(i4(1), null, null))).dropRight(2)
    val cases = Seq(
      ("COPY copy_t FROM STDIN", "1\ta\t1.5\tx\n".getBytes(UTF_8),
        ("22P04", "extra data after last expected column")),
      ("COPY copy_t FROM STDIN", "1\ta\n".getBytes(UTF_8),
        ("22P04", "missing data for column \"d\"")),
      ("COPY copy_t FROM STDIN (FORMAT binary)", twoFields,
        ("22P04", "row field count is 2, expected 3")),
      ("COPY copy_t FROM STDIN (FORMAT binary)", "NOTPGCOPY\n".getBytes(UTF_8) ++ new Array[Byte](10),
        ("22P04", "COPY file signature not recognized")),
      ("COPY copy_t FROM STDIN (FORMAT binary)", untrailed,
        ("22P04", "unexpected EOF in COPY data")),
      ("COPY copy_t (k, nope) FROM STDIN", Array.emptyByteArray,
        ("42703", "column \"nope\" of relation \"copy_t\" does not exist")),
      ("COPY copy_t (k, v, k) FROM STDIN", Array.emptyByteArray,
        ("42701", "column \"k\" specified more than once")))
    withClient(port) { c =>
      cases.foreach { case (sql, data, expected) =>
        val m = copyIn(c, sql, data)
        assert(error(m) === Some(expected), sql)
        assert(col0(c.simple("SELECT 1")) === Seq("1"), s"connection after: $sql")
      }
    }
  }

  test("text COPY reads octal and hex escapes as bytes") {
    withClient(port) { c =>
      c.simple("TRUNCATE TABLE copy_t")
      assert(error(copyIn(c, "COPY copy_t FROM STDIN",
        "7\t\\157ct\\x61l\\x\\303\\251\t\\x31.5\n".getBytes(UTF_8))) === None)
      assert(rows(c.simple("SELECT v, d FROM copy_t WHERE k = 7")) === Seq(Seq("octalxé", "1.5")))
    }
  }

  test("datetime text Spark's cast refuses answers PG's SQLSTATE in COPY and Bind") {
    val refused = Seq(
      ("DATE", "2024-02-30", "22008", "date/time field value out of range: \"2024-02-30\""),
      ("DATE", "not a date", "22007", "invalid input syntax for type date: \"not a date\""),
      ("TIMESTAMP", "2024-03-10 25:00:00", "22008",
        "date/time field value out of range: \"2024-03-10 25:00:00\""),
      ("TIMESTAMP", "noon", "22007", "invalid input syntax for type timestamp: \"noon\""))
    withClient(port) { c =>
      refused.foreach { case (sqlType, v, state, message) =>
        val oid = graft.pg.wire.PgTypes.oidOf(org.apache.spark.sql.types.DataType.fromDDL(sqlType))
        assert(error(c.extended(s"SELECT CAST($$1 AS $sqlType)", Seq(v), Seq(oid))) ===
          Some((state, message)), s"Bind of $v")
        assert(error(c.simple(s"CREATE TABLE dt_refused (v $sqlType) USING parquet")) === None)
        try assert(error(copyIn(c, "COPY dt_refused FROM STDIN", s"$v\n".getBytes(UTF_8))) ===
          Some((state, message)), s"COPY of $v")
        finally c.simple("DROP TABLE dt_refused")
      }
    }
  }

  /** (column type, inputs the decoder reads, date/timestamp text it
    * passes on for Spark's cast): PG input spellings, malformed and
    * out-of-range text, NULL, and seeded values. Accepted text comes first
    * and refused text last: a refused batch is split (below), and this
    * order keeps the batches that store, each an insert, few.
    */
  private def parityInputs: Seq[(String, Seq[String], Seq[String])] = {
    val rnd = new scala.util.Random(20261018L)
    def some(n: Int)(f: => Any) = Seq.fill(n)(f.toString)
    Seq(
      ("BOOLEAN", Seq("t", "TRUE", " on ", "of", "Y", "no", "0", null, "o", "maybe"), Nil),
      ("SMALLINT", Seq(" 42 ", "+7", "32767", null) ++ some(2)(rnd.nextInt(65536) - 32768) ++
        Seq("32768", "-32769", "1.0", "abc"), Nil),
      ("INT", Seq(" 12", "-2147483648", null) ++ some(2)(rnd.nextInt()) ++
        Seq("1.0", "2147483648", ""), Nil),
      ("BIGINT", Seq("-9223372036854775808", "\t5 ") ++ some(2)(rnd.nextLong()) ++
        Seq("9223372036854775808", "1e3"), Nil),
      ("FLOAT", Seq("NaN", "Infinity", "-inf", " 3.25e2 ", ".5", "1e50") ++
        some(2)(rnd.nextFloat() * 1000) ++ Seq("abc", "0x1p3"), Nil),
      ("DOUBLE", Seq("nan", "+Infinity", "-Infinity", "-0", "1.", "1e-400", null) ++
        some(2)(rnd.nextGaussian() * 1e6) ++ Seq("1d"), Nil),
      ("DECIMAL(10,2)", Seq("1.005", " 3 ", "-0.004", "12345678.994", null) ++
        some(2)(BigDecimal(rnd.nextLong() % 10000000000L, 3)) ++
        Seq("99999999.995", "123456789", "abc", "NaN"), Nil),
      ("DECIMAL(38,18)", Seq("1.5", "0.1234567890123456789", "-0.0000000000000000005",
        "12345678901234567890.123456789012345678", null) ++
        Seq("1e20", "100000000000000000000", "-99999999999999999999.9999999999999999995"), Nil),
      ("STRING", Seq("plain", "", " padded ", "tab\there", "say \"hi\", ok", "é", "\\N",
        null), Nil),
      ("BINARY", Seq("\\x0102ff", "\\x 01 02", "abc\\\\def", "\\001\\377", "plain", "", null,
        "\\xZZ", "\\9"), Nil),
      ("DATE", Seq("2024-01-15", " 1970-01-01 ", "0001-01-01", null),
        Seq("2024-1-5", "2024-02-30", "2024-13-01", "not a date")),
      ("TIMESTAMP", Seq("2024-03-10 02:30:00", "2024-11-03 01:30:00",
        "2024-01-15 10:00:00.123456", " 2000-01-01T00:00:00 ", null),
        Seq("2024-03-10 02:30:00-05", "2024-01-15", "2024-03-10 25:00:00", "noon")))
  }

  test("property: a text or csv COPY field reads as the same bytes bound as a parameter") {
    withClient(port) { c =>
      /** k -> SQLSTATE of each input `run` refuses: a refused batch stores
        * nothing and is split until each refused input stands alone
        */
      def refusals(batch: Seq[(String, Int)])(run: Seq[(String, Int)] => Msgs): Map[Int, String] =
        error(run(batch)) match {
          case None => Map.empty
          case Some((st, _)) if batch.size == 1 => Map(batch.head._2 -> s"SQLSTATE $st")
          case Some(_) =>
            val (a, b) = batch.splitAt(batch.size / 2)
            refusals(a)(run) ++ refusals(b)(run)
        }
      /** k -> the stored value as the server renders it, or the refusal */
      def outcomes(table: String, refused: Map[Int, String]): Map[Int, String] =
        rows(c.simple(s"SELECT k, v FROM $table")).map(r => r.head.toInt -> String.valueOf(r(1)))
          .toMap ++ refused
      def copy(table: String, opts: String, field: String => String)(batch: Seq[(String, Int)]) =
        copyIn(c, s"COPY $table FROM STDIN $opts",
          batch.map { case (v, k) => s"$k${opts.headOption.fold("\t")(_ => ",")}${field(v)}\n" }
            .mkString.getBytes(UTF_8))
      val text = copy("par_text", "", v => if (v == null) "\\N" else PgCopy.escapeText(v)) _
      val csv = copy("par_csv", "(FORMAT csv)", v =>
        if (v == null) "" else if (v.isEmpty) "\"\"" else PgCopy.escapeCsv(v, ',')) _
      var refusedAny = false
      c.simple("SET TIME ZONE 'America/New_York'")
      parityInputs.foreach { case (sqlType, decoded, passedOn) =>
        val oid = graft.pg.wire.PgTypes.oidOf(org.apache.spark.sql.types.DataType.fromDDL(sqlType))
        val tables = Seq("par_text", "par_csv", "par_bind")
        tables.foreach(t => assert(error(c.simple(
          s"CREATE TABLE $t (k INT, v $sqlType) USING parquet")) === None))
        try {
          val inputs = decoded.zipWithIndex
          def insert(batch: Seq[(String, Int)]): Msgs = {
            c.parse("", batch.zipWithIndex.map { case ((_, k), i) => s"($k, $$${i + 1})" }
              .mkString("INSERT INTO par_bind VALUES ", ", ", ""), batch.map(_ => oid))
            c.bind("", "", batch.map(_._1))
            c.execute("")
            c.sync()
          }
          val bind = outcomes("par_bind", refusals(inputs)(insert))
          assert(bind.size === inputs.size, s"$sqlType: $bind")
          refusedAny ||= bind.values.exists(_.startsWith("SQLSTATE"))
          assert(outcomes("par_text", refusals(inputs)(text)) === bind, s"$sqlType: text COPY")
          assert(outcomes("par_csv", refusals(inputs)(csv)) === bind, s"$sqlType: csv COPY")
          // text the decoder passes on reads as Spark's cast of it, the
          // same in COPY, in a Bind INSERT and in a cast of $1
          passedOn.zipWithIndex.foreach { case (v, i) =>
            val k = decoded.size + i
            val m = c.extended(s"SELECT CAST($$1 AS $sqlType)", Seq(v), Seq(oid))
            val cast = error(m).fold(col0(m).head)(e => s"SQLSTATE ${e._1}")
            def one(run: Seq[(String, Int)] => Msgs, table: String) =
              outcomes(table, refusals(Seq(v -> k))(run))(k)
            assert(one(text, "par_text") === cast, s"$sqlType text COPY of $v")
            assert(one(csv, "par_csv") === cast, s"$sqlType csv COPY of $v")
            assert(one(insert, "par_bind") === cast, s"$sqlType Bind INSERT of $v")
          }
        } finally tables.foreach(t => c.simple(s"DROP TABLE $t"))
      }
      assert(refusedAny)
    }
  }

  test("COPY TO writes the NULL string PG's way: quoted csv values equal to it, the text option") {
    def copyOut(sql: String) = Seq("psql", s"host=127.0.0.1 port=$port dbname=default user=graft",
      "-c", sql).!!
    // csv: an empty string is quoted apart from the empty NULL string
    assert(copyOut("COPY (SELECT '' AS a, CAST(NULL AS STRING) AS b, 'x' AS c) " +
      "TO STDOUT WITH (FORMAT csv)") === "\"\",,x\n")
    assert(copyOut("COPY (SELECT 'nil' AS a, CAST(NULL AS STRING) AS b, '' AS c) " +
      "TO STDOUT WITH (FORMAT csv, NULL 'nil')") === "\"nil\",nil,\n")
    // a lone \. is quoted in a one-column row only
    assert(copyOut("COPY (SELECT chr(92) || '.' AS a) TO STDOUT WITH (FORMAT csv)") === "\"\\.\"\n")
    assert(copyOut("COPY (SELECT chr(92) || '.' AS a, 1 AS b) TO STDOUT WITH (FORMAT csv)") ===
      "\\.,1\n")
    // text: the NULL option's string, not \N; the delimiter is escaped
    assert(copyOut("COPY (SELECT 1 AS a, CAST(NULL AS INT) AS b, 'x|y' AS c) " +
      "TO STDOUT WITH (NULL 'nil', DELIMITER '|')") === "1|nil|x\\|y\n")
  }

  test("a COPY FROM of 10 000 rows inserts one file") {
    val spark = TestSpark.spark
    spark.sql("DROP TABLE IF EXISTS copy_one")
    spark.sql("CREATE TABLE copy_one (k INT, v STRING) USING parquet")
    try {
      val data = (0 until 10000).map(k => s"$k\tv$k\n").mkString.getBytes(UTF_8)
      withClient(port) { c =>
        assert(commandTags(copyIn(c, "COPY copy_one FROM STDIN", data)) === Seq("COPY 10000"))
      }
      assert(spark.table("copy_one").inputFiles.length === 1)
      assert(spark.sql("SELECT count(DISTINCT k), min(v) FROM copy_one").head.toSeq ===
        Seq(10000L, "v0"))
    } finally spark.sql("DROP TABLE IF EXISTS copy_one")
  }

  test("property: COPY TO then COPY FROM gives back the rows, in text and csv") {
    val formats = Seq("", "(DELIMITER '|')", "(FORMAT csv)", "(FORMAT csv, NULL 'nil')")
    // besides the parity inputs: the NULL strings, delimiters, quotes and
    // escapes as string values
    val strings = Seq("", "\\N", "\\.", "nil", "a|b", "a,b", "\"q\"", "line\nbreak", "cr\rx",
      "back\\slash", "\u000b\b\f", "é\t|")
    withClient(port) { c =>
      c.simple("SET TIME ZONE 'America/New_York'")
      /** the stored rows as the server renders them */
      def stored(table: String) = rows(c.simple(s"SELECT k, v FROM $table ORDER BY k"))
      parityInputs.foreach { case (sqlType, decoded, passedOn) =>
        val inputs =
          (decoded ++ passedOn ++ (if (sqlType == "STRING") strings else Nil)).zipWithIndex
        Seq("rt_src", "rt_dst").foreach(t => assert(error(c.simple(
          s"CREATE TABLE $t (k INT, v $sqlType) USING parquet")) === None))
        try {
          // each input as Spark reads it, NULL where it cannot
          c.parse("", inputs.map { case (_, k) => s"($k, try_cast($$${k + 1} AS $sqlType))" }
            .mkString("INSERT INTO rt_src VALUES ", ", ", ""),
            inputs.map(_ => graft.pg.wire.PgTypes.VARCHAR))
          c.bind("", "", inputs.map(_._1))
          c.execute("")
          assert(error(c.sync()) === None, sqlType)
          val src = stored("rt_src")
          assert(src.size === inputs.size)
          assert(src.exists(_(1) != null), sqlType)
          formats.foreach { opts =>
            val out = c.simple(s"COPY (SELECT k, v FROM rt_src) TO STDOUT $opts")
            assert(error(out) === None, s"$sqlType $opts")
            val data = out.filter(_._1 == 'd').flatMap(_._2).toArray
            c.simple("TRUNCATE TABLE rt_dst")
            val in = copyIn(c, s"COPY rt_dst FROM STDIN $opts", data)
            assert(error(in) === None, s"$sqlType $opts")
            assert(stored("rt_dst") === src, s"$sqlType $opts: ${new String(data, UTF_8)}")
          }
        } finally Seq("rt_src", "rt_dst").foreach(t => c.simple(s"DROP TABLE $t"))
      }
    }
  }
}
