package graft.pg.server

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.ZoneId

import graft.TestSpark
import graft.pg.{ParamLiteral, PgDialect}
import graft.pg.wire.{ParamCodec, PgTypes}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Bound `$n` values and generated code. A bound value is a
  * [[ParamLiteral]]: Catalyst and filter pushdown see a plain `Literal`,
  * while the generated code reads the value from `references`, so a new
  * key reuses the class compiled for the last one. Compiles are read
  * through `graft_stat('codegen_compiles')`, which counts the whole JVM;
  * suites run one at a time, so a window inside one test is quiet.
  */
class PgBoundParamSuite extends AnyFunSuite with BeforeAndAfterAll {
  import WireClient._

  private val spark = TestSpark.spark
  private var server: PgWireServer = _
  private def port: Int = server.boundPort
  private val dir = Files.createTempDirectory("bound-param").toFile

  private val Lookup = "SELECT o_orderkey, o_total, o_comment FROM bind_orders WHERE o_orderkey = $1"

  override def beforeAll(): Unit = {
    server = new PgWireServer(spark, port = 0)
    server.start()
    spark.sql("DROP TABLE IF EXISTS bind_orders")
    spark.range(1000).selectExpr("id AS o_orderkey", "id * 7 AS o_total",
      "CAST(id AS STRING) AS o_comment").write.format("parquet").saveAsTable("bind_orders")
    spark.sql("""SELECT * FROM VALUES
      (0, true, '1', '1', '1', '1.5', '1.5', '1.50', 'a', '2024-01-15', '2024-01-15 10:00:00'),
      (1, false, '-32768', '-2147483648', '-9223372036854775808', 'NaN', 'NaN', '-1.25', '',
        '1970-01-01', '1970-01-01 00:00:00'),
      (2, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      (3, true, '32767', '2147483647', '9223372036854775807', 'Infinity', '-Infinity', '0.00',
        'Zurich', '0001-01-01', '9999-12-31 23:59:59.999999'),
      (4, false, '0', '0', '0', '-0.0', '-0.0', '99999999.99', 'x''y', '9999-12-31',
        '2000-02-29 12:34:56.5')
      AS t(k, b, i2, i4, i8, f4, f8, n, s, d, ts)""")
      .selectExpr("k", "b", "CAST(i2 AS SMALLINT) AS i2", "CAST(i4 AS INT) AS i4",
        "CAST(i8 AS BIGINT) AS i8", "CAST(f4 AS FLOAT) AS f4", "CAST(f8 AS DOUBLE) AS f8",
        "CAST(n AS DECIMAL(10,2)) AS n", "s", "CAST(d AS DATE) AS d",
        "CAST(ts AS TIMESTAMP) AS ts")
      .write.parquet(s"$dir/parity")
    spark.read.parquet(s"$dir/parity").createOrReplaceTempView("param_parity")
  }

  override def afterAll(): Unit = {
    spark.sql("DROP TABLE IF EXISTS bind_orders")
    spark.catalog.dropTempView("param_parity")
    if (server != null) server.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  private def compiles(c: WireClient): Long =
    col0(c.simple("SELECT graft_stat('codegen_compiles')")).head.toLong

  /** Compiles caused by looking up each key in turn over Parse/Bind/Execute,
    * after a first lookup has compiled the shape; checks every row.
    */
  private def compilesForNewKeys(oid: Int, first: Long, keys: Seq[Long]): Long =
    WireClient.withClient(port) { c =>
      def lookup(k: Long): Unit =
        assert(rows(c.extended(Lookup, Seq(k.toString), Seq(oid))) ===
          Seq(Seq(k.toString, (k * 7).toString, k.toString)))
      compiles(c) // compiles the probe itself
      lookup(first)
      val before = compiles(c)
      keys.foreach(lookup)
      val added = compiles(c) - before
      // the counter is live: a key written into the SQL text is new code
      c.simple(s"SELECT o_total FROM bind_orders WHERE o_orderkey = ${System.nanoTime}")
      assert(compiles(c) > before + added, "codegen_compiles counts compiles")
      added
    }

  test("bind yields a ParamLiteral for every non-null value and a plain Literal for NULL") {
    val plan = PgDialect.parse(spark, "SELECT $1, $2, $3, $4, $5 FROM range(1)")
    val bound = PgDialect.bind(plan, Map(1 -> 7L, 2 -> Literal(19000, DateType),
      3 -> "text", 4 -> null, 5 -> Literal(null, DateType)))
    val lits = bound.expressions.flatMap(_.collect { case l: Literal => l })
    assert(lits.map(_.getClass.getSimpleName) ===
      Seq("ParamLiteral", "ParamLiteral", "ParamLiteral", "Literal", "Literal"))
    assert(lits.map(_.dataType) === Seq(LongType, DateType, StringType, NullType, DateType))
  }

  test("over the wire, new INT8 keys reuse the code compiled for the first") {
    val keys = (1 to 19).map(i => 500L + 17 * i)
    assert(compilesForNewKeys(PgTypes.INT8, 431L, keys) === 0)
  }

  test("a bound lookup still pushes its equality into the Parquet scan") {
    val df = PgDialect.sql(spark, Lookup,
      Map(1 -> ParamCodec.decode("42".getBytes(UTF_8), PgTypes.INT8, 0)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(o_orderkey,42)"), plan)
    assert(df.queryExecution.optimizedPlan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[ParamLiteral]))), "the value reaches codegen unfolded")
    assert(df.collect().toSeq === Seq(Row(42L, 294L, "42")))
  }

  test("an INT4 value cast to a bigint column reuses compiled code") {
    // analysis wraps the INT4 placeholder in a cast to bigint; Bind folds
    // the cast into a bigint ParamLiteral, so constant folding has no cast
    // to rebuild as a plain Literal
    val keys = (1 to 5).map(i => 600L + 13 * i)
    assert(compilesForNewKeys(PgTypes.INT4, 433L, keys) === 0)
  }

  test("a named statement bound again after an INSERT returns the new row") {
    // only the first Bind may run on Parse's analysis: an analyzed plan
    // keeps its file listing
    spark.sql("DROP TABLE IF EXISTS bind_fresh")
    spark.sql("CREATE TABLE bind_fresh (k BIGINT, v STRING) USING parquet")
    try WireClient.withClient(port) { c =>
      c.parse("fresh", "SELECT v FROM bind_fresh WHERE k = $1 ORDER BY v", Seq(PgTypes.INT8))
      def lookup(): Msgs = { c.bind("", "fresh", Seq("1")); c.execute(""); c.sync() }
      assert(rows(lookup()) === Nil)
      // an INSERT refreshes the file listing of the relation it resolved,
      // which only the first shares with Parse's analysis
      for (inserted <- Seq(Seq("a"), Seq("a", "b"))) {
        assert(error(c.simple(s"INSERT INTO bind_fresh VALUES (1, '${inserted.last}')")) === None)
        assert(col0(lookup()) === inserted)
      }
    } finally spark.sql("DROP TABLE IF EXISTS bind_fresh")
  }

  test("EXPLAIN of a statement with $1 explains it with the bound value") {
    WireClient.withClient(port) { c =>
      val m = c.extended("EXPLAIN " + Lookup, Seq("42"), Seq(PgTypes.INT8))
      assert(error(m) === None)
      val plan = col0(m).mkString("\n")
      assert(plan.contains("EqualTo(o_orderkey,42)"), plan)
    }
  }

  test("a NULL bound to a $n of no declared type inserts into a column of any type") {
    spark.sql("DROP TABLE IF EXISTS bind_nulls")
    spark.sql("CREATE TABLE bind_nulls (i INT, d DATE) USING parquet")
    try WireClient.withClient(port) { c =>
      assert(error(c.extended("INSERT INTO bind_nulls VALUES ($1, $2)", Seq(null, null), Nil)) ===
        None)
      assert(rows(c.simple("SELECT i, d FROM bind_nulls")) === Seq(Seq(null, null)))
    } finally spark.sql("DROP TABLE IF EXISTS bind_nulls")
  }

  test("property: a bound value returns the same rows as its text inlined") {
    // TIMESTAMP text names a wall-clock time in the session zone; the
    // other types read the same in every zone
    val zoned = ParityCases.map(c => ("UTC", c)) ++
      ParityCases.filter(_._2 == PgTypes.TIMESTAMP).map(c => ("America/New_York", c))
    zoned.foreach { case (zone, (column, oid, gen)) =>
      spark.conf.set("spark.sql.session.timeZone", zone)
      val prop = Prop.forAll(gen) { value =>
        val (pgText, sqlText) = value.getOrElse((null, "NULL"))
        def query(v: String) =
          s"SELECT k, $v AS p, $column = $v AS eq, $column < $v AS lt FROM param_parity " +
            s"WHERE $column <=> $v OR k % 2 = 0 ORDER BY k"
        val param = Option(pgText)
          .map(t => ParamCodec.decode(t.getBytes(UTF_8), oid, 0, ZoneId.of(zone))).orNull
        val sqlType = Option(param).map(_.dataType)
          .getOrElse(spark.table("param_parity").schema(column).dataType).sql
        val bound = PgDialect.sql(spark, query("$1"), Map(1 -> param)).collect().map(_.toString)
        val inlined = spark.sql(query(s"CAST($sqlText AS $sqlType)")).collect().map(_.toString)
        Prop(bound.sameElements(inlined)) :|
          s"$column <- '$pgText': bound ${bound.mkString} inlined ${inlined.mkString}"
      }
      val result = try Test.check(Test.Parameters.default.withMinSuccessfulTests(20)
        .withInitialSeed(Seed(20261017L)), prop)
        finally spark.conf.set("spark.sql.session.timeZone", "UTC")
      assert(result.passed, s"$column in $zone: ${result.status}")
    }
  }

  test("a TIMESTAMP bind reads wall-clock time in the session TimeZone, text and binary") {
    WireClient.withClient(port) { c =>
      c.simple("SET TIME ZONE 'America/New_York'")
      val wall = java.time.LocalDateTime.parse("2024-01-01T07:00:00")
      val binary = java.nio.ByteBuffer.allocate(8)
        .putLong(wall.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L - PgTypes.PG_EPOCH_MICROS)
        .array()
      for ((bytes, format) <- Seq(("2024-01-01 07:00:00".getBytes(UTF_8), 0), (binary, 1))) {
        c.parse("", "SELECT CAST($1 AS STRING)", Seq(PgTypes.TIMESTAMP))
        c.bindBytes("", "", Seq(bytes), Seq(format))
        c.execute("")
        assert(col0(c.sync()) === Seq("2024-01-01 07:00:00"), s"format $format")
      }
    }
  }

  test("a BYTEA bind reads raw bytes in binary and byteain text") {
    WireClient.withClient(port) { c =>
      for ((bytes, format) <- Seq((Array[Byte](1, 2), 1), ("\\x0102".getBytes(UTF_8), 0))) {
        c.parse("", "SELECT length($1), hex($1)", Seq(PgTypes.BYTEA))
        c.bindBytes("", "", Seq(bytes), Seq(format))
        c.execute("")
        val m = c.sync()
        assert(error(m) === None)
        assert(rows(m) === Seq(Seq("2", "0102")), s"format $format")
      }
    }
  }

  private def quoted(s: String) = "'" + s.replace("'", "''") + "'"

  /** A value as (PG text to bind, SQL text to inline); None is NULL. */
  private def withNull(g: Gen[(String, String)]): Gen[Option[(String, String)]] =
    Gen.frequency(1 -> Gen.const(None), 9 -> g.map(Some(_)))

  /** The same value in PG spellings with surrounding blanks, and as SQL. */
  private def spelled[T](g: Gen[T])(text: T => String): Gen[Option[(String, String)]] =
    withNull(for { v <- g; pad <- Gen.oneOf("", " ", "  ") }
      yield (pad + text(v) + pad, quoted(text(v))))

  private def edgesOr[T](edges: T*)(g: Gen[T]): Gen[T] =
    Gen.frequency(1 -> Gen.oneOf(edges), 2 -> g)

  private lazy val ParityCases: Seq[(String, Int, Gen[Option[(String, String)]])] = {
    val dateFmt = java.time.format.DateTimeFormatter.ofPattern("uuuu-MM-dd")
    val tsFmt = java.time.format.DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss.SSSSSS")
    val minDay = java.time.LocalDate.of(1, 1, 1).toEpochDay
    val maxDay = java.time.LocalDate.of(9999, 12, 31).toEpochDay
    Seq(
      ("b", PgTypes.BOOL, withNull(Gen.oneOf(true, false).flatMap { v =>
        val spellings = if (v) Seq("t", "true", "TRUE", "yes", "on", "1", " tr ")
          else Seq("f", "false", "False", "no", "off", "0", " fa ")
        Gen.oneOf(spellings).map(t => (t, if (v) "'true'" else "'false'"))
      })),
      ("i2", PgTypes.INT2, spelled(edgesOr(Short.MinValue, Short.MaxValue, 0.toShort)(
        Gen.choose(Short.MinValue, Short.MaxValue)))(_.toString)),
      ("i4", PgTypes.INT4, spelled(edgesOr(Int.MinValue, Int.MaxValue, 0)(
        Gen.choose(Int.MinValue, Int.MaxValue)))(_.toString)),
      ("i8", PgTypes.INT8, spelled(edgesOr(Long.MinValue, Long.MaxValue, 0L, 1L)(
        Gen.choose(Long.MinValue, Long.MaxValue)))(_.toString)),
      ("f4", PgTypes.FLOAT4, spelled(edgesOr(Float.NaN, Float.PositiveInfinity,
        Float.NegativeInfinity, -0.0f, 0.0f, 1.5f, Float.MinPositiveValue)(
        Gen.choose(-1e6f, 1e6f)))(_.toString)),
      ("f8", PgTypes.FLOAT8, spelled(edgesOr(Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, -0.0, 0.0, 1.5, Double.MinPositiveValue)(
        Gen.choose(-1e12, 1e12)))(_.toString)),
      ("n", PgTypes.NUMERIC, spelled(edgesOr(BigDecimal("1.50"), BigDecimal("-1.25"),
        BigDecimal("0.00"), BigDecimal("99999999.99"))(
        Gen.choose(-99999999L, 99999999L).map(BigDecimal(_, 2))))(_.toString)),
      ("s", PgTypes.VARCHAR, withNull(edgesOr("", "a", "x'y", "Zurich")(Gen.alphaNumStr)
        .map(s => (s, quoted(s))))),
      ("d", PgTypes.DATE, spelled(edgesOr(0L, minDay, maxDay, 19737L)(
        Gen.choose(minDay, maxDay)))(d => java.time.LocalDate.ofEpochDay(d).format(dateFmt))),
      ("ts", PgTypes.TIMESTAMP, spelled(edgesOr(0L, 946686896500000L)(
        Gen.choose(minDay * 86400000000L, (maxDay + 1) * 86400000000L - 1)))(micros =>
        java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
          Math.floorMod(micros, 1000000L).toInt * 1000, java.time.ZoneOffset.UTC).format(tsFmt))))
  }
}
