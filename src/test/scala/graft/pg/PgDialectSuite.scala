package graft.pg

import graft.TestSpark

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Dialect equivalences through a live session — mirrors the reference's
  * PgDialectSuite.scala:49-160 (BEGIN, ~ == RLIKE, :: == CAST, ||,
  * generate_series, substring from/for, system functions, $n binding).
  */
class PgDialectSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rows(sql: String, params: Map[Int, Any] = Map.empty): Seq[Row] =
    PgDialect.sql(spark, sql, params).collect().toSeq

  test("BEGIN / COMMIT / ROLLBACK are no-op commands") {
    for (s <- Seq("BEGIN", "begin work;", "COMMIT", "ROLLBACK", "START TRANSACTION", "END")) {
      assert(rows(s).isEmpty, s)
    }
  }

  test("~ is regex match (RLIKE)") {
    assert(rows("SELECT 'abcd' ~ 'ab.*' AS m") === Seq(Row(true)))
    assert(rows("SELECT 'abcd' !~ '^z' AS m") === Seq(Row(true)))
  }

  test(":: cast including text") {
    assert(rows("SELECT 42::text AS s") === Seq(Row("42")))
    assert(rows("SELECT '7'::int + 1 AS n") === Seq(Row(8)))
  }

  test("|| string concatenation") {
    assert(rows("SELECT 'a' || 'b' || 'c' AS s") === Seq(Row("abc")))
  }

  test("generate_series is inclusive and aliasable") {
    for (sql <- Seq("SELECT * FROM generate_series(1, 3)",
        "SELECT * FROM generate_series(1, 3) WHERE 1 = 1")) {
      assert(rows(sql).map(_.getLong(0)) === Seq(1L, 2L, 3L), sql)
    }
    assert(rows("SELECT i * 2 AS d FROM generate_series(0, 4, 2) AS s(i) ORDER BY i")
      .map(_.getLong(0)) === Seq(0L, 4L, 8L))
  }

  test("generate_series descending / empty ranges behave like PG") {
    // descending literal step is inclusive of the lower bound
    assert(rows("SELECT * FROM generate_series(5, 1, -2)").map(_.getLong(0)) ===
      Seq(5L, 3L, 1L))
    // empty ranges: zero rows, both literal and expression bounds
    assert(rows("SELECT * FROM generate_series(1, 0)").isEmpty)
    assert(rows("SELECT * FROM generate_series(1, 5, -1)").isEmpty)
    assert(rows("SELECT * FROM generate_series(cast(1 AS int), (SELECT 0))").isEmpty)
    // wrong-direction expression step: PG returns zero rows (Spark's raw
    // sequence() would throw)
    assert(rows(
      "SELECT * FROM generate_series(cast(1 AS int), (SELECT 5), (SELECT -1))").isEmpty)
    // expression bounds in the right direction still generate
    assert(rows("SELECT * FROM generate_series(cast(1 AS int), (SELECT 3)) AS s(i)")
      .map(_.getInt(0)) === Seq(1, 2, 3))
  }

  test("substring from/for") {
    assert(rows("SELECT substring('spark sql' from 7 for 3) AS s") === Seq(Row("sql")))
    assert(rows("SELECT substring('spark sql' from 7) AS s") === Seq(Row("sql")))
  }

  test("$n parameters bind before analysis") {
    assert(rows("SELECT $1 + 1 AS n", Map(1 -> 41)) === Seq(Row(42)))
    assert(rows("SELECT upper($1) AS s", Map(1 -> "abc")) === Seq(Row("ABC")))
  }

  test("$n inside subqueries binds (transform descends into subquery plans)") {
    graft.Tables.views(spark, graft.TestSpark.sfDir)
    val df = PgDialect.sql(spark,
      "SELECT count(*) AS n FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > $1)",
      Map(1 -> 9999.0))
    assert(df.collect().head.getLong(0) >= 0)
    val e = intercept[IllegalArgumentException](PgDialect.sql(spark,
      "SELECT 1 WHERE 1 IN (SELECT 1 WHERE 1 = $1)"))
    assert(e.getMessage.contains("$1"), "unbound subquery params must be detected too")
  }

  test("null parameters bind as SQL NULL") {
    val r = PgDialect.sql(spark, "SELECT $1 IS NULL AS isnull", Map(1 -> null)).collect()
    assert(r.head.getBoolean(0))
  }

  test("unbound $n raises the reference bind error") {
    val e = intercept[IllegalArgumentException](rows("SELECT $1 AS x"))
    assert(e.getMessage.contains("$1"))
  }

  test("prepared (unbound) plans still analyze — NullType placeholder") {
    val plan = PgDialect.parse(spark, "SELECT 1 AS a WHERE 1 = $1")
    val df = org.apache.spark.sql.graft.Internals.ofRows(spark, plan)
    assert(df.schema.fieldNames === Array("a"))
  }

  test("pg system functions") {
    PgCatalog.register(spark)
    val r = spark.sql(
      "SELECT format_type(23, NULL), pg_encoding_to_char(6), regtype(1043)").collect().head
    assert(r === Row("int4", "UTF8", "varchar"))
  }

  test("pg_type catalog view has the 29 seed rows") {
    assert(PgDialect.sql(spark, "SELECT * FROM pg_type").count() === 29)
    assert(PgDialect.sql(spark, "SELECT oid FROM pg_type WHERE typname = 'int8'")
      .collect().head.getInt(0) === 20)
  }
}
