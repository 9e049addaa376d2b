package graft.pg

import org.scalatest.funsuite.AnyFunSuite

/** Pure string-level tests of the dialect rewriter (no Spark session). */
class PgRewriteSpec extends AnyFunSuite {

  test("$n params become pg_param calls") {
    assert(PgRewrite("SELECT * FROM t WHERE a > $1 AND b = $23") ===
      "SELECT * FROM t WHERE a > pg_param(1) AND b = pg_param(23)")
  }

  test("$n inside string literals is untouched") {
    assert(PgRewrite("SELECT 'costs $1' WHERE x = $2") ===
      "SELECT 'costs $1' WHERE x = pg_param(2)")
  }

  test("binary ~ becomes RLIKE; unary ~ is preserved") {
    assert(PgRewrite("SELECT a ~ 'x.*' FROM t") === "SELECT a  RLIKE  'x.*' FROM t")
    assert(PgRewrite("SELECT ~5") === "SELECT ~5")
    assert(PgRewrite("SELECT (~5)") === "SELECT (~5)")
  }

  test("!~ becomes NOT RLIKE") {
    assert(PgRewrite("SELECT a !~ 'p' FROM t") === "SELECT a  NOT RLIKE  'p' FROM t")
  }

  test("~ inside quoted identifier or literal untouched") {
    assert(PgRewrite("SELECT \"we~ird\" FROM t") === "SELECT \"we~ird\" FROM t")
    assert(PgRewrite("SELECT 'a ~ b' FROM t") === "SELECT 'a ~ b' FROM t")
  }

  test("::text maps to ::string, other casts pass through") {
    assert(PgRewrite("SELECT a::text FROM t") === "SELECT a::string FROM t")
    assert(PgRewrite("SELECT a::int FROM t") === "SELECT a::int FROM t")
  }

  test("substring from/for forms") {
    // Spark's grammar parses the FROM/FOR form itself
    for (sql <- Seq("SELECT substring('hello' from 2 for 3)", "SELECT substring(x from 4) FROM t",
        "SELECT substring(x, 1, 2) FROM t")) {
      assert(PgRewrite(sql) === sql)
    }
  }

  test("nested dialect constructs rewrite recursively") {
    assert(PgRewrite("SELECT substring(a::text from $1)") ===
      "SELECT substring(a::string from pg_param(1))")
  }

  test("comments are preserved verbatim") {
    assert(PgRewrite("SELECT 1 -- a ~ b $1\n, 2") === "SELECT 1 -- a ~ b $1\n, 2")
    assert(PgRewrite("SELECT /* $1 ~ */ 2") === "SELECT /* $1 ~ */ 2")
  }

  test("psql metadata compat: E-strings, pg_catalog strip, OPERATOR, COLLATE, type aliases") {
    assert(PgRewrite("SELECT E'a'") === "SELECT 'a'")
    assert(PgRewrite("SELECT array_to_string(d.datacl, E'\\n')") ===
      "SELECT array_to_string(d.datacl, '\\n')")
    assert(PgRewrite("SELECT typname FROM pg_catalog.pg_type") ===
      "SELECT typname FROM pg_type")
    assert(PgRewrite("SELECT pg_catalog.format_type(23, NULL)") ===
      "SELECT format_type(23, NULL)")
    assert(PgRewrite("WHERE c.relname OPERATOR(pg_catalog.~) '^x$' COLLATE pg_catalog.default AND 1=1") ===
      "WHERE c.relname  RLIKE  '^x$'  AND 1=1")
    assert(PgRewrite("SELECT ''::char, 1::int4, x::oid, n::name") ===
      "SELECT ''::string, 1::int, x::int, n::string")
    assert(PgRewrite("SELECT 'pg_type'::regclass") === "SELECT 'pg_type'")
  }

  test("regtype literal casts resolve to type OIDs (psql back-version \\df)") {
    // psql <= 10's \df: CASE WHEN p.prorettype = 'pg_catalog.trigger'::pg_catalog.regtype
    assert(PgRewrite("WHEN p.prorettype = 'pg_catalog.trigger'::pg_catalog.regtype THEN 'trigger'") ===
      "WHEN p.prorettype = 2279 THEN 'trigger'")
    assert(PgRewrite("SELECT 'int4'::regtype") === "SELECT 23")
    assert(PgRewrite("SELECT 'text'::regtype, 'void'::regtype") === "SELECT 25, 2278")
    // unknown names and non-literal operands keep the old drop-the-cast behavior
    assert(PgRewrite("SELECT 'no_such_type'::regtype") === "SELECT 'no_such_type'")
    assert(PgRewrite("SELECT t.typname::regtype FROM pg_type t") ===
      "SELECT t.typname FROM pg_type t")
  }

  test("array subscript on a parenthesized expression becomes element_at") {
    // pgjdbc getSchemas: (pg_catalog.current_schemas(true))[1]
    assert(PgRewrite("SELECT (pg_catalog.current_schemas(true))[1]") ===
      "SELECT element_at((current_schemas(true)), 1)")
    // non-literal index (pgjdbc TypeInfoCache): (current_schemas(false))[s.r]
    assert(PgRewrite("SELECT (current_schemas(false))[s.r] AS nspname") ===
      "SELECT element_at((current_schemas(false)), s.r) AS nspname")
    // plain identifier subscripts stay native Spark syntax
    assert(PgRewrite("SELECT arr[1] FROM t") === "SELECT arr[1] FROM t")
  }

  test("composite-field access (i.keys).n loses its parens") {
    assert(PgRewrite("SELECT (i.keys).n AS KEY_SEQ, (i.keys).x FROM t") ===
      "SELECT i.keys.n AS KEY_SEQ, i.keys.x FROM t")
    // a parenthesized non-identifier expression is untouched
    assert(PgRewrite("SELECT (a + b).n") === "SELECT (a + b).n")
  }

  test("information_schema._pg_expandarray expands to explode/struct") {
    val got = PgRewrite("SELECT information_schema._pg_expandarray(i.indkey) AS keys FROM pg_index i")
    assert(got ===
      "SELECT explode(transform(i.indkey, (_v, _p) -> struct(_v AS x, _p + 1 AS n))) AS keys FROM pg_index i")
  }

  test("information_schema views get fused names") {
    assert(PgRewrite("SELECT * FROM information_schema.tables") ===
      "SELECT * FROM information_schema_tables")
  }
}
