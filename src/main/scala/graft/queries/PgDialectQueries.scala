package graft.queries

import graft.{QE, Tables}
import graft.pg.{PgCatalog, PgDialect}

import org.apache.spark.sql.functions._

/** PG-dialect operators routed through the delegating parser
  * ([[graft.pg.PgParserInterface]]): `::` casts, `~` regex, `$n` params,
  * generate_series, substring from/for, pg_catalog scans. Each entry parses
  * PG-dialect SQL text and executes the resulting plan on the plain session.
  */
object PgDialectQueries {

  val entries: Seq[QE] = Seq(
    // `expr::type` cast incl. the PG-only `text` alias.
    QE("q80_pg_cast", Some("""
      SELECT o_orderkey, CAST(o_orderkey AS VARCHAR) AS key_s,
             CAST(o_custkey AS DOUBLE) AS cust_d
      FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey"""),
      (s, d) => {
        Tables.views(s, d)
        PgDialect.sql(s, """
          SELECT o_orderkey, o_orderkey::text AS key_s, o_custkey::double AS cust_d
          FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey""")
      }),

    // generate_series TVF with column alias (PG: inclusive upper bound).
    QE("q81_pg_generate_series", Some("""
      SELECT i, i * i AS sq FROM (SELECT generate_series AS i FROM generate_series(1, 50)) s
      ORDER BY i"""),
      (s, d) => PgDialect.sql(s,
        "SELECT i, i * i AS sq FROM generate_series(1, 50) AS s(i) ORDER BY i")),

    // PG substring(x from a for b) / substring(x from a).
    QE("q82_pg_substring", Some("""
      SELECT p_partkey, substring(p_name, 3, 6) AS mid, substring(p_type, 4) AS tail
      FROM part WHERE p_partkey < 100 ORDER BY p_partkey"""),
      (s, d) => {
        Tables.views(s, d)
        PgDialect.sql(s, """
          SELECT p_partkey, substring(p_name from 3 for 6) AS mid,
                 substring(p_type from 4) AS tail
          FROM part WHERE p_partkey < 100 ORDER BY p_partkey""")
      }),

    // `~` regex-match operator (PG) == RLIKE.
    QE("q83_pg_regex_match", Some("""
      SELECT o_orderkey, o_orderpriority FROM orders
      WHERE regexp_matches(o_orderpriority, '^[1-2]-') AND NOT regexp_matches(o_orderstatus, 'P')
      ORDER BY o_orderkey"""),
      (s, d) => {
        Tables.views(s, d)
        PgDialect.sql(s, """
          SELECT o_orderkey, o_orderpriority FROM orders
          WHERE o_orderpriority ~ '^[1-2]-' AND o_orderstatus !~ 'P'
          ORDER BY o_orderkey""")
      }),

    // `$n` bind parameters substituted pre-analysis (reference
    // ParamBinder.scala:31-47).
    QE("q84_pg_params", Some("""
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_totalprice > 420000.0 AND o_orderstatus = 'O'
      ORDER BY o_orderkey"""),
      (s, d) => {
        Tables.views(s, d)
        PgDialect.sql(s, """
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_totalprice > $1 AND o_orderstatus = $2
          ORDER BY o_orderkey""",
          Map(1 -> 420000.0, 2 -> "O"))
      }),

    // pg_catalog.pg_type scan (oracle = the same seed rows inline).
    QE("q90_pg_type", Some(PgCatalog.pgTypeOracle),
      (s, d) => PgDialect.sql(s,
        "SELECT oid, typname, typlen, typelem, typinput FROM pg_catalog.pg_type ORDER BY oid")),

    // PG system functions (deterministic subset, oracle = expected literals).
    QE("q91_pg_system_functions", Some("""
      SELECT 'int4' AS t23, 'varchar' AS t1043, 'UTF8' AS enc,
             'a,b' AS joined, CAST(2 AS INT) AS upper_bound
      """),
      (s, d) => {
        PgCatalog.register(s)
        s.sql("""
          SELECT format_type(23, NULL) AS t23, format_type(1043, NULL) AS t1043,
                 pg_encoding_to_char(6) AS enc,
                 array_to_string(array('a','b'), ',') AS joined,
                 array_upper(array('x','y'), 1) AS upper_bound""")
      }))
}
