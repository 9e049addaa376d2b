package graft.pg

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extension path (reference SQLServerEnv.scala:73-97): a session
  * built with [[PgExtensions]] parses the PG dialect and resolves the PG
  * system functions through plain `spark.sql`, with no PgDialect.sql
  * wrapper and no register call.
  */
class PgExtensionsSuite extends AnyFunSuite {

  private lazy val extended: SparkSession = {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new PgExtensions)
      .getOrCreate()
    finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("spark.sql speaks the PG dialect once the parser is injected") {
    assert(extended.sql("SELECT 42::text AS s").collect().head.getString(0) === "42")
    assert(extended.sql("SELECT 'abc' ~ 'a.*' AS m").collect().head.getBoolean(0))
    assert(extended.sql("SELECT * FROM generate_series(1, 3)").count() === 3)
    assert(extended.sql("SELECT substring('spark sql' from 7) AS s")
      .collect().head.getString(0) === "sql")
  }

  test("the PG system functions are injected: no register call") {
    val r = extended.sql("SELECT format_type(23, NULL), pg_encoding_to_char(6)").collect().head
    assert(r.getString(0) === "int4")
    assert(r.getString(1) === "UTF8")
  }

  test("the injected version() takes the place of Spark's own") {
    val v = extended.sql("SELECT version()").collect().head.getString(0)
    assert(v.startsWith("PostgreSQL"), v)
  }

  test("generate_series resolves with a column alias, no registration") {
    assert(extended.sql("SELECT i FROM generate_series(1, 3) AS s(i)").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
  }

  test("BEGIN parses to the no-op command through the injected parser") {
    assert(extended.sql("BEGIN").collect().isEmpty)
  }

  test("standard SQL still delegates untouched") {
    assert(extended.sql("SELECT 1 + 1 AS two").collect().head.getInt(0) === 2)
  }

  test("the range-join rewrite rule is installed session-wide") {
    import org.apache.spark.sql.functions._
    graft.Tables.df(extended, graft.TestSpark.sfDir, "events")
      .createOrReplaceTempView("ext_events")
    val df = extended.sql("""
      SELECT e.event_id, COUNT(*) AS n
      FROM ext_events e JOIN ext_events c
        ON c.event_type = 'click' AND e.event_type = 'error'
       AND c.ts >= e.ts - INTERVAL '5' MINUTE
       AND c.ts <= e.ts + INTERVAL '5' MINUTE
      GROUP BY e.event_id""")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"time-band theta join must be rewritten to the binned equi-join:\n$plan")
    assert(df.count() > 0)
  }

  test("the native as-of strategy is installed session-wide") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.df(extended, graft.TestSpark.sfDir, "events")
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "ts")
    // build the logical node directly — the strategy must plan it without
    // any experimental-API install on this session
    val joined = graft.plans.AsOf.plan(extended, views, purchases,
      key = "user_id", ts = "ts", as = "last_purchase_ts")
    assert(joined.queryExecution.executedPlan.toString.contains("AsOfJoin "),
      "the injected planner strategy must plan the AsOfJoin physical node")
    assert(joined.count() > 0)
  }
}
