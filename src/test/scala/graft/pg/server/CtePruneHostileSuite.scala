package graft.pg.server

import graft.TestSpark
import graft.queries.CtePrune

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Hostile-text coverage for the unused-CTE pruner on the wire path.
  *
  * The wire server runs ARBITRARY client SQL through CtePrune before parse;
  * round 10 shipped bail-outs for comments / quoted identifiers /
  * IDENTIFIER(), and round 11 adds backslash (escaped string literals can
  * desync the quote scanner), '$' (dollar-quoting and $n bind parameters —
  * a $n appearing only inside an unused CTE would otherwise vanish from
  * ParameterDescription), and pg_param. This suite asserts, at three
  * levels, that hostile texts are never silently transformed:
  *
  *   1. unit: texts containing any bail-out trigger return `eq` input;
  *   2. live server: hostile-but-legal texts give the same rows the
  *      equivalent un-prunable statement gives;
  *   3. extended protocol: ParameterDescription still reports a parameter
  *      that appears only inside an unused CTE;
  *   4. seeded random property texts: prune(sql) is either `eq` sql or
  *      result-identical under spark.sql.
  */
class CtePruneHostileSuite extends AnyFunSuite with BeforeAndAfterAll {
  import WireClient._

  private var server: PgWireServer = _
  private def port: Int = server.boundPort

  override def beforeAll(): Unit = {
    server = new PgWireServer(TestSpark.spark, port = 0)
    server.start()
  }

  override def afterAll(): Unit = if (server != null) server.stop()

  test("unit: every bail-out trigger returns the input object unchanged") {
    val hostile = Seq(
      "WITH a AS (SELECT 1 AS x) SELECT 2 -- comment",
      "WITH a AS (SELECT 1 AS x) /* c */ SELECT 2",
      "WITH a AS (SELECT '\\'' AS s) SELECT 2",
      "WITH a AS (SELECT 'x\\y' AS s) SELECT 2",
      "WITH a AS (SELECT 1 AS x) SELECT $1",
      "WITH a AS (SELECT $1 AS x) SELECT 2",
      "WITH a AS (SELECT 1 AS x) SELECT \"a\".x FROM a",
      "WITH a AS (SELECT 1 AS x) SELECT `x` FROM a",
      "WITH a AS (SELECT 1 AS x) SELECT * FROM IDENTIFIER('a')",
      "WITH a AS (SELECT pg_param(1) AS x) SELECT 2",
      "WITH a AS (SELECT 1 AS x) SELECT '$t$ not a quote'")
    hostile.foreach { sql =>
      assert(CtePrune.prune(sql) eq sql, s"must bail verbatim: $sql")
    }
  }

  test("live server: backslash-escape and dollar texts run unpruned and correct") {
    WireClient.withClient(port) { c =>
      // a backslash string literal that a naive quote scanner desyncs on;
      // the unused CTE must NOT be pruned (bail-out) and results must match
      val r1 = rows(c.simple(
        """WITH unused AS (SELECT 'a\\b(' AS s) SELECT 7 AS v"""))
      assert(r1 == Seq(Seq("7")))
      // a literal containing what looks like a dollar-quote tag
      val r2 = rows(c.simple(
        "WITH unused AS (SELECT 1 AS x) SELECT '$tag$' AS v"))
      assert(r2 == Seq(Seq("$tag$")))
    }
  }

  test("extended protocol: $1 only inside an unused CTE keeps its ParameterDescription") {
    WireClient.withClient(port) { c =>
      c.parse("s_cte", "WITH unused AS (SELECT $1 AS v) SELECT 3 AS k")
      c.describeStatement("s_cte")
      c.bind("", "s_cte", Seq("42"))
      c.execute("")
      val msgs = c.sync()
      // 't' = ParameterDescription: int16 count, then per-param OIDs
      val pd = msgs.find(_._1 == 't')
      assert(pd.nonEmpty, "no ParameterDescription")
      val nParams = paramTypes(msgs).length
      assert(nParams == 1,
        s"ParameterDescription must keep the unused-CTE param, got $nParams")
      assert(rows(msgs) == Seq(Seq("3")))
    }
  }

  test("extended protocol: $1 inside a USED CTE body binds and executes") {
    WireClient.withClient(port) { c =>
      c.parse("s_used", "WITH u AS (SELECT $1::int AS v) SELECT v + 1 AS k FROM u")
      c.describeStatement("s_used")
      c.bind("", "s_used", Seq("41"))
      c.execute("")
      val msgs = c.sync()
      val pd = msgs.find(_._1 == 't')
      assert(pd.nonEmpty, "no ParameterDescription")
      assert(paramTypes(msgs).length == 1)
      assert(rows(msgs) == Seq(Seq("42")),
        "a $n inside a CTE body must bind (UnresolvedWith.cteRelations)")
    }
  }

  test("property: seeded random CTE texts are verbatim or result-identical") {
    val spark = TestSpark.spark
    val rnd = new scala.util.Random(20260818L)
    val hostileLits =
      Seq("')('", "'(('", "''''", "'as'", "' , '", "'with x as (select'")
    (1 to 40).foreach { _ =>
      val nDefs = 1 + rnd.nextInt(4)
      val defs = (0 until nDefs).map { i =>
        val lit = hostileLits(rnd.nextInt(hostileLits.size))
        s"c$i AS (SELECT ${i + 1} AS n, $lit AS s)"
      }
      val used = rnd.nextInt(nDefs)
      val sql = s"WITH ${defs.mkString(", ")} SELECT n, s FROM c$used"
      val pruned = CtePrune.prune(sql)
      if (!(pruned eq sql)) {
        val a = spark.sql(sql).collect().toSeq
        val b = spark.sql(pruned).collect().toSeq
        assert(a == b, s"pruned text diverged for: $sql")
      } else {
        // bailed or nothing to prune: still must execute
        assert(spark.sql(sql).collect().nonEmpty)
      }
    }
  }
}
