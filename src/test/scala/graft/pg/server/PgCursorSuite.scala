package graft.pg.server

import scala.sys.process._

import graft.TestSpark

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** SQL-level cursors: DECLARE ... CURSOR FOR / FETCH / MOVE / CLOSE over the
  * simple protocol. psql's FETCH_COUNT mode wraps every query in exactly
  * this flow and ODBC drivers page large results the same way; the final
  * test drives the real psql binary with FETCH_COUNT=3 end-to-end. Cursors
  * ride the same incremental portal iterator as the extended protocol, so
  * results stream partition-at-a-time — no driver materialization.
  */
class PgCursorSuite extends AnyFunSuite with BeforeAndAfterAll {
  import WireClient._

  private var server: PgWireServer = _
  private def port: Int = server.boundPort

  override def beforeAll(): Unit = {
    server = new PgWireServer(TestSpark.spark, port = 0)
    server.start()
  }

  override def afterAll(): Unit = if (server != null) server.stop()

  private def withClient[A](f: WireClient => A): A = WireClient.withClient(port)(f)

  test("DECLARE/FETCH pages a result in order; FETCH past the end returns 0") {
    withClient { c =>
      assert(commandTags(c.simple(
        "DECLARE pages NO SCROLL CURSOR FOR SELECT id FROM range(7) ORDER BY id"))
        === Seq("DECLARE CURSOR"))
      val first = c.simple("FETCH FORWARD 3 FROM pages")
      assert(first.exists(_._1 == 'T'), "FETCH must carry a RowDescription")
      assert(col0(first) === Seq("0", "1", "2"))
      assert(commandTags(first) === Seq("FETCH 3"))
      assert(col0(c.simple("FETCH 3 FROM pages")) === Seq("3", "4", "5"))
      // a short final page, then an empty one
      val last = c.simple("FETCH FORWARD 3 FROM pages")
      assert(col0(last) === Seq("6"))
      assert(commandTags(last) === Seq("FETCH 1"))
      val empty = c.simple("FETCH FORWARD 3 FROM pages")
      assert(col0(empty) === Seq.empty)
      assert(commandTags(empty) === Seq("FETCH 0"))
      assert(commandTags(c.simple("CLOSE pages")) === Seq("CLOSE CURSOR"))
    }
  }

  test("FETCH forms: bare NEXT, ALL, and IN; MOVE advances without rows") {
    withClient { c =>
      c.simple("DECLARE f CURSOR FOR SELECT id * 10 AS v FROM range(6) ORDER BY v")
      // bare FETCH = NEXT = one row
      assert(col0(c.simple("FETCH f")) === Seq("0"))
      assert(col0(c.simple("FETCH NEXT FROM f")) === Seq("10"))
      // MOVE skips two rows silently
      val mv = c.simple("MOVE FORWARD 2 IN f")
      assert(commandTags(mv) === Seq("MOVE 2"))
      assert(col0(mv) === Seq.empty)
      // ALL drains what remains
      val rest = c.simple("FETCH ALL IN f")
      assert(col0(rest) === Seq("40", "50"))
      assert(commandTags(rest) === Seq("FETCH 2"))
      c.simple("CLOSE f")
    }
  }

  test("cursor errors carry PG SQLSTATEs") {
    withClient { c =>
      // unknown cursor
      assert(error(c.simple("FETCH 1 FROM no_such_cursor")).map(_._1) === Some("34000"))
      assert(error(c.simple("CLOSE no_such_cursor")).map(_._1) === Some("34000"))
      // duplicate name
      c.simple("DECLARE dup CURSOR FOR SELECT 1")
      assert(error(c.simple("DECLARE dup CURSOR FOR SELECT 2")).map(_._1) === Some("42P03"))
      // backward motion on a forward-only cursor
      assert(error(c.simple("FETCH BACKWARD 1 FROM dup")).map(_._1) === Some("55000"))
      assert(error(c.simple("FETCH PRIOR FROM dup")).map(_._1) === Some("55000"))
      // CLOSE ALL sweeps everything
      assert(commandTags(c.simple("CLOSE ALL")) === Seq("CLOSE CURSOR"))
      assert(error(c.simple("FETCH 1 FROM dup")).map(_._1) === Some("34000"))
    }
  }

  test("cursor names fold like identifiers; quoted names are distinct") {
    withClient { c =>
      c.simple("DECLARE MixedCur CURSOR FOR SELECT 1 AS v")
      // unquoted reference folds to the same cursor
      assert(col0(c.simple("FETCH ALL FROM mixedcur")) === Seq("1"))
      // a quoted different-case name is a different cursor
      c.simple("""DECLARE "MixedCur" CURSOR FOR SELECT 2 AS v""")
      assert(col0(c.simple("""FETCH ALL FROM "MixedCur"""")) === Seq("2"))
      c.simple("CLOSE ALL")
    }
  }

  test("DISCARD ALL closes cursors with the rest of the session state") {
    withClient { c =>
      c.simple("DECLARE d CURSOR FOR SELECT 1")
      c.simple("DISCARD ALL")
      assert(error(c.simple("FETCH 1 FROM d")).map(_._1) === Some("34000"))
    }
  }

  test("real psql with FETCH_COUNT pages through the cursor flow end-to-end") {
    // psql rewrites the query as BEGIN; DECLARE _psql_cursor NO SCROLL
    // CURSOR FOR <q>; FETCH FORWARD 3 FROM _psql_cursor; ...; CLOSE; COMMIT
    val out = new StringBuilder
    val err = new StringBuilder
    val rc = Seq("psql", s"host=127.0.0.1 port=$port dbname=default user=graft",
      "-At", "--variable=FETCH_COUNT=3",
      "-c", "SELECT id FROM range(10) ORDER BY id")
      .!(ProcessLogger(s => out.append(s).append('\n'), s => err.append(s).append('\n')))
    assert(rc === 0, s"psql failed: $err")
    assert(out.toString.trim.linesIterator.toSeq === (0 until 10).map(_.toString),
      s"psql FETCH_COUNT output: $out / $err")
  }
}
