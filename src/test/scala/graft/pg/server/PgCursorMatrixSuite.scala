package graft.pg.server

import scala.collection.mutable

import graft.TestSpark

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The cursor fetchSize × incrementalCollect matrix the reference verifies
  * with the real pgjdbc jar (reference TEST/PgJdbcSuite.scala:1144-1226):
  * all four cells — {full collect, incremental partition-at-a-time} ×
  * {fetchSize 0 = drain, fetchSize 7 = portal suspension loop} — must
  * return the IDENTICAL ordered rows, with the correct PortalSuspended /
  * CommandComplete cadence. incrementalCollect only changes how the server
  * materializes (driver collect vs executor-side iterator); the wire
  * contract may not move. Each cell runs on a fresh connection with the
  * session-local `SET spark.graft.incrementalCollect` applied first.
  */
class PgCursorMatrixSuite extends AnyFunSuite with BeforeAndAfterAll {
  import WireClient._

  private var server: PgWireServer = _
  private def port: Int = server.boundPort

  override def beforeAll(): Unit = {
    server = new PgWireServer(TestSpark.spark, port = 0)
    server.start()
  }

  override def afterAll(): Unit = if (server != null) server.stop()

  private val Sql = "SELECT id FROM range(100) ORDER BY id"
  private val Expected: Seq[String] = (0 until 100).map(_.toString)

  /** One matrix cell: returns (orderedRows, suspendedRounds). */
  private def runCell(incremental: Boolean, fetchSize: Int): (Seq[String], Int) = {
    WireClient.withClient(port) { c =>
      val set = c.simple(s"SET spark.graft.incrementalCollect=$incremental")
      assert(set.exists(_._1 == 'C'), s"SET must complete: ${types(set)}")
      c.parse("S_m", Sql)
      c.bind("curs", "S_m")
      c.sync()
      val all = mutable.ArrayBuffer.empty[String]
      var suspensions = 0
      var done = false
      while (!done) {
        c.execute("curs", fetchSize)
        val msgs = c.sync() // pgjdbc Syncs per round trip; the portal must survive
        all ++= col0(msgs)
        if (msgs.exists(_._1 == 's')) suspensions += 1
        else if (msgs.exists(_._1 == 'C')) done = true
        else fail(s"round ended with neither PortalSuspended nor CommandComplete: ${types(msgs)}")
      }
      c.closePortal("curs")
      c.sync()
      (all.toSeq, suspensions)
    }
  }

  for (incremental <- Seq(true, false); fetchSize <- Seq(0, 7)) {
    test(s"incrementalCollect=$incremental fetchSize=$fetchSize: identical rows, correct cadence") {
      val (rows, suspensions) = runCell(incremental, fetchSize)
      assert(rows == Expected,
        s"cell must return the full ordered result (got ${rows.size} rows)")
      if (fetchSize == 0) {
        assert(suspensions == 0, "a drain Execute never suspends")
      } else {
        // 100 rows at 7/round: 14 suspended rounds then a final short round
        assert(suspensions == 14,
          s"7-row fetch over 100 rows suspends 14 times, got $suspensions")
      }
    }
  }

  test("all four cells agree cell-to-cell (wire contract independent of collect mode)") {
    val cells = for (inc <- Seq(true, false); fs <- Seq(0, 7)) yield runCell(inc, fs)._1
    assert(cells.distinct.size == 1, "every cell must return identical rows")
  }
}
