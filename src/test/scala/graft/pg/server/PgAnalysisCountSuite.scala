package graft.pg.server

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.TestSpark
import graft.pg.wire.PgTypes

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** How many times each wire flow runs the analyzer. A check rule, which
  * Spark runs once at the end of every analysis, counts them; it is
  * injected into the server's base session, and every connection's
  * session inherits it.
  */
class PgAnalysisCountSuite extends AnyFunSuite with BeforeAndAfterAll {
  import WireClient._

  private val analyses = new AtomicInteger
  private var base: SparkSession = _
  private var server: PgWireServer = _
  private val dir = Files.createTempDirectory("analysis-count").toFile

  override def beforeAll(): Unit = {
    val shared = TestSpark.spark
    base = SparkSession.builder()
      .withExtensions(_.injectCheckRule(_ => _ => analyses.incrementAndGet()))
      .create()
    SparkSession.setActiveSession(shared)
    SparkSession.setDefaultSession(shared)
    base.range(100).selectExpr("id AS k", "CAST(id AS STRING) AS v")
      .write.mode("overwrite").parquet(dir.toString)
    base.sql("DROP TABLE IF EXISTS count_t")
    base.sql(s"CREATE TABLE count_t USING parquet LOCATION '${dir.toURI}'")
    server = new PgWireServer(base, port = 0)
    server.start()
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    if (base != null) base.sql("DROP TABLE IF EXISTS count_t")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  /** Analyses while `flow` runs; its messages must carry no error. */
  private def counted(flow: => Msgs): Int = {
    val before = analyses.get
    val m = flow
    assert(error(m) === None)
    analyses.get - before
  }

  private val Lookup = "SELECT v FROM count_t WHERE k = $1"

  test("Parse, Bind and Execute of a $1 lookup analyze once") {
    withClient(server.boundPort) { c =>
      assert(counted(c.extended(Lookup, Seq("7"), Seq(PgTypes.INT8))) === 1)
    }
  }

  test("each later Bind and Execute of a named statement analyzes once") {
    withClient(server.boundPort) { c =>
      assert(counted { c.parse("lookup", Lookup, Seq(PgTypes.INT4)); c.sync() } === 1)
      def run(k: Int): Msgs = { c.bind("", "lookup", Seq(k.toString)); c.execute(""); c.sync() }
      // the first Bind runs on Parse's analysis
      assert(counted(run(1)) === 0)
      for (k <- 2 to 4) {
        var m: Msgs = Nil
        assert(counted { m = run(k); m } === 1)
        assert(col0(m) === Seq(k.toString))
      }
    }
  }

  test("a parameterless query analyzes once") {
    withClient(server.boundPort) { c =>
      assert(counted(c.extended("SELECT count(*) FROM count_t", Nil, Nil)) === 1)
      assert(counted(c.simple("SELECT count(*) FROM count_t")) === 1)
    }
  }
}
