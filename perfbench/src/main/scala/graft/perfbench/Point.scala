package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.pg.server.PgWireServer
import graft.pg.wire.PgTypes

/** `point`: four pooled clients in a closed loop of short statements, the
  * way an application behind a connection pool uses the server. The mix,
  * dealt from a seeded deck: `$1`-bound point lookups on orders/customer
  * with Zipf keys over the full key space (hot keys reuse generated code,
  * cold ones compile), parameterless dashboard queries, the
  * catalog/`SHOW`/`SET` texts JDBC clients and psql send, and a reconnect every
  * [[Point.ReconnectEvery]] statements per client.
  */
final class Point(dirs: Dirs, seed: Long) extends Workload {
  import Point._

  private var session: SparkSession = _
  private var server: PgWireServer = _
  def spark: SparkSession = session

  private val fixed = mutable.HashMap.empty[String, (Long, String)]
  private var orderKeys: Zipf = _
  private var custKeys: Zipf = _

  def setup(): Unit = {
    val (s, srv) = Env.wire(dirs, dirs.sf(Sf))
    session = s; server = srv
    // a pool's validation round
    val c = new PgClient(server.boundPort)
    c.connect()
    c.extended(Orders, Seq("0"), 0, binary = false, oids = Seq(PgTypes.INT8))
    c.extended(Dashboard, Nil, 0, binary = false)
    c.close()
  }

  def teardown(): Unit = { server.stop(); Env.stop(session) }

  def prepare(): Unit = {
    orderKeys = new Zipf(session.table("orders").count().toInt, ZipfS, seed * 7 + 1)
    custKeys = new Zipf(session.table("customer").count().toInt, ZipfS, seed * 7 + 2)
    Seq(Dashboard, One).foreach(q => fixed(q) = Env.directDigest(session.sql(q), binary = false))
    // untimed: the same mix for a few seconds, so JIT and caches settle
    run(System.nanoTime() + (WarmupSeconds * 1e9).toLong, new Recorder(Tracer.Off), seed + 1)
  }

  def run(deadline: Long, rec: Recorder): Unit = run(deadline, rec, seed)

  private def run(deadline: Long, rec: Recorder, runSeed: Long): Unit = {
    val t = rec.tracer
    val counters0 = WireLayers.serverCounters()
    val lookups = new java.util.concurrent.ConcurrentLinkedQueue[Lookup]()
    val threads = (0 until Clients).map { ci =>
      val replay = if (t.enabled) new Replay(session) else null
      new Thread(() => client(ci, runSeed, deadline, rec, replay, lookups), s"point-client-$ci")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (t.enabled) WireLayers.reportServer(rec, counters0, WireLayers.serverCounters())
    rec.untimed(verify(lookups, rec))
  }

  /** Each lookup's DataRow digest against the same row read in-process
    * from the table (one query per table for all keys the run drew).
    */
  private def verify(lookups: java.util.Collection[Lookup], rec: Recorder): Unit = {
    import scala.jdk.CollectionConverters._
    lookups.asScala.toSeq.groupBy(_.sql).foreach { case (sql, ls) =>
      val keyCol = if (sql == Orders) "o_orderkey" else "c_custkey"
      val keys = ls.map(_.key).distinct
      val expected = mutable.HashMap.empty[Long, String]
      val df = session.sql(sql.replace(s"$keyCol = $$1", s"$keyCol IN (${keys.mkString(",")})"))
      val schema = df.schema
      val writer = graft.pg.wire.RowCodec.rowWriter(schema, Seq.fill(schema.length)(false))
      val buf = java.nio.ByteBuffer.allocate(1 << 12)
      org.apache.spark.sql.graft.Internals.executeToIterator(df).foreach { r =>
        buf.clear(); buf.putShort(schema.length.toShort); writer(r, buf)
        val md = java.security.MessageDigest.getInstance("MD5")
        md.update(buf.array(), 0, buf.position())
        expected(r.getLong(0)) = Env.hex(md)
      }
      ls.foreach { l =>
        val ok = l.ok && expected.get(l.key).contains(l.digest)
        if (!ok) rec.note(s"${l.kind} key=${l.key}: ${Option(l.error).getOrElse("row differs")}")
        rec.op(l.kind, l.nanos, l.rows, ok, traced = l.traced)
      }
    }
  }

  private def client(ci: Int, runSeed: Long, deadline: Long, rec: Recorder, replay: Replay,
      lookups: java.util.Collection[Lookup]): Unit = {
    val rng = new Rng(runSeed * 31 + ci)
    val t = rec.tracer
    var c: PgClient = null
    def connect(): Unit = {
      val t0 = System.nanoTime()
      c = new PgClient(server.boundPort)
      c.connect()
      val t1 = System.nanoTime()
      rec.op("connect", t1 - t0, 0, ok = true, primary = false)
      if (t.enabled) {
        t.record("server.connect", t0, t1)
        replay.connect(t)
      }
    }
    connect()
    var n = 0L
    var deck = Vector.empty[Int]
    try while (System.nanoTime() < deadline) {
      if (n > 0 && n % ReconnectEvery == 0) { c.close(); connect() }
      // exact proportions per client; only the order varies with the seed
      if (deck.isEmpty) deck = rng.shuffle(Deck)
      val slot = deck.head
      deck = deck.tail
      // every other statement is traced (spans and an in-process replay)
      val tr = if (t.enabled && n % 2 == 0) t else Tracer.Off
      t.request((ci.toLong << 40) | n) {
        slot match {
          case OrdersSlot | CustomerSlot =>
            val (kind, sql, key) =
              if (slot == OrdersSlot) ("lookup_orders", Orders, orderKeys.next(rng))
              else ("lookup_customer", Customer, custKeys.next(rng))
            val r = c.extended(sql, Seq(key.toString), 0, binary = false, oids = Seq(PgTypes.INT8))
            lookups.add(Lookup(kind, sql, key, r.ready - r.sent, r.rows,
              r.error == null && r.rows == 1, r.digest, r.error, tr.enabled))
            phases(tr, kind, r)
            if (tr.enabled) replay.run(tr, sql, Seq(key.toString -> PgTypes.INT8), binary = false)
          case DashboardSlot | OneSlot =>
            val (kind, q) = if (slot == DashboardSlot) ("dashboard", Dashboard) else ("select_one", One)
            val r = c.extended(q, Nil, 0, binary = false)
            val (rows, md5) = fixed(q)
            val ok = r.error == null && r.rows == rows && r.digest == md5
            finish(rec, tr, kind, r, ok, s"$q -> rows=${r.rows} ${r.error}")
            if (tr.enabled) replay.run(tr, q, Nil, binary = false)
          case _ =>
            val (sql, expectRows, expectTag) = Meta(rng.nextInt(Meta.size))
            val r = c.simple(sql)
            val ok = r.error == null && r.rows == expectRows && r.tag.startsWith(expectTag)
            finish(rec, tr, "catalog", r, ok, s"$sql -> rows=${r.rows} tag=${r.tag} ${r.error}")
        }
      }
      n += 1
    } finally c.close()
  }

  private def finish(rec: Recorder, tr: Tracer, kind: String, r: Round, ok: Boolean,
      what: => String): Unit = {
    rec.op(kind, r.ready - r.sent, r.rows, ok, traced = tr.enabled)
    if (!ok) rec.note(what)
    phases(tr, kind, r)
  }

  private def phases(tr: Tracer, kind: String, r: Round): Unit = {
    WireLayers.phases(tr, r, "op." + kind)
    if (tr.enabled) tr.record("wire.stmt", r.sent, r.ready)
  }
}

object Point {
  val Sf = "sf0.1"
  val Clients: Int = math.min(4, Env.Cpus)
  val ReconnectEvery = 40
  val ZipfS = 1.0
  val WarmupSeconds = 5.0

  /** A lookup's outcome, checked against the table after the run. */
  private final case class Lookup(kind: String, sql: String, key: Long, nanos: Long, rows: Long,
      ok: Boolean, digest: String, error: String, traced: Boolean)

  private val OrdersSlot = 0
  private val CustomerSlot = 1
  private val DashboardSlot = 2
  private val OneSlot = 3
  private val CatalogSlot = 4
  /** 20 statements: 45% orders lookups, 15% customer lookups, 15%
    * dashboard, 5% `SELECT 1`, 20% catalog and session texts. The shares
    * keep the median inside the lookups and the 90th percentile inside the
    * dashboards, away from the edge between two kinds of statement.
    */
  val Deck: Vector[Int] = Vector.fill(9)(OrdersSlot) ++ Vector.fill(3)(CustomerSlot) ++
    Vector.fill(3)(DashboardSlot) ++ Vector(OneSlot) ++ Vector.fill(4)(CatalogSlot)

  val Orders = "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate " +
    "FROM orders WHERE o_orderkey = $1"
  val Customer = "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment " +
    "FROM customer WHERE c_custkey = $1"
  val Dashboard = "SELECT r_name, count(*) AS nations, sum(n_nationkey) AS keysum " +
    "FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY r_name ORDER BY r_name"
  val One = "SELECT 1"

  /** (text, rows, command-tag prefix) of catalog and session texts psql and
    * pgjdbc send on connect and for metadata
    */
  val Meta: Seq[(String, Long, String)] = Seq(
    ("SHOW TRANSACTION ISOLATION LEVEL", 1L, "SHOW"),
    ("SET extra_float_digits = 3", 0L, "SET"),
    ("SET application_name = 'perfbench'", 0L, "SET"),
    ("SELECT typname FROM pg_catalog.pg_type WHERE oid = 23", 1L, "SELECT"),
    ("SELECT pg_catalog.format_type(23, NULL)", 1L, "SELECT"),
    ("SELECT (pg_catalog.current_schemas(true))[1]", 1L, "SELECT"))
}
