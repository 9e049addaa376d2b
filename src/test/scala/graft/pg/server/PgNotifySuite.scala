package graft.pg.server

import java.nio.ByteBuffer

import graft.TestSpark

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** LISTEN/NOTIFY over the wire: cross-session NotificationResponse ('A')
  * delivery, identifier folding, self-notification, UNLISTEN and the
  * UNLISTEN-* step of DISCARD ALL, and the pg_notify() function form. The
  * reference rejects these statements; real PG apps use the pair for cache
  * invalidation and job queues (and connection pools UNLISTEN * on
  * check-in), so the surface carries real semantics here.
  */
class PgNotifySuite extends AnyFunSuite with BeforeAndAfterAll {
  import WireClient._

  private var server: PgWireServer = _
  private def port: Int = server.boundPort

  override def beforeAll(): Unit = {
    server = new PgWireServer(TestSpark.spark, port = 0)
    server.start()
  }

  override def afterAll(): Unit = if (server != null) server.stop()

  private def client(p: Int = port): WireClient = connected(p, 30000)

  private def decodeNotification(msg: (Char, Array[Byte])): (Int, String, String) = {
    assert(msg._1 === 'A', s"expected NotificationResponse, got '${msg._1}'")
    val b = ByteBuffer.wrap(msg._2)
    val senderPid = b.getInt
    def str(): String = {
      val sb = new StringBuilder
      var c = b.get()
      while (c != 0) { sb.append(c.toChar); c = b.get() }
      sb.toString
    }
    (senderPid, str(), str())
  }

  test("NOTIFY reaches a listener on another connection with sender pid and payload") {
    val a = client()
    val b = client()
    try {
      assert(commandTags(a.simple("LISTEN jobs")) === Seq("LISTEN"))
      assert(commandTags(b.simple("NOTIFY jobs, 'job-42 ready'")) === Seq("NOTIFY"))
      val (senderPid, channel, payload) = decodeNotification(a.read())
      assert(senderPid === b.pid)
      assert(channel === "jobs")
      assert(payload === "job-42 ready")
      // the listener's connection still serves queries normally afterwards
      assert(a.simple("SELECT 1").exists(_._1 == 'D'))
    } finally { a.close(); b.close() }
  }

  test("singleSession mode attributes pids per CONNECTION, not per SparkSession") {
    // regression: every singleSession connection shares the base
    // SparkSession, and the SparkSession→pid identity scan used to pick an
    // arbitrary connection — LISTEN could register (and pg_backend_pid
    // report) another connection's pid. The dispatch thread now pins the
    // executing connection's pid.
    val single = new PgWireServer(TestSpark.spark, port = 0,
      config = PgServerConfig(singleSession = true))
    single.start()
    val a = client(single.boundPort)
    val b = client(single.boundPort)
    try {
      def backendPid(c: WireClient): Int =
        col0(c.simple("SELECT pg_backend_pid() AS pid")).head.toInt
      assert(backendPid(a) === a.pid)
      assert(backendPid(b) === b.pid)
      // LISTEN registers the LISTENING connection; NOTIFY attributes the
      // SENDING one — a must get the frame with b's pid as sender
      assert(commandTags(a.simple("LISTEN singlechan")) === Seq("LISTEN"))
      assert(commandTags(b.simple("NOTIFY singlechan, 'hi'")) === Seq("NOTIFY"))
      val (senderPid, channel, payload) = decodeNotification(a.read())
      assert(senderPid === b.pid)
      assert(channel === "singlechan")
      assert(payload === "hi")
    } finally { a.close(); b.close(); single.stop() }
  }

  test("a session receives its own notifications; payload defaults empty") {
    val c = client()
    try {
      c.simple("LISTEN selfchan")
      val r = c.simple("NOTIFY selfchan")
      // under autocommit PG delivers before the next ReadyForQuery round:
      // the 'A' frame may ride inside the NOTIFY response or arrive right
      // after — accept both orderings
      val inline = r.find(_._1 == 'A')
      val (senderPid, channel, payload) =
        decodeNotification(inline.getOrElse(c.read()))
      assert(senderPid === c.pid)
      assert(channel === "selfchan")
      assert(payload === "")
    } finally c.close()
  }

  test("channel names fold like identifiers (unquoted lowercases, quoted exact)") {
    val a = client()
    val b = client()
    try {
      a.simple("LISTEN MixedCase") // folds to mixedcase
      b.simple("NOTIFY mixedcase, 'folded'")
      assert(decodeNotification(a.read())._3 === "folded")
      // quoted channel is a DIFFERENT channel from the folded one
      a.simple("""LISTEN "Exact"""")
      b.simple("NOTIFY exact, 'wrong channel'") // nobody listens on lowercase
      b.simple("""NOTIFY "Exact", 'right channel'""")
      val (_, channel, payload) = decodeNotification(a.read())
      assert(channel === "Exact")
      assert(payload === "right channel")
    } finally { a.close(); b.close() }
  }

  test("UNLISTEN stops delivery; DISCARD ALL unlistens everything") {
    val a = client()
    val b = client()
    try {
      a.simple("LISTEN c1")
      a.simple("LISTEN c2")
      assert(commandTags(a.simple("UNLISTEN c1")) === Seq("UNLISTEN"))
      assert(PgNotify.listenerPids("c1") === Set.empty)
      assert(PgNotify.listenerPids("c2") === Set(a.pid))
      b.simple("NOTIFY c1, 'dropped'")
      b.simple("NOTIFY c2, 'still here'")
      assert(decodeNotification(a.read())._3 === "still here")
      // pool check-in clears the rest
      a.simple("DISCARD ALL")
      assert(PgNotify.listenerPids("c2") === Set.empty)
      b.simple("NOTIFY c2, 'after discard'")
      // nothing pending: the next thing a reads is its own query response
      assert(a.simple("SELECT 7").exists(_._1 == 'D'))
    } finally { a.close(); b.close() }
  }

  test("pg_notify() function form delivers like the statement") {
    val a = client()
    val b = client()
    try {
      a.simple("LISTEN fnchan")
      assert(b.simple("SELECT pg_notify('fnchan', 'via function') AS r")
        .exists(_._1 == 'D'))
      val (senderPid, channel, payload) = decodeNotification(a.read())
      assert(senderPid === b.pid)
      assert(channel === "fnchan")
      assert(payload === "via function")
    } finally { a.close(); b.close() }
  }

  test("EXPLAIN of pg_notify() does not deliver (execution-time side effect)") {
    val a = client()
    val b = client()
    try {
      a.simple("LISTEN explchan")
      // EXPLAIN analyzes (where pg_notify resolves) but never executes:
      // PG delivers nothing here
      assert(b.simple("EXPLAIN SELECT pg_notify('explchan', 'phantom')")
        .forall(_._1 != 'A'))
      // a real execution afterwards delivers exactly one frame with the
      // real payload — nothing queued from the EXPLAIN
      b.simple("SELECT pg_notify('explchan', 'real') AS r")
      val (senderPid, channel, payload) = decodeNotification(a.read())
      assert(senderPid === b.pid)
      assert(channel === "explchan")
      assert(payload === "real")
      // nothing else pending
      assert(a.simple("SELECT 5").exists(_._1 == 'D'))
    } finally { a.close(); b.close() }
  }

  test("session close drops registrations (no delivery to dead pids)") {
    val a = client()
    val b = client()
    a.simple("LISTEN ephemeral")
    val apid = a.pid
    a.close()
    // wait for the server to observe the close
    var tries = 0
    while (PgNotify.listenerPids("ephemeral").contains(apid) && tries < 100) {
      Thread.sleep(50); tries += 1
    }
    assert(PgNotify.listenerPids("ephemeral") === Set.empty)
    try {
      // notifying the now-empty channel is a no-op, not an error
      assert(commandTags(b.simple("NOTIFY ephemeral, 'anyone?'")) === Seq("NOTIFY"))
    } finally b.close()
  }

  test("pg_backend_pid() reports the wire pid") {
    val c = client()
    try {
      val r = c.simple("SELECT pg_backend_pid() AS pid")
      assert(col0(r).head === c.pid.toString)
    } finally c.close()
  }
}
