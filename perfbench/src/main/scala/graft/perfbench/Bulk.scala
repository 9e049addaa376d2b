package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.pg.server.{PgCopy, PgWireServer}

/** `bulk`: one connection moving large results both ways. Each cycle
  * fetches all of lineitem in cursor mode, first in text and then in
  * binary result format, and then runs [[Bulk.CopyReps]]
  * `COPY bench_sink FROM STDIN` statements of [[Bulk.CopyRows]] seeded rows
  * each, sent in 64 KB CopyData frames. An operation is one Execute round
  * or one COPY statement.
  */
final class Bulk(dirs: Dirs, seed: Long) extends Workload {
  import Bulk._

  private var session: SparkSession = _
  private var server: PgWireServer = _
  def spark: SparkSession = session
  private var expectText: (Long, String) = _
  private var expectBinary: (Long, String) = _

  def setup(): Unit = {
    val (s, srv) = Env.wire(dirs, dirs.sf(Sf))
    session = s; server = srv
    val c = new PgClient(server.boundPort)
    c.connect()
    c.simple("BEGIN")
    c.extended(Fetch, Nil, TextFetchRows, binary = false, "S_w", "P_w")
    c.closePortal("S_w", "P_w")
    c.simple("COMMIT")
    c.copyIn(Copy, CopyGen.block(-1, 0, 100).bytes, Frame)
    c.simple("TRUNCATE TABLE bench_sink")
    c.close()
  }

  def teardown(): Unit = { server.stop(); Env.stop(session) }

  def prepare(): Unit = {
    expectText = Env.directDigest(session.sql(Fetch), binary = false)
    expectBinary = Env.directDigest(session.sql(Fetch), binary = true)
    // untimed: one cycle with fewer copies, so JIT and caches settle
    val c = new PgClient(server.boundPort)
    c.connect()
    try cycle(c, new Recorder(Tracer.Off), null, -1, WarmupCopyReps) finally c.close()
  }

  def run(deadline: Long, rec: Recorder): Unit = {
    val replay = if (rec.tracer.enabled) new Replay(session) else null
    if (replay != null) {
      session.sql("DROP TABLE IF EXISTS bench_sink_replay")
      session.sql("CREATE TABLE bench_sink_replay (k BIGINT, v DOUBLE, s STRING) USING parquet")
    }
    val counters0 = WireLayers.serverCounters()
    val c = new PgClient(server.boundPort)
    c.connect()
    var n = 0
    // at least MinCycles, so a slow machine still gives p90 its samples
    try while (n < MinCycles || System.nanoTime() < deadline) {
      cycle(c, rec, replay, n, CopyReps); n += 1
    } finally c.close()
    if (replay != null) {
      val t = rec.tracer
      WireLayers.reportServer(rec, counters0, WireLayers.serverCounters())
      val rows = t.counter("copy.rows")
      if (rows > 0) {
        val feed = t.counter("copy.feed_ns")
        val finish = t.counter("copy.finish_ns")
        rec.put("copy.feed_ns_per_row", feed.toDouble / rows, "ns", rows.toInt)
        rec.put("copy.insert_ms_per_batch", finish / 1e6 / t.counter("copy.batches"), "ms",
          t.counter("copy.batches").toInt)
        rec.put("copy.insert_share", finish.toDouble / (feed + finish), "ratio")
      }
    }
  }

  /** One cycle: lineitem in text, then in binary, then `copyReps` COPYs. */
  private def cycle(c: PgClient, rec: Recorder, replay: Replay, n: Int, copyReps: Int): Unit = {
    val t = rec.tracer
    Seq(false, true).foreach { binary => t.request(n.toLong << 1 | (if (binary) 1 else 0)) {
      val kind = if (binary) "fetch_binary" else "fetch_text"
      val fetch = if (binary) BinaryFetchRows else TextFetchRows
      val rounds = scala.collection.mutable.ArrayBuffer.empty[Round]
      val md = java.security.MessageDigest.getInstance("MD5")
      c.simple("BEGIN")
      var r = c.extended(Fetch, Nil, fetch, binary, "S_b", "P_b", md = md)
      rounds += r
      while (r.suspended && r.error == null) { r = c.resume("P_b", fetch, md); rounds += r }
      c.closePortal("S_b", "P_b")
      c.simple("COMMIT")
      val all = rounds.map(_.rows).sum
      val err = rounds.flatMap(x => Option(x.error)).headOption
      val expect = if (binary) expectBinary else expectText
      val ok = err.isEmpty && all == expect._1 && Env.hex(md) == expect._2
      if (!ok) rec.note(s"$kind rows=$all expected=${expect._1} ${err.getOrElse("digest mismatch")}")
      // spans for every other round: the difference between the two
      // halves is what recording costs the operations themselves
      rounds.zipWithIndex.foreach { case (x, i) =>
        val tr = if (i % 2 == 0) t else Tracer.Off
        rec.op(kind, x.ready - x.sent, x.rows, ok, traced = tr.enabled)
        WireLayers.phases(tr, x, "op." + kind)
      }
      if (t.enabled) {
        t.record("wire.stmt", rounds.head.sent, rounds.last.ready)
        rec.untimed(replay.run(t, Fetch, Nil, binary))
      }
    }}
    var sent = 0L
    var sum = 0L
    val copies = (0 until copyReps).map { i =>
      val block = CopyGen.block(seed, n * CopyReps + i, CopyRows)
      val r = c.copyIn(Copy, block.bytes, Frame)
      sent += block.rows; sum += block.sumK
      if (t.enabled && i == 0) rec.untimed(replayCopy(t, block))
      r
    }
    rec.untimed {
      val got = session.sql("SELECT count(*), coalesce(sum(k), 0) FROM bench_sink").head()
      val okCopy = copies.forall(x => x.error == null && x.tag == s"COPY $CopyRows") &&
        got.getLong(0) == sent && got.getLong(1) == sum
      if (!okCopy) rec.note(s"copy: sink holds ${got.getLong(0)} rows sum ${got.getLong(1)}, " +
        s"sent $sent rows sum $sum; ${copies.flatMap(x => Option(x.error)).headOption.getOrElse("")}")
      copies.zipWithIndex.foreach { case (x, i) =>
        val traced = t.enabled && i % 2 == 0
        rec.op("copy_in", x.ready - x.sent, CopyRows, okCopy, traced = traced)
        if (traced) t.record("op.copy_in", x.sent, x.ready)
      }
      session.sql("TRUNCATE TABLE bench_sink")
      if (t.enabled) session.sql("TRUNCATE TABLE bench_sink_replay")
    }
  }

  /** The same rows through `PgCopy.CopyInSession` in-process: `feed` per
    * frame (parse into rows), then `finish` (the insert).
    */
  private def replayCopy(t: Tracer, block: CopyBlock): Unit = {
    val s = new PgCopy.CopyInSession(session,
      PgCopy.parse(CopyReplay).get.asInstanceOf[PgCopy.CopyIn])
    val f0 = System.nanoTime()
    block.bytes.grouped(Frame).foreach(s.feed)
    val f1 = System.nanoTime()
    s.finish()
    val f2 = System.nanoTime()
    t.record("copy.feed", f0, f1)
    t.record("copy.finish", f1, f2)
    t.count("copy.feed_ns", f1 - f0)
    t.count("copy.finish_ns", f2 - f1)
    t.count("copy.rows", block.rows)
    t.count("copy.batches", 1)
  }
}

object Bulk {
  val Sf = "sf0.1"
  /** Rows per Execute. A round spans several young collections, so its
    * time does not depend on where a collection falls; with the COPY count
    * below, the median lands inside the text rounds and the 90th
    * percentile inside the COPYs rather than on an edge between them.
    */
  val TextFetchRows = 20000
  val BinaryFetchRows = 40000
  val CopyRows = 10000
  val CopyReps = 20
  val WarmupCopyReps = 5
  val MinCycles = 2
  val Frame = 65536
  val Fetch = "SELECT * FROM lineitem"
  val Copy = "COPY bench_sink FROM STDIN"
  val CopyReplay = "COPY bench_sink_replay FROM STDIN"
}
