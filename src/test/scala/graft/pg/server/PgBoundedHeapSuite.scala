package graft.pg.server

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.TimeUnit

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** Bounded-memory PROOFS in both directions, each through a separate server
  * JVM pinned to -Xmx512m:
  *
  *  - result streaming: a ~480 MB text result (4M rows × ~120 B) through the
  *    default incremental-collect path — a driver-side materialization would
  *    need well over 1 GB of row objects (SURVEY §7.1, reference incremental
  *    collect, ExecutorImpl.scala:185-215).
  *  - COPY FROM STDIN ingest: ~460 MB of copy-in frames (1.5M rows × ~320 B)
  *    through the 50k-row batch path — materializing the stream (or letting
  *    the inbound Netty queue grow while a batch flushes) would equally
  *    exceed the pinned heap; the frame decoder's high-water autoRead gate
  *    is what keeps the backlog at ~one batch (A/B-verified: with the gate
  *    set to Long.MaxValue this ingest kills the 512 MB server).
  *
  * The client streams and counts without storing, so the test itself stays
  * small.
  */
class PgBoundedHeapSuite extends AnyFunSuite {
  import WireClient._

  // must match build.sbt's jdk17AddOpens (Spark 4 on JDK 17 outside
  // spark-submit)
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Fork a -Xmx512m server JVM, wait for its bound port, run `f`, kill it. */
  private def withForkedServer(tag: String, extraProps: Seq[String] = Nil)(
      f: WireClient => Unit): Unit = {
    val java = sys.props("java.home") + "/bin/java"
    val cmd = (Seq(java, "-Xmx512m") ++ addOpens ++ Seq(
      "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      s"-Dderby.system.home=/tmp/graft_${tag}_derby") ++ extraProps ++ Seq(
      "-cp", sys.props("java.class.path"),
      "graft.pg.server.Serve", "0")).toArray
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.environment().put("SPARK_GRAFT_CPUS", "4")
    val proc = pb.start()
    try {
      // wait for the bound-port line ("graft PG server listening on NNNN")
      val reader = new BufferedReader(new InputStreamReader(proc.getInputStream, UTF_8))
      var port = -1
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(120)
      var line = reader.readLine()
      while (port < 0 && line != null && System.nanoTime() < deadline) {
        val m = "listening on (\\d+)".r.findFirstMatchIn(line)
        if (m.isDefined) port = m.get.group(1).toInt
        else line = reader.readLine()
      }
      assert(port > 0, "server JVM did not report a bound port in time")
      // drain the child's remaining output so its stdout pipe never fills
      val drainer = new Thread(() => {
        try { while (reader.readLine() != null) () } catch { case _: Throwable => }
      })
      drainer.setDaemon(true)
      drainer.start()

      val c = connected(port, 300000)
      try f(c) finally c.close()
    } finally {
      proc.destroyForcibly()
      proc.waitFor(30, TimeUnit.SECONDS)
    }
  }

  private def query(c: WireClient, sql: String): (Long, Long, String, String) = {
    c.send('Q', c.cstr(sql))
    result(c)
  }

  /** Drain to ReadyForQuery, returning (rows, dataBytes, tag, error):
    * DataRows are counted, never stored.
    */
  private def result(c: WireClient): (Long, Long, String, String) = {
    var rows = 0L
    var bytes = 0L
    val rest = mutable.ArrayBuffer.empty[(Char, Array[Byte])]
    c.drain(m => if (m._1 == 'D') { rows += 1; bytes += m._2.length } else rest += m, 'Z')
    val m = rest.toSeq
    (rows, bytes, commandTags(m).lastOption.orNull, error(m).map(_.toString).orNull)
  }

  test("480MB result streams through a server JVM pinned to -Xmx512m") {
    withForkedServer("boundedheap") { c =>
      // 4M rows x (id + 100-char pad) ~ 480 MB of DataRow payload; 32 input
      // partitions so the incremental iterator holds ~15 MB at a time
      val (rows, bytes, tag, err) = query(c,
        "SELECT id, repeat('x', 100) AS pad FROM range(0, 4000000, 1, 32)")
      assert(err == null, s"server errored mid-stream (OOM?): $err")
      assert(rows === 4000000L, s"row count $rows")
      assert(bytes > 400L * 1024 * 1024,
        s"result payload was only $bytes bytes — not a large-result proof")
      assert(tag != null && tag.contains("SELECT 4000000"), s"tag was $tag")
      // connection still healthy after the large stream
      val (probeRows, _, _, probeErr) = query(c, "SELECT 7")
      assert(probeErr == null && probeRows == 1,
        "server must stay healthy after the 480MB stream")
    }
  }

  test("460MB COPY FROM STDIN ingests through a server JVM pinned to -Xmx512m") {
    val wh = "/tmp/graft_copyheap_wh"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    withForkedServer("copyheap",
        Seq(s"-Dspark.sql.warehouse.dir=$wh")) { c =>
      val (_, _, _, createErr) =
        query(c, "CREATE TABLE copy_heap_t (id BIGINT, pad STRING) USING parquet")
      assert(createErr == null, s"create failed: $createErr")

      c.send('Q', c.cstr("COPY copy_heap_t FROM STDIN"))
      // expect CopyInResponse ('G')
      val tpe = c.read()._1
      assert(tpe === 'G', s"expected CopyInResponse, got '$tpe'")

      // 1.5M rows x ~320 B ≈ 460 MB of CopyData payload, sent full-speed
      // with no reads in between: the server must bound BOTH the inbound
      // frame backlog (autoRead gate) and the parsed-row batches (50k-row
      // flush) inside its 512 MB heap. Row content varies so nothing
      // degenerates to constant-folding.
      val rowsTotal = 1500000
      val pad = "ab7d" * 77 // 308 chars
      var sent = 0L
      val sb = new java.lang.StringBuilder(1 << 20)
      var i = 0
      while (i < rowsTotal) {
        sb.setLength(0)
        val end = math.min(i + 3000, rowsTotal)
        while (i < end) {
          sb.append(i).append('\t').append(pad).append(i % 997).append('\n')
          i += 1
        }
        val chunk = sb.toString.getBytes(UTF_8)
        c.send('d', chunk)
        sent += chunk.length
      }
      c.send('c', Array.empty) // CopyDone
      assert(sent > 450L * 1024 * 1024,
        s"only sent $sent bytes — not a large-ingest proof")

      val (_, _, tag, err) = result(c)
      assert(err == null, s"server errored mid-ingest (OOM?): $err")
      assert(tag === s"COPY $rowsTotal", s"tag was $tag")

      // the rows actually landed (first / middle / last) and the
      // connection stays healthy
      val (spotRows, _, _, selErr) = query(c,
        s"SELECT id FROM copy_heap_t WHERE id IN (0, 750000, ${rowsTotal - 1})")
      assert(selErr == null, s"post-ingest select failed: $selErr")
      assert(spotRows === 3L, s"spot-check rows: $spotRows")
      val (countOk, _, _, _) =
        query(c, s"SELECT 1 WHERE (SELECT count(*) FROM copy_heap_t) = $rowsTotal")
      assert(countOk === 1L, "full count must equal the COPY tag")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
  }
}
