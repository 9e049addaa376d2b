package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Internals
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Bench, QE, SparkEntry, Tables}

/** `lib-fixed`: graft used as a library, no wire. After a shared session
  * warmup, seeded `SparkEntry` batch entries each get their first execution
  * into a noop sink (the counting variant, so the row count is checked),
  * and every [[StreamEvery]]-th operation is a streaming entry. At sf0.001
  * the data work is nil, so DataFrame build, analysis, planning, codegen
  * and trigger machinery are what is measured.
  */
final class LibFixed(dirs: Dirs, seed: Long, expectedFile: String) extends Workload {
  import LibFixed._

  private var session: SparkSession = _
  def spark: SparkSession = session
  private val sfDir = dirs.sf(Sf)
  private var expected: Map[String, Long] = Map.empty

  def setup(): Unit = {
    session = Env.session(dirs, wire = false)
    Tables.views(session, sfDir)
    // the warmup graft.Bench declares: one-time streaming, bucketing and ANN
    // set-up moves out of the first timed entry that would otherwise pay it
    Warmup.foreach(n => write(SparkEntry.queries(n)(session, sfDir)))
  }

  def teardown(): Unit = Env.stop(session)

  def prepare(): Unit = expected = readExpected(expectedFile)

  /** Batch entries in a seeded stratified order: the expected-row list is
    * cut into consecutive chunks of [[Chunk]] entries (neighbours come from
    * the same module), each chunk is shuffled, and the order takes the
    * first entry of every chunk, then the second, and so on. Any prefix of
    * the order therefore samples every module evenly.
    */
  def order(pool: Seq[String], rng: Rng): Vector[String] = {
    val chunks = rng.shuffle(pool.grouped(Chunk).map(c => rng.shuffle(c)).toVector)
    (0 until Chunk).flatMap(i => chunks.flatMap(_.lift(i))).toVector
  }

  def run(deadline: Long, rec: Recorder): Unit = {
    val rng = new Rng(seed)
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    val pool = expected.keys.toSeq.filter(byName.contains).sortBy(n => entryIndex(n))
    val batch = order(pool.filterNot(Bench.isStreaming), rng)
    val streams = rng.shuffle(pool.filter(Bench.isStreaming))
    val t = rec.tracer
    val listener = new StreamProbe
    if (t.enabled) session.streams.addListener(listener)
    var bi = 0
    var si = 0
    var n = 0
    while (System.nanoTime() < deadline && bi < batch.size) {
      val stream = (n + 1) % StreamEvery == 0 && streams.nonEmpty
      val q = if (stream) { si += 1; byName(streams((si - 1) % streams.size)) }
        else { bi += 1; byName(batch(bi - 1)) }
      val traced = t.enabled && n % 2 == 0
      t.request(n.toLong) { runEntry(q, stream, if (traced) t else Tracer.Off, rec) }
      n += 1
    }
    if (t.enabled) {
      session.streams.removeListener(listener)
      listener.report(rec, streams = rec.all.count(o => o.kind == "stream_entry"))
    }
  }

  private def runEntry(q: QE, stream: Boolean, t: Tracer, rec: Recorder): Unit = {
    val kind = if (stream) "stream_entry" else "batch_entry"
    val t0 = System.nanoTime()
    val rows = try {
      t.span("op." + kind) {
        val df = t.span("lib.build")(q.fn(session, sfDir))
        if (t.enabled) {
          // the same work split at its phase boundaries: the entry's own
          // query execution, analysed, optimised, planned, then executed
          val qe = df.queryExecution
          t.span("engine.analyze")(qe.analyzed)
          t.span("engine.optimize")(qe.optimizedPlan)
          t.span("engine.plan")(qe.executedPlan)
          t.span("engine.execute")(Internals.executeToIterator(df).size.toLong)
        } else write(df)
      }
    } catch {
      case e: Throwable => rec.note(s"${q.name}: ${e.getMessage}"); -1L
    }
    val nanos = System.nanoTime() - t0
    val ok = rows >= 0 && expected.get(q.name).contains(rows)
    if (!ok && rows >= 0) rec.note(s"${q.name}: $rows rows, expected ${expected.get(q.name)}")
    rec.op(kind, nanos, math.max(rows, 0L), ok, primary = !stream, traced = t.enabled)
    session.catalog.clearCache()
  }

  private def write(df: DataFrame): Long = {
    df.write.format(classOf[CountingSink].getName).mode("overwrite").save()
    CountingSink.lastRows.get
  }

  private lazy val entryIndex: Map[String, Int] = SparkEntry.all.map(_.name).zipWithIndex.toMap

  /** Record every entry's row count on this data (two passes; an entry
    * whose count differs between them, or which fails, is left out with
    * the reason as a comment line).
    */
  def recordExpected(path: String): Unit = {
    val lines = SparkEntry.all.map { q =>
      val counts = (0 until 2).map { _ =>
        try write(q.fn(session, sfDir)).toString
        catch { case e: Throwable => "error: " + Option(e.getMessage).getOrElse(e.toString)
          .linesIterator.nextOption().getOrElse("").take(160) }
        finally session.catalog.clearCache()
      }
      System.err.println(s"perfbench: ${q.name} ${counts.mkString(" / ")}")
      if (counts.distinct.size == 1 && !counts.head.startsWith("error"))
        s"${q.name}\t${counts.head}"
      else s"# ${q.name}\t${counts.mkString(" / ")}"
    }
    Files.write(Paths.get(path), (Header +: lines).asJava, UTF_8)
  }
}

object LibFixed {
  val Sf = "sf0.001"
  val Chunk = 8
  val StreamEvery = 10
  val Warmup: Seq[String] = Seq("q01_pricing_summary", "q46_bucketed_join", "q93_stream_dedup",
    "q182_stream_map_state", "p22_ann_ivf", "p27_pq_encode")
  val Header = "# entry\trows at sf0.001 of the benchmark's generated data " +
    "(written by: run.py --record-expected)"

  def readExpected(path: String): Map[String, Long] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.iterator
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map { l => val Array(n, r) = l.split('\t'); n -> r.toLong }.toMap
}

/** Streaming progress from the public listener: triggers and the engine's
  * own per-trigger phase durations.
  */
final class StreamProbe extends StreamingQueryListener {
  private val durations = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var triggers = 0

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    triggers += 1
    e.progress.durationMs.asScala.foreach { case (k, v) =>
      durations.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v.doubleValue
    }
  }

  def report(rec: Recorder, streams: Int): Unit = synchronized {
    rec.put("stream.triggers_per_entry", triggers.toDouble / math.max(1, streams), "count", streams)
    Seq("triggerExecution" -> "stream.trigger_ms", "queryPlanning" -> "stream.query_planning_ms",
      "addBatch" -> "stream.add_batch_ms", "walCommit" -> "stream.wal_commit_ms",
      "commitOffsets" -> "stream.commit_offsets_ms").foreach { case (k, name) =>
      durations.get(k).filter(_.nonEmpty).foreach(xs => rec.put(name, Stats.median(xs.toSeq), "ms", xs.size))
    }
  }
}
