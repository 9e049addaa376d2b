package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import graft.Tables

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming over the events table: the reference has no
  * streaming at all (SURVEY.md §2B "Streaming: none"), so this is net-new
  * capability mapped to the idiomatic Spark constructs — readStream file
  * source, event-time watermark, tumbling-window and session-window
  * aggregation, memory sink.
  *
  * Scale posture: APPEND output mode, so the aggregations' keyed state
  * really is bounded by the watermark — each window's (or session's) state
  * is emitted and evicted once the watermark passes its end, and each
  * result row is written exactly once (complete mode would re-emit the
  * whole result and retain all state forever). Partial aggregation happens
  * map-side before the state-store shuffle.
  */
object EventStream {

  /** Far-future flush sentinel (2100-01-01 UTC, in epoch micros). Append-mode
    * windows only emit once the watermark passes their end, so a bounded
    * replay would otherwise hold the final ~watermark-delay of windows in
    * state forever. A single sentinel event past every real timestamp — the
    * standard flush-event pattern for bounded backfills — advances the
    * watermark past all real windows; the sentinel itself is filtered out
    * before aggregation so it never forms a group.
    */
  private val FlushTsMicros = 4102444800000000L
  private val FlushType = "__flush__"

  /** Pushdown-safe `event_type` predicate. A bare `event_type === t` filter
    * does not reference the event-time column, so Catalyst pushes it below
    * the EventTimeWatermark node all the way to the scan — which drops the
    * flush sentinel (whose type is [[FlushType]]) before it can advance the
    * watermark, freezing it at max-real-ts minus the delay and silently
    * holding the final windows in state forever (q120 lost its last day this
    * way; q92 only masked the same hazard because inner joins emit matches
    * eagerly). OR-ing in a term on the watermark attribute pins the filter
    * above the watermark node; the disjunct matches only the sentinel, which
    * [[runStaged]]'s ts guard removes right after the watermark node, so
    * query semantics are unchanged.
    */
  private def typeIs(t: String): Column =
    col("event_type") === t ||
      col("ts") >= timestamp_micros(lit(FlushTsMicros))

  /** Tumbling-window counts: 1-hour windows per event_type. */
  def windowedCounts(spark: SparkSession, sfDir: String): DataFrame =
    runStaged(spark, sfDir) { src =>
      src.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("total"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("total"))
    }.orderBy("win_start", "event_type")

  /** Gap-based sessionization as a STREAM: the same 6-hour-gap sessions as
    * the batch operator (q97), via `session_window` merging state. In
    * append mode a session row is emitted exactly once — when the watermark
    * passes its end (last event + gap) — so state per user is bounded by
    * the watermark at any corpus size.
    */
  def sessionizedCounts(spark: SparkSession, sfDir: String): DataFrame =
    runStaged(spark, sfDir) { src =>
      src.groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
        .agg(min("ts").as("first_ts"), max("ts").as("last_ts"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("total_value"))
        .select("user_id", "first_ts", "last_ts", "n_events", "total_value")
    }.orderBy("user_id", "first_ts")

  /** Streaming exact deduplication with watermark-bounded state
    * (`dropDuplicatesWithinWatermark`): the streaming member of the dedup
    * family (p01/p02 are the batch members). State holds one entry per key
    * seen within the watermark horizon and is evicted as the watermark
    * advances — at a continuous 100 TB-scale ingest the state size is
    * bounded by keys-per-watermark-window, where plain streaming
    * `dropDuplicates` state grows with all keys ever seen. The output
    * projects the key columns only, so the emitted set is the distinct key
    * set regardless of which duplicate of a key arrived first
    * (order-insensitive, hence batch-DISTINCT-oracle-exact).
    */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame =
    runStaged(spark, sfDir) { src =>
      src.select(col("ts"), col("user_id"), col("event_type"))
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select("user_id", "event_type")
    }.orderBy("user_id", "event_type")

  /** Watermarked STREAM-STREAM inner join — the fourth streaming state
    * construct next to windows (q95), sessions (q99), and keyed state
    * (q94): clicks matched to same-user errors within the following hour.
    * Both sides carry the source watermark and the join predicate bounds
    * event time on both ends, so each side's join state is evicted once
    * the watermark passes the interval — state is O(rows per watermark
    * horizon), not O(stream length), at any ingest rate. The emitted
    * (click, error) id pairs are a set, independent of arrival order, so
    * the batch self-join is an exact oracle.
    */
  def clickErrorJoin(spark: SparkSession, sfDir: String): DataFrame =
    runStaged(spark, sfDir) { src =>
      val clicks = src.filter(typeIs("click"))
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("c_ts"))
      val errors = src.filter(typeIs("error"))
        .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
          col("ts").as("e_ts"))
      clicks.join(errors,
        col("c_user") === col("e_user") &&
          col("e_ts") >= col("c_ts") &&
          col("e_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("click_id"), col("error_id"))
    }.orderBy("click_id", "error_id")

  /** STREAM-STATIC enrichment join — the fifth streaming construct next to
    * windowed aggs (q95), sessions (q99), keyed state (q94), and
    * stream-stream joins (q92): purchase events enriched against the static
    * customer dimension, then aggregated per (day, market segment). The
    * static side is broadcast, so the join is STATELESS — each micro-batch
    * probes the dimension hash table with no state store at all; only the
    * downstream windowed aggregation carries watermark-bounded state. This
    * is the standard streaming-ETL enrichment shape: at production scale the
    * dimension is re-broadcast per batch (picking up slowly-changing dims)
    * while the event stream's cost stays one map-side probe per row.
    */
  def enrichedSegmentSpend(spark: SparkSession, sfDir: String): DataFrame =
    runStaged(spark, sfDir) { src =>
      val dim = broadcast(Tables.df(spark, sfDir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment")))
      src.filter(typeIs("purchase"))
        .join(dim, Seq("user_id"))
        .groupBy(window(col("ts"), "1 day"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("total"))
        .select(col("window.start").as("day_start"), col("c_mktsegment"),
          col("n"), col("total"))
    }.orderBy("day_start", "c_mktsegment")

  // public: Catalyst's generated (de)serializer code instantiates these
  case class Ev(user_id: Long, event_id: Long, ts: java.sql.Timestamp, value: Double)
  case class CumState(cents: Long, fired: Boolean)
  case class Alert(user_id: Long, event_id: Long, ts: java.sql.Timestamp, cum: Double)
  case class Rec(user_id: Long, event_id: Long, ts: java.sql.Timestamp, value: Double)

  /** StatefulProcessor for [[recordBreakingEvents]]: per-user running max
    * in a single ValueState cell. Spark 4's transformWithState replaces the
    * flatMapGroupsWithState generation (q94) with named, independently
    * evolvable state variables on the RocksDB store — this is the modern
    * arbitrary-state API a production deployment targets, so the engine
    * exercises both. State is one double per user: O(keys) at any scale.
    */
  class RecordBreakProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, Rec] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var runMax: ValueState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      runMax = getHandle.getValueState[Double]("runmax", Encoders.scalaDouble, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[Rec] = {
      val batch = rows.toSeq
      // same single-batch replay contract as thresholdAlerts: cross-batch
      // event-time order is not guaranteed, so fail loudly rather than
      // emit records against a partial history
      if (runMax.exists() && batch.nonEmpty) {
        throw new IllegalStateException(
          s"recordBreakingEvents: user $user got events in a second micro-batch; " +
            "single-batch replay assumption violated")
      }
      val ordered = batch.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
      var mx = Double.NegativeInfinity
      val out = Seq.newBuilder[Rec]
      for (e <- ordered) {
        if (e.value > mx) {
          out += Rec(user, e.event_id, e.ts, e.value)
          mx = e.value
        }
      }
      if (ordered.nonEmpty) runMax.update(mx)
      out.result().iterator
    }
  }

  case class TopEntry(user_id: Long, rnk: Int, event_id: Long, value: Double)

  /** StatefulProcessor for [[topKPerUser]]: bounded top-3 per user in a
    * ListState — the list-valued state primitive (q139 covers ValueState).
    * The state is CAPPED at k entries per key, the streaming-top-k
    * invariant that keeps state O(keys·k) regardless of stream length.
    */
  class TopKProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, TopEntry] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TTLConfig}
    import org.apache.spark.sql.Encoders

    @transient private var top: ListState[Ev] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      top = getHandle.getListState[Ev]("top",
        Encoders.product[Ev], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TopEntry] = {
      val batch = rows.toSeq
      if (top.get().nonEmpty && batch.nonEmpty) {
        throw new IllegalStateException(
          s"topKPerUser: user $user got events in a second micro-batch; " +
            "single-batch replay assumption violated")
      }
      val best = batch.sortBy(e => (-e.value, e.event_id)).take(3)
      top.put(best.toArray) // capped state: O(k) per key forever
      best.iterator.zipWithIndex.map { case (e, i) =>
        TopEntry(user, i + 1, e.event_id, e.value)
      }
    }
  }

  /** Streaming per-user top-3 events by value via transformWithState with
    * LIST-valued state. The batch rank-window formulation is an exact
    * oracle (ties broken by event_id on both sides).
    */
  def topKPerUser(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    runStaged(spark, sfDir, rocksDbState = true) { src =>
      src.select(col("user_id"), col("event_id"), col("ts"), col("value")).as[Ev]
        .groupByKey(_.user_id)
        .transformWithState(new TopKProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }.orderBy("user_id", "rnk")
  }

  case class TypeCount(user_id: Long, event_type: String, n: Long)
  case class EvT(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
      value: Double, event_type: String)

  /** Streaming per-(user, event_type) census via transformWithState with
    * MAP-valued state — completing the state-primitive trio (ValueState
    * q139, ListState q181). Map keys are the small event-type vocabulary,
    * so state is O(keys·|types|). Oracle: the batch two-key group-by.
    */
  def typeCensusPerUser(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    runStaged(spark, sfDir, rocksDbState = true) { src =>
      src.select(col("user_id"), col("event_id"), col("ts"),
          col("value"), col("event_type")).as[EvT]
        .groupByKey(_.user_id)
        .transformWithState(new TypeCensusProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }.orderBy("user_id", "event_type")
  }

  class TypeCensusProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EvT, TypeCount] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TTLConfig}
    import org.apache.spark.sql.Encoders

    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[EvT],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TypeCount] = {
      val batch = rows.toSeq
      if (counts.keys().nonEmpty && batch.nonEmpty) {
        throw new IllegalStateException(
          s"typeCensusPerUser: user $user got events in a second micro-batch; " +
            "single-batch replay assumption violated")
      }
      batch.groupBy(_.event_type).foreach { case (t, es) =>
        val prior = if (counts.containsKey(t)) counts.getValue(t) else 0L
        counts.updateValue(t, prior + es.size)
      }
      counts.iterator().map(kv => TypeCount(user, kv._1, kv._2))
        .toSeq.sortBy(_.event_type).iterator
    }
  }

  /** Per-user record-breaking events via transformWithState — every event
    * whose value strictly exceeds that user's running maximum. Emission is
    * a pure function of each user's event-time-ordered history, so the
    * batch window formulation (value > max over preceding rows) is an
    * exact oracle.
    */
  def recordBreakingEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    runStaged(spark, sfDir, rocksDbState = true) { src =>
      src.select(col("user_id"), col("event_id"), col("ts"), col("value")).as[Ev]
        .groupByKey(_.user_id)
        .transformWithState(new RecordBreakProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }.orderBy("user_id", "event_id")
  }

  /** Custom keyed state via flatMapGroupsWithState — the third streaming
    * construct next to tumbling windows (q95) and session windows (q99):
    * per-user running spend, emitting exactly ONE alert row per user — the
    * first event that pushes the cumulative value over the threshold.
    * State is two fields (cents so far, fired) per user — O(keys), not
    * O(events), at any corpus size.
    *
    * Value arithmetic is integer cents (the driver data is exact 2-decimal),
    * so the emitted cumulative equals the oracle's DECIMAL(12,2) running sum
    * bit-for-bit after the final double cast. Rows within a micro-batch are
    * processed in event-time order (sorted here; a production deployment
    * would buffer out-of-order arrivals in state until the watermark passes
    * — this bounded replay delivers each user's history in one batch, which
    * the StreamingSuite equality against the batch window formulation
    * verifies end-to-end).
    */
  def thresholdAlerts(spark: SparkSession, sfDir: String,
      thresholdCents: Long = 50000L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    runStaged(spark, sfDir) { src =>
      src.select(col("user_id"), col("event_id"), col("ts"), col("value")).as[Ev]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          (uid: Long, rows: Iterator[Ev], state: GroupState[CumState]) => {
            val s0 = state.getOption.getOrElse(CumState(0L, fired = false))
            val batch = rows.toSeq
            // Correctness here depends on each user's full history arriving
            // in ONE micro-batch (the bounded replay stages all files before
            // start, so the file source delivers them in a single trigger).
            // If input ever splits across triggers (maxFilesPerTrigger, more
            // staged files), cross-batch event-time order is lost — fail
            // loudly instead of firing alerts on the wrong event. Production
            // would instead buffer out-of-order events in state until the
            // watermark passes.
            if (state.exists && batch.nonEmpty) {
              throw new IllegalStateException(
                s"thresholdAlerts: user $uid got events in a second micro-batch; " +
                  "single-batch replay assumption violated")
            }
            val ordered = batch.sortBy(e =>
              (e.ts.getTime, e.ts.getNanos, e.event_id))
            var cents = s0.cents
            var fired = s0.fired
            val out = Seq.newBuilder[Alert]
            for (e <- ordered) {
              cents += Math.round(e.value * 100.0)
              if (!fired && cents > thresholdCents) {
                out += Alert(uid, e.event_id, e.ts, cents / 100.0)
                fired = true
              }
            }
            state.update(CumState(cents, fired))
            out.result().iterator
          })
        .toDF()
    }.orderBy("user_id")
  }

  /** Run a watermarked stream over the static events parquet plus the flush
    * sentinel until all data is processed, then return the sink table.
    * Every real row arrives before the sentinel-driven watermark passes its
    * window, so the appended result equals the batch aggregation — which is
    * exactly what the DuckDB oracles check.
    */
  /** State-store partition count for the staged streams. Stateful-query
    * setup/teardown is pure per-partition fixed cost (~seconds per partition
    * of provider load + checkpoint I/O per micro-batch) while the staged
    * data is tiny, so running at the session's 32 shuffle partitions is 8x
    * the fixed cost for zero win — it made the round-4 driver bench time
    * out. At real scale this is the knob a deployment sizes UP with data
    * volume; here it is scoped to the stream only (batch queries keep the
    * session setting). Unset, the bench-scale default is in effect, and
    * the JVM says so once.
    */
  private lazy val StreamShufflePartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "SPARK_GRAFT_STREAM_PARTITIONS is unset: stateful streams run on 2 " +
          "shuffle partitions, the bench-scale default; set it to size state " +
          "partitions for real data volumes")
      "2"
    })
  // Default 2 after a same-JVM alternating A/B at sf0.1/32 (4 reps/variant,
  // min/median): q92 4→2 = 2.60/2.79 → 2.39/2.53 s; q95 = 1.93/2.47 →
  // 1.74/1.93 s; q181 (RocksDB) = 1.78/1.94 → 1.58/1.89 s; q224 is a wash
  // (4.94/5.24 vs 4.82/5.39); 2→1 is a wash on q92 (2.32 vs 2.31) and
  // loses all intra-stream parallelism. Per-partition state-store
  // setup/commit is pure fixed cost at bench SF; deployments size UP via
  // the env knob as state volume grows.

  /** Memory-sink wrapper over [[runStagedQuery]]: collect the sink table to
    * a LOCAL frame and drop the named view (which would otherwise leak one
    * driver-resident table per bench/verify invocation).
    */
  private def runStaged(spark: SparkSession, sfDir: String,
      rocksDbState: Boolean = false)(
      agg: DataFrame => DataFrame): DataFrame = {
    val sink = "stream_sink_" + UUID.randomUUID().toString.replace("-", "")
    runStagedQuery(spark, sfDir, rocksDbState)(agg)(
      stream => stream.writeStream
        .format("memory")
        .queryName(sink)
        .outputMode("append")
        .start()) { () =>
      val out = spark.table(sink)
      val rows = out.collect()
      spark.catalog.dropTempView(sink)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }
  }

  /** The staged flush-sentinel parquet file, memoized per raw events schema.
    * The sentinel is a CONSTANT synthetic row (its bytes depend only on the
    * on-disk schema flavor, never on the data), but writing it through a
    * Spark job cost ~0.3 s per streaming entry; the first request per
    * schema writes it once, later requests copy the bytes.
    *
    * The sentinel row's ts must be written in the same raw type the real
    * file uses, or the two parquet files' schemas diverge and the stream
    * read fails (or worse, coerces).
    */
  private val sentinelFiles =
    new java.util.concurrent.ConcurrentHashMap[StructType, java.nio.file.Path]()

  private def rawSentinelFile(spark: SparkSession,
      rawSchema: StructType): java.nio.file.Path =
    sentinelFiles.computeIfAbsent(rawSchema, { _ =>
      val flushTs: Any = rawSchema("ts").dataType match {
        case LongType => FlushTsMicros * 1000L // epoch nanos
        case TimestampNTZType =>
          java.time.LocalDateTime.ofEpochSecond(FlushTsMicros / 1000000L, 0,
            java.time.ZoneOffset.UTC)
        case TimestampType =>
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(FlushTsMicros / 1000000L))
        case other => throw new IllegalStateException(
          s"events.ts raw type $other unsupported — update EventStream.runStaged")
      }
      val sentinelVals = rawSchema.fields.map { f =>
        f.name match {
          case "ts" => flushTs
          case "event_type" => FlushType
          case "value" => 0.0
          case _ if f.dataType == LongType => -1L
          case _ => null
        }
      }
      val sentinel = spark.createDataFrame(
        java.util.List.of(Row(sentinelVals: _*)), rawSchema)
      val out = Files.createTempDirectory("graft_sentinel_memo")
      sentinel.coalesce(1).write.mode("overwrite").parquet(out.toString)
      firstParquet(out)
    })

  private def runStagedQuery(spark: SparkSession, sfDir: String,
      rocksDbState: Boolean = false,
      drain: org.apache.spark.sql.streaming.StreamingQuery => Unit =
        _.processAllAvailable())(
      agg: DataFrame => DataFrame)(
      startSink: DataFrame => org.apache.spark.sql.streaming.StreamingQuery)(
      readResult: () => DataFrame): DataFrame = {
    // Stream-read with the RAW on-disk schema (long nanos in old driver data,
    // TIMESTAMP_NTZ micros in round-5+ data) and run it through the same
    // type-driven normalization as the batch path — one place tracks driver
    // data-format drift for both. The round-5 event-time collapse came from
    // this method hardcoding the nanos assumption; Tables.df's sanity assert
    // (max real ts > 2000-01-01, evaluated below before staging) now fails
    // loudly on any future drift instead.
    Tables.df(spark, sfDir, "events") // triggers the memoized drift assert
    val rawSchema = Tables.rawEvents(spark, sfDir).schema

    // stage a stream directory: the real file (linked, not copied) plus the
    // one-row sentinel file
    val dir = Files.createTempDirectory("graft_stream")
    val src = Paths.get(s"$sfDir/events.parquet")
    try Files.createSymbolicLink(dir.resolve("events.parquet"), src)
    catch { case _: UnsupportedOperationException | _: java.io.IOException =>
      Files.copy(src, dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    Files.copy(rawSentinelFile(spark, rawSchema), dir.resolve("sentinel.parquet"))

    val stream = agg(Tables.normalizeTs(spark.readStream
        .schema(rawSchema)
        .parquet(dir.toString))
      .withWatermark("ts", "2 hours")
      // the sentinel must pass THROUGH the watermark node (to advance it)
      // but never reach the aggregation. Filter on the event-time column:
      // Catalyst pushes non-event-time predicates BELOW the watermark node
      // (which would drop the sentinel before it advances the watermark),
      // but never predicates referencing the watermark attribute itself.
      .filter(col("ts") < timestamp_micros(lit(FlushTsMicros))))

    // a streaming query pins its state-store partitioning (and provider)
    // from these confs at start; scope the stream-sized values to the
    // start call and restore the session's batch settings right after.
    // transformWithState requires the RocksDB provider (its multi-column-
    // family state layout is not supported by the default HDFS-backed
    // store), so that stream opts in per-query.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set("spark.sql.shuffle.partitions", StreamShufflePartitions)
    if (rocksDbState) {
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    }
    val q =
      try startSink(stream)
      finally {
        spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        if (rocksDbState) {
          prevProvider match {
            case Some(p) => spark.conf.set(providerKey, p)
            case None => spark.conf.unset(providerKey)
          }
        }
      }
    try {
      // default drain: processes the data batch, then the watermark-advance
      // batch that emits + evicts every closed window, before returning
      drain(q)
    } finally {
      q.stop()
      rmTree(dir)
    }
    readResult()
  }

  /** Six-hour windowed totals per event type under Trigger.AvailableNow —
    * the PRODUCTION backfill trigger: the query plans all currently
    * available input, processes it in rate-limited micro-batches, then
    * STOPS ITSELF (processAllAvailable is a test-harness call; AvailableNow
    * is what a scheduled 100 TB catch-up job actually runs, resuming from
    * the checkpoint next launch). The staged dir is fully populated before
    * start, so one AvailableNow run drains data + sentinel and
    * awaitTermination returns on its own.
    */
  def availableNowWindowTotals(spark: SparkSession, sfDir: String): DataFrame = {
    val sink = "stream_sink_" + UUID.randomUUID().toString.replace("-", "")
    runStagedQuery(spark, sfDir,
      drain = q => require(q.awaitTermination(180000L),
        "AvailableNow query must self-terminate"))(src =>
      src.groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("total"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("total")))(stream =>
      stream.writeStream
        .format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()) { () =>
      val out = spark.table(sink)
      val rows = out.collect()
      spark.catalog.dropTempView(sink)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }.orderBy("win_start", "event_type")
  }

  /** Watermarked stream-stream LEFT OUTER join — the outer-join member of
    * the stream-join family (q92 is the inner form): every click, matched
    * to same-user errors within the following hour, clicks with no such
    * error emitted with a NULL error id. Outer results are the part inner
    * joins never exercise: an unmatched left row can only be emitted once
    * the watermark proves no matching right row can still arrive (watermark
    * past click_ts + 1 hour), at which point its join state is evicted —
    * so state stays O(rows per watermark horizon) and every click appears
    * in the output exactly once, matched or not. The flush sentinel drives
    * the watermark past every real interval, so the bounded replay emits
    * all outer rows; the batch LEFT JOIN is an exact oracle (the emitted
    * set is arrival-order-independent).
    */
  def clickErrorLeftJoin(spark: SparkSession, sfDir: String): DataFrame =
    runStaged(spark, sfDir) { src =>
      val clicks = src.filter(typeIs("click"))
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("c_ts"))
      val errors = src.filter(typeIs("error"))
        .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
          col("ts").as("e_ts"))
      clicks.join(errors,
        col("c_user") === col("e_user") &&
          col("e_ts") >= col("c_ts") &&
          col("e_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
        .select(col("click_id"), col("error_id"))
    }.orderBy(col("click_id"), col("error_id").asc_nulls_first)

  /** Watermarked stream-stream RIGHT OUTER join — the mirror of the left
    * form (q187): every error kept, null-padded when no same-user click
    * preceded it within the hour. The unmatched RIGHT side emits once the
    * watermark proves no left row can still arrive (watermark past
    * error_ts, since a matching click must satisfy c_ts >= e_ts - 1h and
    * the left state is held that long), then its state is evicted — the
    * symmetric bounded-state argument to the left join. Oracle: the batch
    * RIGHT JOIN, both engines NULLS FIRST.
    */
  def clickErrorRightJoin(spark: SparkSession, sfDir: String): DataFrame =
    runStaged(spark, sfDir) { src =>
      val clicks = src.filter(typeIs("click"))
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("c_ts"))
      val errors = src.filter(typeIs("error"))
        .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
          col("ts").as("e_ts"))
      clicks.join(errors,
        col("c_user") === col("e_user") &&
          col("e_ts") >= col("c_ts") &&
          col("e_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
        "right_outer")
        .select(col("click_id"), col("error_id"))
    }.orderBy(col("error_id"), col("click_id").asc_nulls_first)

  /** Watermarked stream-stream FULL OUTER join — completes the outer
    * family (q92 inner, q187 left): matched (click, error) pairs plus
    * null-padded rows for BOTH unmatched sides. Each side's unmatched rows
    * emit only once the watermark closes their interval, then their state
    * is evicted — the same bounded-state argument as the left join, applied
    * symmetrically.
    */
  def clickErrorFullJoin(spark: SparkSession, sfDir: String): DataFrame =
    runStaged(spark, sfDir) { src =>
      val clicks = src.filter(typeIs("click"))
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("c_ts"))
      val errors = src.filter(typeIs("error"))
        .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
          col("ts").as("e_ts"))
      clicks.join(errors,
        col("c_user") === col("e_user") &&
          col("e_ts") >= col("c_ts") &&
          col("e_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
        "full_outer")
        .select(col("click_id"), col("error_id"))
    }.orderBy(col("click_id").asc_nulls_first, col("error_id").asc_nulls_first)

  /** Watermarked stream-stream LEFT SEMI join — the existence form: each
    * click emitted AT MOST ONCE, iff some same-user error follows within
    * the hour. Semi joins keep no right-side output state beyond the
    * watermark horizon and short-circuit on first match; the batch EXISTS
    * is an exact oracle.
    */
  def clickErrorSemiJoin(spark: SparkSession, sfDir: String): DataFrame =
    runStaged(spark, sfDir) { src =>
      val clicks = src.filter(typeIs("click"))
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("c_ts"))
      val errors = src.filter(typeIs("error"))
        .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
          col("ts").as("e_ts"))
      clicks.join(errors,
        col("c_user") === col("e_user") &&
          col("e_ts") >= col("c_ts") &&
          col("e_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
        "left_semi")
        .select(col("click_id"))
    }.orderBy("click_id")

  // last-seen kept in epoch MICROS: the driver data is µs-precision and
  // java.sql.Timestamp.getTime would truncate to ms, breaking the
  // hash-exact last_ts comparison against the oracle's MAX(ts)
  case class AuditState(n: Long, cents: Long, lastMicros: Long, timerMs: Long)
  case class Audit(user_id: Long, n_events: Long,
      last_ts: java.sql.Timestamp, total_value: Double)

  /** StatefulProcessor for [[inactivityAudit]]: EVENT-TIME TIMERS — the
    * state primitive the ValueState/ListState/MapState entries (q139, q181,
    * q182) don't touch. Each batch folds the user's events into a running
    * (count, cents, last-seen) state, DELETES the previously registered
    * timer, and re-arms one at last-seen + 6 hours; when the WATERMARK
    * passes that expiry, [[handleExpiredTimer]] fires — emitting the user's
    * audit row and clearing all state. This is the canonical
    * inactivity-triggered emission pattern (session close, cart
    * abandonment, GC of idle keys): output is driven by the absence of
    * input, which no input-row callback can express. State is one 4-field
    * record + one timer per live user — O(keys) forever.
    */
  class InactivityAuditProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, Audit] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    private val GapMs = 6L * 3600 * 1000

    @transient private var st: ValueState[AuditState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[AuditState]("audit",
        Encoders.product[AuditState], TTLConfig.NONE)

    private def epochMicros(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[Audit] = {
      val prior = if (st.exists()) st.get()
        else AuditState(0L, 0L, Long.MinValue, Long.MinValue)
      var n = prior.n
      var cents = prior.cents
      var lastUs = prior.lastMicros
      for (e <- rows) {
        n += 1
        cents += Math.round(e.value * 100.0)
        lastUs = Math.max(lastUs, epochMicros(e.ts))
      }
      // re-arm: drop the previous inactivity deadline, set a fresh one 6h
      // after the newest event seen so far
      if (prior.timerMs != Long.MinValue) getHandle.deleteTimer(prior.timerMs)
      val timerMs = lastUs / 1000L + GapMs
      getHandle.registerTimer(timerMs)
      st.update(AuditState(n, cents, lastUs, timerMs))
      Iterator.empty
    }

    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Audit] = {
      val s = st.get()
      st.clear()
      val t = new java.sql.Timestamp(Math.floorDiv(s.lastMicros, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(s.lastMicros, 1000000L) * 1000L).toInt)
      Iterator.single(Audit(user, s.n, t, s.cents / 100.0))
    }
  }

  /** Per-user lifetime audit emitted on 6 hours of event-time inactivity,
    * via transformWithState with EVENT-TIME timers (TimeMode.EventTime).
    * In the bounded replay every user's last event precedes the flush
    * sentinel by far more than the gap, so exactly one audit fires per
    * user once the sentinel advances the watermark — making the batch
    * per-user aggregate an exact oracle (cents arithmetic, so the total is
    * bit-exact against DECIMAL summation).
    */
  def inactivityAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    runStaged(spark, sfDir, rocksDbState = true) { src =>
      src.select(col("user_id"), col("event_id"), col("ts"), col("value")).as[Ev]
        .groupByKey(_.user_id)
        .transformWithState(new InactivityAuditProcessor,
          TimeMode.EventTime(), OutputMode.Append())
        .toDF()
    }.orderBy("user_id")
  }

  /** The q95 hourly windows computed across MULTIPLE micro-batches — every
    * other staged entry drains in one trigger, so watermark advancement
    * BETWEEN batches (the mechanism that actually bounds state on a live
    * 100 TB stream) would otherwise go unexercised. The events are staged
    * as four time-span files processed oldest-first one per trigger
    * (`maxFilesPerTrigger=1`, modification times set explicitly), so each
    * batch advances the watermark and emits+evicts the windows the previous
    * batches closed; spans are disjoint, so nothing arrives later than the
    * watermark and the multi-batch result equals the batch aggregate
    * exactly. The drain asserts >= 3 data-carrying batches so this can
    * never silently degrade back into a single-trigger replay.
    */
  /** Stage `norm` (event_id, ts, event_type, value) into `nSpans`
    * disjoint time-range files plus a trailing flush-sentinel file inside
    * a fresh directory, modification times pinned so the file stream
    * processes them oldest-first — one file per trigger under
    * `maxFilesPerTrigger=1` gives one micro-batch per span. Spans are
    * disjoint and time-ordered, so nothing ever arrives behind the
    * watermark. Returns (streamDir, scratchDir); caller deletes both.
    */
  private def stageTimeSpanFiles(spark: SparkSession,
      norm: DataFrame, nSpans: Int): (java.nio.file.Path, java.nio.file.Path) = {
    val bounds = norm.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    val (lo, hi) = (bounds.getTimestamp(0).getTime, bounds.getTimestamp(1).getTime)
    val dir = Files.createTempDirectory("graft_mb_stream")
    val tmp = Files.createTempDirectory("graft_mb_tmp")
    val spanMs = (hi - lo) / nSpans + 1
    // ONE partitioned write stages every span file plus the sentinel: the
    // previous per-span `filter().coalesce(1).write` form re-scanned the
    // events table once PER SPAN plus once for the sentinel (5 jobs,
    // ~2.7 s of the entry's time at sf0.1); the span index is integral-ms
    // floor division, identical to the old [sLo, sHi) filters.
    val sentinel = spark.createDataFrame(
      java.util.List.of(Row(-1L,
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(FlushTsMicros / 1000000L)),
        FlushType, 0.0)),
      norm.schema)
    norm.withColumn("__span",
        expr(s"(unix_millis(ts) - ${lo}L) div ${spanMs}L"))
      .unionByName(sentinel.withColumn("__span", lit(99L)))
      .repartition(col("__span"))
      .write.mode("overwrite").partitionBy("__span").parquet(tmp.toString)
    val staged = (0 until nSpans).flatMap { i =>
      val part = tmp.resolve(s"__span=$i")
      // an empty span writes no partition directory — equivalent to the old
      // empty parquet file: a trigger with zero data rows
      if (Files.isDirectory(part))
        Some(Files.move(firstParquet(part), dir.resolve(f"batch_$i%02d.parquet")))
      else None
    } :+ Files.move(firstParquet(tmp.resolve("__span=99")),
      dir.resolve("batch_99_sentinel.parquet"))
    // oldest-first processing order is by modification time: pin it
    staged.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    (dir, tmp)
  }

  /** `Files.list` holds an open directory handle that java.nio requires the
    * caller to close; recursing or moving files while the stream is still
    * open leaks one fd per directory per streaming-entry run. Every listing
    * in this file goes through here so the handle always closes.
    */
  private def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(p)
    try {
      val it = s.iterator()
      val b = Vector.newBuilder[java.nio.file.Path]
      while (it.hasNext) b += it.next()
      b.result()
    } finally s.close()
  }

  private def firstParquet(dir: java.nio.file.Path): java.nio.file.Path =
    listDir(dir).find(_.getFileName.toString.endsWith(".parquet")).get

  /** Move one staged-subset parquet file to `dest`. An EMPTY subset writes
    * no partition directory at all (partitionBy emits only directories for
    * values present in the data), so stagings whose subset can legitimately
    * be empty — no late rows behind the cutoff, a feed with zero events of
    * its type — fall back to writing a zero-row parquet file, preserving
    * the pre-round-10 per-subset semantics (an empty file = a trigger with
    * zero data rows) instead of crashing on firstParquet().get.
    */
  private def moveStagedOrEmpty(spark: SparkSession, schema: StructType,
      part: java.nio.file.Path, dest: java.nio.file.Path): java.nio.file.Path =
    if (Files.isDirectory(part)) Files.move(firstParquet(part), dest)
    else {
      val tmp = Files.createTempDirectory("graft_empty_part")
      try {
        spark.createDataFrame(java.util.List.of[Row](), schema)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        Files.move(firstParquet(tmp), dest)
      } finally rmTree(tmp)
    }

  private def rmTree(p: java.nio.file.Path): Unit = {
    // NOFOLLOW is load-bearing: staged stream dirs contain a SYMLINK to the
    // source events.parquet, and when that source is a directory (any
    // Spark-written dataset, e.g. ScaleGen output — the driver testdata is
    // a single file) a follow-links recursion would delete the LINKED
    // DATA's contents, not just the link. This destroyed /tmp/graft_sf1's
    // events table mid-bench in round 9.
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      listDir(p).foreach(rmTree)
    }
    Files.deleteIfExists(p)
  }

  def multiBatchWindowedCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = Tables.df(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val (dir, tmp) = stageTimeSpanFiles(spark, norm, 4)
    try {
      val sink = "stream_sink_" + UUID.randomUUID().toString.replace("-", "")
      val stream = spark.readStream.schema(norm.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir.toString)
        .withWatermark("ts", "2 hours")
        .filter(col("ts") < timestamp_micros(lit(FlushTsMicros)))
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("total"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("total"))
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", StreamShufflePartitions)
      val q =
        try stream.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      try {
        q.processAllAvailable()
        // the 1-row flush sentinel also registers numInputRows > 0, so a
        // bare >0 count would let the staging silently degrade to 2 real
        // data spans; > 1 excludes exactly the sentinel batch (a 1-row real
        // span would only make this trip EARLY — loud, never silent)
        val dataBatches = q.recentProgress.count(_.numInputRows > 1)
        require(dataBatches >= 3,
          s"multi-batch stream collapsed to $dataBatches data batches — " +
            "maxFilesPerTrigger staging broke")
      } finally q.stop()
      val out = spark.table(sink)
      val rows = out.collect()
      spark.catalog.dropTempView(sink)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
        .orderBy("win_start", "event_type")
    } finally Seq(dir, tmp).foreach(rmTree)
  }

  /** LATE-DATA DROP semantics made observable: the newest three quarters
    * arrive in trigger 1, the flush sentinel in trigger 2 — advancing the
    * watermark past everything and EVICTING all emitted window state —
    * and only THEN does the oldest quarter arrive. Every one of its
    * windows was already emitted-and-evicted, so append's exactly-once
    * contract forces the aggregation to DROP all of it (asserted via
    * numRowsDroppedByWatermark > 0). The ordering matters: probing showed
    * Spark still MERGES late rows whose window state is live (its
    * documented "no guarantee late data is dropped" half) — rejection is
    * only mandatory after eviction, so that is what this entry stages.
    * Oracle: the hourly aggregate over on-time rows only
    * (`ts >= lo + span`), same millisecond cutoff arithmetic.
    */
  def lateDataWindowedCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = Tables.df(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val bounds = norm.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    val (lo, hi) = (bounds.getTimestamp(0).getTime, bounds.getTimestamp(1).getTime)
    val cutoff = new java.sql.Timestamp(lo + ((hi - lo) / 4 + 1))
    val dir = Files.createTempDirectory("graft_late_stream")
    val tmp = Files.createTempDirectory("graft_late_tmp")
    try {
      val sentinelDf = spark.createDataFrame(
        java.util.List.of(Row(-1L,
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(FlushTsMicros / 1000000L)),
          FlushType, 0.0)),
        norm.schema)
      // one partitioned write stages on-time/sentinel/late (was 3 scan+write
      // jobs); partition index preserves the staging order
      norm.withColumn("__p",
          when(col("ts") >= lit(cutoff), 0L).otherwise(2L))
        .unionByName(sentinelDf.withColumn("__p", lit(1L)))
        .repartition(col("__p"))
        .write.mode("overwrite").partitionBy("__p").parquet(tmp.toString)
      val parts = Seq("batch_00.parquet", "batch_01_sentinel.parquet",
        "batch_02_late.parquet")
      val staged = parts.zipWithIndex.map { case (name, i) =>
        moveStagedOrEmpty(spark, norm.schema, tmp.resolve(s"__p=$i"), dir.resolve(name))
      }
      staged.zipWithIndex.foreach { case (p, i) =>
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      }
      val sink = "stream_sink_" + UUID.randomUUID().toString.replace("-", "")
      val stream = spark.readStream.schema(norm.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir.toString)
        .withWatermark("ts", "2 hours")
        .filter(col("ts") < timestamp_micros(lit(FlushTsMicros)))
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n"))
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", StreamShufflePartitions)
      val q =
        try stream.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      try {
        q.processAllAvailable()
        val dropped = q.recentProgress
          .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
        require(dropped > 0,
          "late-data entry must actually drop rows behind the watermark — " +
            "staging order broke (no rows were late)")
      } finally q.stop()
      val out = spark.table(sink)
      val rows = out.collect()
      spark.catalog.dropTempView(sink)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
        .orderBy("win_start", "event_type")
    } finally Seq(dir, tmp).foreach(rmTree)
  }

  /** Incrementally-maintained DAY ROLLUP: UPDATE-mode windowed aggregation
    * over the multi-batch staged stream, delivered through foreachBatch
    * with DYNAMIC PARTITION OVERWRITE into a day-partitioned parquet table
    * — the materialized-view maintenance pattern for 100 TB rollups. Each
    * trigger re-emits the day rows it changed (update mode), and the write
    * restates exactly those day partitions idempotently (a replayed or
    * re-updated day overwrites itself; untouched days are never rewritten).
    * After the final trigger the table equals the batch day aggregate —
    * which is the oracle — while each intermediate state was itself a
    * consistent partial rollup, queryable mid-stream.
    */
  def incrementalDayRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = Tables.df(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val (dir, tmp) = stageTimeSpanFiles(spark, norm, 4)
    val target = Files.createTempDirectory("graft_rollup_target")
    val ckpt = Files.createTempDirectory("graft_rollup_ckpt")
    try {
      val stream = spark.readStream.schema(norm.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir.toString)
        .withWatermark("ts", "2 hours")
        .filter(col("ts") < timestamp_micros(lit(FlushTsMicros)))
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("total"))
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("total"))
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", StreamShufflePartitions)
      val q =
        try stream.writeStream
          .outputMode("update")
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            // No isEmpty guard: a foreachBatch DataFrame re-runs the whole
            // micro-batch plan (stateful agg included) on EVERY action, so
            // the guard's take(1) doubled each data trigger's execution
            // (probe: addBatch 0.7-1.9 s/trigger, ~half of it the guard).
            // An empty batch under DYNAMIC overwrite touches no partitions
            // (only partitions present in the data are restated), so the
            // unconditional write is a cheap no-op job on the sentinel
            // trigger and exactly one execution on data triggers.
            //
            // partition granularity == update-key granularity: update
            // mode emits only CHANGED (day, type) aggregates, so the
            // overwrite must restate exactly those cells — partitioning
            // by day alone would wipe a day's unchanged sibling types.
            // No repartition before the write: (day, event_type) IS the
            // aggregation key, so each cell already lives in exactly one
            // state partition — the direct write keeps one file per cell,
            // writer parallelism = the state-partition knob that scales
            // with deployment size, and each trigger saves a full exchange
            // of the update set (same-JVM alternating A/B, 4 reps:
            // min 5.35 s vs 6.11 s, median 5.79 vs 6.30 with the exchange)
            batch
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("day", "event_type")
              .parquet(target.toString)
            ()
          }
          .start()
        finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      try {
        q.processAllAvailable()
        // > 1, not > 0: the 1-row flush sentinel must not count as a data span
        val dataBatches = q.recentProgress.count(_.numInputRows > 1)
        require(dataBatches >= 3,
          s"incremental rollup collapsed to $dataBatches data batches")
      } finally q.stop()
      val read = spark.read.parquet(target.toString)
        .select(col("day").cast(StringType).as("day"), col("event_type"),
          col("n"), col("total"))
      val rows = read.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), read.schema)
        .orderBy("day", "event_type")
    } finally Seq(dir, tmp, target, ckpt).foreach(rmTree)
  }

  /** UNION of two independent file streams — the multi-source streaming
    * DAG (a production topology ingests clicks and errors from separate
    * feeds): each side is its own `readStream` over its own staged
    * directory with its own flush sentinel, the union happens in the
    * streaming plan, and ONE downstream watermark + hourly window
    * aggregates across both feeds. The watermark over a union advances
    * with the MINIMUM of the sides (Spark's multi-source semantics), so
    * both sentinels are required — one lagging feed correctly holds
    * results back rather than emitting windows its sibling might still
    * fill. Oracle: the batch hourly aggregate over the same two types.
    */
  def unionTypedStreams(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = Tables.df(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    // one partitioned write stages both feeds and both per-feed flush
    // sentinels (was 4 scan+write jobs); each feed directory is complete
    // before any stream starts, preserving the original ordering guarantee
    val tmpU = Files.createTempDirectory("graft_union_tmp")
    val sentinel = spark.createDataFrame(
      java.util.List.of(Row(-1L,
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(FlushTsMicros / 1000000L)),
        FlushType, 0.0)),
      norm.schema)
    norm.filter(col("event_type").isin("click", "error"))
      .withColumn("__part", concat(col("event_type"), lit("_data")))
      .unionByName(sentinel.withColumn("__part", lit("click_sent")))
      .unionByName(sentinel.withColumn("__part", lit("error_sent")))
      .repartition(col("__part"))
      .write.mode("overwrite").partitionBy("__part").parquet(tmpU.toString)
    val dirs = Seq("click", "error").map { t =>
      val dir = Files.createTempDirectory(s"graft_union_$t")
      moveStagedOrEmpty(spark, norm.schema, tmpU.resolve(s"__part=${t}_data"),
        dir.resolve("data.parquet"))
      Files.move(firstParquet(tmpU.resolve(s"__part=${t}_sent")),
        dir.resolve("sentinel.parquet"))
      dir
    }
    try {
      val sink = "stream_sink_" + UUID.randomUUID().toString.replace("-", "")
      val sides = dirs.map(d =>
        spark.readStream.schema(norm.schema).parquet(d.toString))
      val unioned = sides.reduce(_ union _)
        .withWatermark("ts", "2 hours")
        .filter(col("ts") < timestamp_micros(lit(FlushTsMicros)))
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n"))
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", StreamShufflePartitions)
      val q =
        try unioned.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      try q.processAllAvailable() finally q.stop()
      val out = spark.table(sink)
      val rows = out.collect()
      spark.catalog.dropTempView(sink)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
        .orderBy("win_start", "event_type")
    } finally (dirs :+ tmpU).foreach(rmTree)
  }

  /** Windowed aggregation delivered through foreachBatch to an
    * EPOCH-ADDRESSED parquet layout — the production file-sink pattern the
    * memory-sink entries can't exercise: each micro-batch lands in its own
    * `epoch=N` directory with mode("overwrite"), so a replayed epoch (the
    * at-least-once delivery case after recovery) overwrites its own
    * directory instead of duplicating rows — idempotence by addressing,
    * which is exactly how exactly-once file output is built in practice.
    * Append mode means each closed day-window row passes through
    * foreachBatch once; the read-back unions the epoch directories via
    * partition discovery and drops the epoch column. The batch day-bucket
    * aggregate is an exact oracle.
    */
  def dailyTypeTotals(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = Files.createTempDirectory("graft_fb_sink")
    val ckpt = Files.createTempDirectory("graft_fb_ckpt")
    try {
      runStagedQuery(spark, sfDir)(src =>
        src.groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("total"))
          .select(col("window.start").as("day_start"), col("event_type"),
            col("n"), col("total")))(stream =>
        stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch { (batch: DataFrame, epochId: Long) =>
            batch.write.mode("overwrite").parquet(s"$outDir/epoch=$epochId")
            ()
          }
          .start()) { () =>
        val read = spark.read.parquet(outDir.toString).drop("epoch")
        val rows = read.collect()
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), read.schema)
      }.orderBy("day_start", "event_type")
    } finally Seq(outDir, ckpt).foreach(rmTree)
  }
}
