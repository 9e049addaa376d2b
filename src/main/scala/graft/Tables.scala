package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Access to the driver-generated parquet tables (see /root/repo/TESTDATA.md).
  *
  * All operators read through here so that schema quirks are handled in one
  * place. Reads are plain `spark.read.parquet` so Catalyst keeps predicate
  * pushdown / column pruning on the scans.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The driver's `events.parquet` has shipped `ts` in two on-disk formats so
    * far — parquet TIMESTAMP(NANOS) (rounds ≤4) and TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false (round 5+, which Spark reads as TIMESTAMP_NTZ).
    * Normalize BY ACTUAL TYPE so every downstream operator sees a plain
    * session-zone TimestampType column regardless of which format the driver
    * generated:
    *  - LongType: the nanos escape hatch fired — exact long division to µs
    *    (a double `/` would lose 1µs on ~12% of rows; nanos ~1.7e18 > 2^53).
    *  - TimestampNTZType: every entrypoint (Bench/Verify/Serve/tests) pins
    *    `spark.sql.session.timeZone=UTC`, so the cast is a value-preserving
    *    wall-clock reinterpretation.
    * Silently mishandling a third future format is how round 5 lost its whole
    * event-time family, so [[assertSaneEventTime]] (memoized per dir in
    * [[df]]) fails loudly rather than letting 1970-range values flow on.
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Loud format-drift tripwire: all driver-generated event data lives well
    * after 2000-01-01; a mis-scaled read collapses into 1970. Run once per
    * events dir per JVM (from [[df]]) and by the drift regression suite.
    */
  def assertSaneEventTime(df: DataFrame): Unit = {
    val schema = df.schema("ts").dataType
    require(schema == TimestampType,
      s"events.ts normalized to $schema, expected TimestampType — " +
        "driver data format drifted; update Tables.normalizeTs")
    val row = df.agg(max(unix_micros(col("ts")))).head()
    require(!row.isNullAt(0),
      "events table has no rows — cannot sanity-check event time")
    val maxTs = row.getLong(0)
    require(maxTs > 946684800000000L, // 2000-01-01T00:00Z in µs
      s"events.ts max is ${java.time.Instant.ofEpochMilli(maxTs / 1000)} — " +
        "event time collapsed (mis-scaled read); update Tables.normalizeTs")
  }

  private val saneDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // Memoized analyzed relations per (session, path). `spark.read.parquet`
  // re-lists the path and re-infers the schema from footers on EVERY call
  // (~85 ms each, a small Spark job): across a 383-entry bench/verify run
  // reading the same ten immutable tables that was pure per-entry fixed
  // cost. A DataFrame is an immutable plan, so handing the same one out is
  // metadata reuse (exactly what a catalog table provides), never data or
  // result caching.
  //
  // Keyed by sessionUUID, NOT a weak session key: the cached DataFrames
  // strongly reference their SparkSession (Dataset.sparkSession), so a
  // WeakHashMap's keys could never be collected — the round-10 form pinned
  // every per-connection session for the JVM's lifetime. Lifetime is now
  // explicit instead: the wire server calls [[invalidate]] when it closes a
  // per-connection session, and an LRU bound caps what any other
  // session-churning caller can pin (eviction of a live session only costs
  // a rebuild — this is a pure metadata memo).
  private val MaxCachedSessions = 64
  private val dfCache =
    new java.util.LinkedHashMap[String,
        java.util.concurrent.ConcurrentHashMap[String, DataFrame]](
        16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String,
            java.util.concurrent.ConcurrentHashMap[String, DataFrame]]): Boolean =
        size() > MaxCachedSessions
    }

  // Session identity WITHOUT pinning the session: values are plain strings
  // (no back-reference to the key), so weak keys genuinely collect here.
  private val sessionIds =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  private def idOf(spark: SparkSession): String = sessionIds.synchronized {
    sessionIds.computeIfAbsent(spark,
      _ => java.util.UUID.randomUUID().toString)
  }

  /** Drop a closed session's memoized relations (wire server: one isolated
    * session per connection — without this the memo would pin each one).
    */
  def invalidate(spark: SparkSession): Unit =
    dfCache.synchronized { dfCache.remove(idOf(spark)); () }

  private def cached(spark: SparkSession, key: String)(
      build: => DataFrame): DataFrame = {
    val m = dfCache.synchronized {
      val id = idOf(spark)
      var inner = dfCache.get(id)
      if (inner == null) {
        inner = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        dfCache.put(id, inner)
      }
      inner
    }
    // NOT computeIfAbsent: building the events entry re-enters this method
    // for the raw-events key, and nested computeIfAbsent on one
    // ConcurrentHashMap throws "Recursive update". A racy double build is
    // harmless (both values are equivalent immutable plans; putIfAbsent
    // keeps the first).
    val existing = m.get(key)
    if (existing != null) existing
    else {
      val built = build
      val prev = m.putIfAbsent(key, built)
      if (prev != null) prev else built
    }
  }

  def df(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    if (name == "events") {
      cached(spark, path) {
        val norm = normalizeTs(rawEvents(spark, sfDir))
        // one cheap max() scan per dir per JVM — the price of never again
        // silently shipping a 1000x-dilated event-time family
        if (saneDirs.add(path)) {
          try assertSaneEventTime(norm)
          catch { case e: Throwable => saneDirs.remove(path); throw e }
        }
        norm
      }
    } else cached(spark, path)(spark.read.parquet(path))
  }

  /** The events table as Spark reads it off disk, pre-normalization: nanos
    * files surface `ts` as LongType (via the legacy escape hatch), micros/NTZ
    * files as TimestampNTZType. The streaming path reads with this schema so
    * both paths share one normalization and drift together.
    */
  private[graft] def rawEvents(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, s"raw:$sfDir/events.parquet") {
      // Deterministically opt into the long-nanos read rather than
      // try/catch-ing (which would mask unrelated read failures).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$sfDir/events.parquet")
    }

  /** What a wire bench serves: bare-name catalog TABLES, so the server's
    * per-connection newSession() clones (shared external catalog, isolated
    * temp views) resolve the same tables a metastore-registered deployment
    * would, then the temp views (direct path) and main.* tables (CTE
    * shadow texts) of [[views]]. TABLE, not VIEW: a catalog view re-expands
    * to parquet.`path` on every analysis — file re-listing + footer schema
    * re-inference per referenced table per query, ~0.8s of pure fixed cost
    * on an 8-table TPC-H text — while a catalog table's resolved relation
    * lands in the session's relation cache after first use. The temp views
    * come AFTER the tables: DROP TABLE resolves (and would drop) a
    * same-named temp view first.
    */
  def serve(spark: SparkSession, sfDir: String): Unit = {
    all.foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS $n")
      spark.sql(s"CREATE TABLE $n USING parquet LOCATION '$sfDir/$n.parquet'")
    }
    views(spark, sfDir)
  }

  // weak keys: long-lived servers create a session per connection — a
  // strong map would pin every closed session's state in memory forever
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.util.Set[String]]())

  /** Register all tables as temp views (idempotent per session+dir) so that
    * SQL-text operators can refer to them by name.
    */
  def views(spark: SparkSession, sfDir: String): Unit = {
    val dirs = registered.computeIfAbsent(spark,
      _ => new java.util.HashSet[String]())
    // synchronized so a concurrent caller never returns before the winner
    // has finished creating every view
    dirs.synchronized {
      if (dirs.add(sfDir)) try {
        all.foreach(n => df(spark, sfDir, n).createOrReplaceTempView(n))
        // Schema-qualified aliases: a query whose CTE must SHADOW a base
        // table name (TPC-H Q12/Q22 derive the spec columns the driver data
        // lacks in a CTE named after the table) needs a way to reference the
        // underlying data from inside that CTE — DuckDB rejects the bare
        // name as a circular CTE reference and resolves `main.<table>`
        // instead (its default schema). Registering the same qualifier here
        // lets the IDENTICAL query text bind in both engines. Catalog
        // objects cannot reference temp views, so these go straight to the
        // parquet path (events' ts-format normalization is temp-view-only —
        // no main.* consumer may rely on events.ts). EXTERNAL TABLES, not
        // views: resolving a `parquet.<path>` view re-lists and re-infers
        // the parquet schema on EVERY reference (~80 ms each — ~0.3 s of
        // pure analysis per DS-battery query, which references 3-4 main.*
        // tables), while catalog tables hit the session's relation cache
        // (~5 ms warm). Same rows, same schema.
        // CREATE DATABASE mkdirs under spark.sql.warehouse.dir (the cwd by
        // default) — in a read-only cwd that throws, so degrade to
        // temp-view-only operation rather than failing EVERY entry: only
        // the main.*-qualified consumers (TPC-H Q12/Q22, the DS battery)
        // lose service, and they fail loudly at their own query time.
        try {
          spark.sql("CREATE DATABASE IF NOT EXISTS main")
          all.foreach { n =>
            // re-registration repoints main.* at a NEW dir: drop first
            // (CREATE TABLE has no OR REPLACE in the v1 catalog); the
            // DROP VIEW fallback migrates any view left by older code
            try spark.sql(s"DROP TABLE IF EXISTS main.$n")
            catch { case _: Exception =>
              spark.sql(s"DROP VIEW IF EXISTS main.$n")
            }
            spark.sql(s"CREATE TABLE main.$n USING parquet " +
              s"LOCATION '$sfDir/$n.parquet'")
          }
        } catch {
          case e: Exception =>
            // scalastyle:off println
            System.err.println(
              s"graft: main.* catalog views unavailable (${e.getMessage}); " +
                "temp views remain registered")
            // scalastyle:on println
        }
      } catch {
        // a temp-view registration failure must not leave the dir marked
        // registered — the next caller would then silently run with NO
        // views (this turned one transient failure into 277 cascading
        // TABLE_OR_VIEW_NOT_FOUND entries in a round-10 bench run)
        case e: Throwable => dirs.remove(sfDir); throw e
      }
    }
  }
}
