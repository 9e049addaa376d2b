package graft.perfbench

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.pg.server.PgWireServer

/** Where a run keeps its files: generated data (shared by runs) and a
  * scratch directory of its own (warehouse, Spark local dirs, temp files).
  */
final case class Dirs(data: String, scratch: String) {
  def sf(name: String): String = s"$data/$name"
}

/** The graft process under test: a local SparkSession set up the way the
  * shipped entry points set it up, plus (for wire workloads) the catalog
  * tables and an in-process PgWireServer on an ephemeral port.
  */
object Env {
  val Cpus: Int = Runtime.getRuntime.availableProcessors()

  /** `wire` mirrors `graft.pg.server.Serve`; the library session mirrors
    * `graft.Bench` (which sizes the generated-class cache for a battery).
    */
  def session(dirs: Dirs, wire: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${dirs.scratch}/warehouse")
      .config("spark.local.dir", s"${dirs.scratch}/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"${dirs.scratch}/checkpoints")
    if (!wire) b.config("spark.sql.codegen.cache.maxEntries", "10000")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Catalog tables over the generated data, exactly as `BenchWire` sets
    * them up, plus an empty COPY sink; then the server.
    */
  def wire(dirs: Dirs, sfDir: String): (SparkSession, PgWireServer) = {
    val spark = session(dirs, wire = true)
    Tables.all.foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS $n")
      spark.sql(s"CREATE TABLE $n USING parquet LOCATION '$sfDir/$n.parquet'")
    }
    Tables.views(spark, sfDir)
    spark.sql("DROP TABLE IF EXISTS bench_sink")
    spark.sql("CREATE TABLE bench_sink (k BIGINT, v DOUBLE, s STRING) USING parquet")
    val server = new PgWireServer(spark, port = 0, workerThreads = Cpus)
    server.start()
    (spark, server)
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def hex(md: MessageDigest): String = md.digest().map("%02x".format(_)).mkString

  /** Row count and MD5 of the DataRow payloads the server must send for
    * `df`, rendered in-process through graft's own RowCodec (the direct
    * path `graft.BenchWire` checks the wire against).
    */
  def directDigest(df: DataFrame, binary: Boolean): (Long, String) = {
    val schema = df.schema
    val formats = schema.fields.map(f => binary &&
      graft.pg.wire.PgTypes.binaryCapable(f.dataType) &&
      f.dataType != org.apache.spark.sql.types.StringType).toSeq
    val writer = graft.pg.wire.RowCodec.rowWriter(schema, formats)
    val md = MessageDigest.getInstance("MD5")
    var buf = ByteBuffer.allocate(1 << 16)
    var n = 0L
    org.apache.spark.sql.graft.Internals.executeToIterator(df).foreach { r =>
      var done = false
      while (!done) {
        buf.clear()
        try {
          buf.putShort(schema.length.toShort)
          writer(r, buf)
          done = true
        } catch {
          case _: java.nio.BufferOverflowException =>
            buf = ByteBuffer.allocate(buf.capacity() * 2)
        }
      }
      md.update(buf.array(), 0, buf.position())
      n += 1
    }
    (n, hex(md))
  }
}
