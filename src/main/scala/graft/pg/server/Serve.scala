package graft.pg.server

import org.apache.spark.sql.SparkSession

/** Standalone server launcher: `sbt "runMain graft.pg.server.Serve [port]"`,
  * then connect with `psql -h 127.0.0.1 -p <port>`. The reference equivalent
  * is sbin/start-sql-server.sh (SQLServer.scala main).
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(5432)
    val cpus = graft.LocalSpark.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-sql-server")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // HA active/standby (reference SQLServer.scala:209-237): with
    // recoveryMode=ZOOKEEPER every instance joins a leader election and
    // only the elected leader binds the port; losing leadership exits -1
    // so a standby takes over.
    if (spark.conf.get("spark.graft.server.recoveryMode", "") == "ZOOKEEPER") {
      val zkUrl = spark.conf.get("spark.graft.server.zookeeper.url")
      val ha = new HaLeaderElection(zkUrl)
      ha.start()
      // scalastyle:off println
      println(s"HA mode: waiting for leader election via $zkUrl")
      // scalastyle:on println
      ha.awaitLeadership()
    }
    // TLS / auth / session-mode come from spark.graft.server.* confs
    // (set via --conf or spark-defaults); defaults are trust + multi-session
    val server = new PgWireServer(spark, port, config = PgServerConfig.fromConf(spark))
    server.start()
    // scalastyle:off println
    println(s"graft PG server listening on ${server.boundPort}")
    // scalastyle:on println
    Thread.currentThread().join()
  }
}
