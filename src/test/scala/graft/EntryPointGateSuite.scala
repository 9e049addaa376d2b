package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source gate on the local entry points: one session factory, a fixed
  * set of mains, no JVM system properties and one place that builds a
  * task context in `src/main/scala`, and one PG wire client for the
  * server suites. A new builder, probe main,
  * property hook or private client has to change this list in the open
  * rather than slip in beside the ones that were folded away.
  */
class EntryPointGateSuite extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(Path, String)] = scalaFiles(root)

  private def scalaFiles(dir: Path): Seq[(Path, String)] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), UTF_8))
    finally s.close()
  }

  private def filesMatching(needle: String): Set[String] =
    sources.collect { case (p, text) if text.contains(needle) => p.getFileName.toString }.toSet

  test("the sources are found") {
    assert(sources.exists(_._1.getFileName.toString == "LocalSpark.scala"),
      s"no LocalSpark.scala under ${root.toAbsolutePath}")
  }

  test("SparkSession.builder appears only in LocalSpark and Serve") {
    val outside = filesMatching("SparkSession.builder") -- Set("LocalSpark.scala", "Serve.scala")
    assert(outside.isEmpty, s"build the session through graft.LocalSpark instead: $outside")
  }

  test("no JVM system property is read or set") {
    val hits = Seq("sys.props", "System.getProperty", "System.setProperty")
      .flatMap(n => filesMatching(n).map(f => s"$f: $n"))
    assert(hits.isEmpty, s"use an env var or a Spark conf instead: $hits")
  }

  test("no session temp view is created under graft.pg") {
    val hits = Seq("createOrReplaceTempView", "createTempView").flatMap(n =>
      sources.collect { case (p, text) if p.startsWith(root.resolve("graft/pg")) &&
        text.contains(n) => s"${p.getFileName}: $n" })
    assert(hits.isEmpty, s"the pg_catalog relations are resolved by PgParserInterface: $hits")
  }

  test("the wire server converts no values through Spark beside ParamCodec") {
    val hits = Seq("CatalystTypeConverters", "createDataFrame", ".cast(", "Cast(").flatMap(n =>
      sources.collect { case (p, text) if p.startsWith(root.resolve("graft/pg/server")) &&
        text.contains(n) => s"${p.getFileName}: $n" })
    assert(hits.isEmpty, s"decode PG values through graft.pg.wire.ParamCodec: $hits")
  }

  test("one walk enters CTE bodies under graft.pg") {
    val hits = sources.collect { case (p, text) if p.startsWith(root.resolve("graft/pg")) &&
      text.contains("cteRelations") => p.getFileName.toString }
    assert(hits.size === 1, s"walk a statement with PgDialect.transformPlans: $hits")
  }

  test("the PG layer is installed once, through PgExtensions") {
    def under(dir: String, needles: Seq[String]): Seq[String] = needles.flatMap(n =>
      sources.collect { case (p, text) if p.startsWith(root.resolve(dir)) &&
        text.contains(n) => s"${p.getFileName}: $n" })
    val registered = under("graft/pg", Seq("udf.register", "registerExprFunction"))
    assert(registered.isEmpty, s"add PG functions to PgFunctions.all: $registered")
    val parsers = under("", Seq("new PgParserInterface"))
      .filterNot(_.startsWith("PgParser.scala:"))
    assert(parsers.isEmpty, s"parse with the session's own parser: $parsers")
    val perConnection = under("graft/pg/server", Seq("PgCatalog.register", "PgFunctions.register"))
    assert(perConnection.isEmpty, s"the server installs PgExtensions once: $perConnection")
  }

  test("a task context is built only in Internals") {
    val hits = Seq("TaskContextImpl", "TaskMemoryManager", "registerTask").flatMap(n =>
      (filesMatching(n) - "Internals.scala").map(f => s"$f: $n"))
    assert(filesMatching("TaskContextImpl") === Set("Internals.scala"), "the scan is broken")
    assert(hits.isEmpty, s"compute partitions through Internals.handlerThreadRows: $hits")
  }

  test("SPARK_GRAFT_CPUS is read only in LocalSpark") {
    val outside = filesMatching("\"SPARK_GRAFT_CPUS\"") - "LocalSpark.scala"
    assert(outside.isEmpty, s"use graft.LocalSpark.cpus instead: $outside")
  }

  test("mains are the bench, verify and server entry points only") {
    val allowed = Set("Bench", "BenchWire", "BenchWireConc", "PlanDump", "ScaleGen",
      "Verify", "Serve")
    val objectDecl = """\bobject\s+(\w+)""".r
    val mains = sources.flatMap { case (p, text) =>
      val objects = objectDecl.findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
      // a main belongs to the nearest object declared before it
      val defs = """\bdef\s+main\s*\(""".r.findAllMatchIn(text).map(_.start).toSeq
        .flatMap(at => objects.filter(_._1 < at).lastOption.map(_._2))
      val apps = """\bobject\s+(\w+)\s+extends\s+App\b""".r.findAllMatchIn(text).map(_.group(1))
      (defs ++ apps).map(o => s"${p.getFileName}: $o")
    }
    assert(mains.nonEmpty, "no main found at all: the scan is broken")
    val extra = mains.filterNot(m => allowed(m.split(": ").last))
    assert(extra.isEmpty, s"mains outside $allowed: $extra")
  }

  test("only WireClient opens a socket or writes a V3 startup in the server suites") {
    val suites = scalaFiles(Paths.get("src/test/scala/graft/pg/server"))
    assert(suites.exists(_._1.getFileName.toString == "WireClient.scala"),
      "no WireClient.scala: the scan is broken")
    val hits = Seq("new Socket(", "new java.net.Socket(", "196608").flatMap(n =>
      suites.collect { case (p, text) if p.getFileName.toString != "WireClient.scala" &&
        text.contains(n) => s"${p.getFileName}: $n" })
    assert(hits.isEmpty, s"talk to the server through WireClient: $hits")
  }
}
