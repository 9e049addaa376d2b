package graft.pg.server

import java.nio.file.Files

import scala.sys.process._

import graft.TestSpark

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** e2e for the server ops rim: TLS (SSLRequest 'S' + SslHandler), cleartext
  * password auth (accept + reject), session execution modes (single shares
  * temp views, multi isolates), and the per-statement scheduler pool.
  * Mirrors reference protocol.scala:929-953 (SSL), :703-760 (password),
  * SparkSQLServiceManager.scala:107-133 (modes), PgJdbcSuite.scala:1283-1329
  * (shared-temp-view workflow).
  */
class PgTlsAuthSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var tlsServer: PgWireServer = _
  private var authServer: PgWireServer = _
  private var singleServer: PgWireServer = _
  private var md5Server: PgWireServer = _
  private var scramServer: PgWireServer = _
  private var keystore: String = _

  override def beforeAll(): Unit = {
    // self-signed server cert; psql sslmode=require encrypts but does not
    // verify the chain, so no client truststore is needed
    val dir = Files.createTempDirectory("graft-tls")
    keystore = dir.resolve("server.p12").toString
    val rc = Seq("keytool", "-genkeypair", "-alias", "pg", "-keyalg", "RSA",
      "-keysize", "2048", "-validity", "3650", "-keystore", keystore,
      "-storetype", "PKCS12", "-storepass", "graftpass",
      "-dname", "CN=localhost").!
    assert(rc === 0, "keytool must generate the test keystore")

    tlsServer = new PgWireServer(TestSpark.spark, port = 0,
      config = PgServerConfig(
        sslKeyStorePath = Some(keystore), sslKeyStorePassword = "graftpass"))
    tlsServer.start()

    authServer = new PgWireServer(TestSpark.spark, port = 0,
      config = PgServerConfig(
        authenticator = Some((u, p) => u == "graft" && p == "sekrit")))
    authServer.start()

    singleServer = new PgWireServer(TestSpark.spark, port = 0,
      config = PgServerConfig(singleSession = true))
    singleServer.start()

    md5Server = new PgWireServer(TestSpark.spark, port = 0,
      config = PgServerConfig(
        md5Lookup = Some(u => if (u == "graft") Some("sekrit") else None)))
    md5Server.start()

    scramServer = new PgWireServer(TestSpark.spark, port = 0,
      config = PgServerConfig(
        scramLookup = Some(u => if (u == "graft") Some("sekrit") else None)))
    scramServer.start()
  }

  override def afterAll(): Unit = {
    Seq(tlsServer, authServer, singleServer, md5Server, scramServer)
      .filter(_ != null).foreach(_.stop())
  }

  private def psql(port: Int, sslmode: String, sql: String,
      password: String = ""): (Int, String) = {
    val out = new StringBuilder
    val cmd = Seq("psql",
      s"host=127.0.0.1 port=$port dbname=default user=graft sslmode=$sslmode",
      "-At", "-c", sql)
    val env = if (password.nonEmpty) Seq("PGPASSWORD" -> password) else Seq.empty
    val rc = Process(cmd, None, env: _*)
      .!(ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    (rc, out.toString.trim)
  }

  test("GSSENCRequest answers 'N' and the connection proceeds in clear") {
    // libpq sends this probe FIRST whenever the client machine has a
    // Kerberos ticket (gssencmode=prefer default); a GSS-less PG answers
    // 'N' and the client falls back (docs/adr/0001-gssapi-descope.md)
    val c = new WireClient(authServer.boundPort, 15000)
    try {
      c.write(c.i32(8) ++ c.i32(80877104)) // GSSENCRequest
      assert(c.readByte() === 'N', "GSS-less server must answer 'N'")
      // client falls back to a clear startup packet on the SAME socket
      c.startup(Seq("user" -> "graft", "database" -> "default"))
      // cleartext-auth server: first reply must be AuthenticationCleartextPassword
      val tpe = c.read()._1
      assert(tpe === 'R', s"startup must proceed to the auth exchange, got '$tpe'")
    } finally c.close()
  }

  test("psql with sslmode=require connects and queries over TLS") {
    val (rc, out) = psql(tlsServer.boundPort, "require", "SELECT 41 + 1")
    assert(rc === 0, s"TLS connection failed: $out")
    assert(out === "42")
  }

  test("TLS server still serves cleartext clients (sslmode=disable)") {
    val (rc, out) = psql(tlsServer.boundPort, "disable", "SELECT 7")
    assert(rc === 0, s"cleartext fallback failed: $out")
    assert(out === "7")
  }

  test("sslmode=require against a TLS-less server is refused by the client") {
    val (rc, _) = psql(authServer.boundPort, "require", "SELECT 1",
      password = "sekrit")
    assert(rc !== 0, "client must refuse when the server answers 'N'")
  }

  test("correct password authenticates") {
    val (rc, out) = psql(authServer.boundPort, "disable", "SELECT 'in'",
      password = "sekrit")
    assert(rc === 0, s"auth failed: $out")
    assert(out === "in")
  }

  test("wrong password is rejected with 28P01") {
    val (rc, out) = psql(authServer.boundPort, "disable", "SELECT 1",
      password = "wrong")
    assert(rc !== 0)
    assert(out.contains("password authentication failed"), s"got: $out")
  }

  test("single-session mode: temp views are shared across connections") {
    val (rc1, _) = psql(singleServer.boundPort, "disable",
      "CREATE OR REPLACE TEMPORARY VIEW t_shared AS SELECT 99 AS v")
    assert(rc1 === 0)
    val (rc2, out) = psql(singleServer.boundPort, "disable",
      "SELECT v FROM t_shared")
    assert(rc2 === 0, s"second connection must see the view: $out")
    assert(out === "99")
  }

  test("md5 challenge-response: psql authenticates without sending cleartext") {
    val (rc, out) = psql(md5Server.boundPort, "disable", "SELECT 'md5ok'",
      password = "sekrit")
    assert(rc === 0, s"md5 auth failed: $out")
    assert(out.contains("md5ok"))
  }

  test("md5: wrong password and unknown user are rejected with 28P01") {
    val (rc, out) = psql(md5Server.boundPort, "disable", "SELECT 1",
      password = "wrong")
    assert(rc !== 0)
    assert(out.contains("password authentication failed"), s"got: $out")
    // PgMd5 scheme self-check: hex(md5) double hash with the salt appended
    val expect = PgMd5.response("u", "p", Array[Byte](1, 2, 3, 4))
    assert(expect.startsWith("md5") && expect.length === 35)
  }

  test("SCRAM-SHA-256: psql completes the SASL exchange and queries") {
    val (rc, out) = psql(scramServer.boundPort, "disable", "SELECT 'scramok'",
      password = "sekrit")
    assert(rc === 0, s"scram auth failed: $out")
    assert(out.contains("scramok"))
  }

  test("SCRAM-SHA-256: wrong password fails the proof with 28P01") {
    val (rc, out) = psql(scramServer.boundPort, "disable", "SELECT 1",
      password = "wrong")
    assert(rc !== 0)
    assert(out.contains("password authentication failed"), s"got: $out")
  }

  test("SCRAM state machine: direct RFC exchange round-trips") {
    // drive the crypto core without libpq: client side implemented per RFC
    import java.util.Base64
    import javax.crypto.Mac
    import javax.crypto.spec.{PBEKeySpec, SecretKeySpec}
    import java.nio.charset.StandardCharsets.UTF_8
    val s = new ScramSha256Server("pw")
    val clientFirstBare = "n=user,r=cnonce123456"
    val serverFirst = s.clientFirst("n,," + clientFirstBare).get
    val attrs = serverFirst.split(",").map(a => a.substring(0, 1) -> a.substring(2)).toMap
    val (r, salt, iters) = (attrs("r"), Base64.getDecoder.decode(attrs("s")), attrs("i").toInt)
    assert(r.startsWith("cnonce123456") && r.length > 12 && iters === 4096)
    val spec = new PBEKeySpec("pw".toCharArray, salt, iters, 256)
    val salted = javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
      .generateSecret(spec).getEncoded
    def hmac(k: Array[Byte], m: String) = {
      val mac = Mac.getInstance("HmacSHA256")
      mac.init(new SecretKeySpec(k, "HmacSHA256")); mac.doFinal(m.getBytes(UTF_8))
    }
    val clientKey = hmac(salted, "Client Key")
    val storedKey = java.security.MessageDigest.getInstance("SHA-256").digest(clientKey)
    val withoutProof = s"c=biws,r=$r"
    val authMessage = s"$clientFirstBare,$serverFirst,$withoutProof"
    val proof = clientKey.zip(hmac(storedKey, authMessage))
      .map { case (a, b) => (a ^ b).toByte }
    val fin = s.clientFinal(
      withoutProof + ",p=" + Base64.getEncoder.encodeToString(proof))
    assert(fin.isDefined, "valid proof must verify")
    // server signature must verify with the server key derivation
    val serverKey = hmac(salted, "Server Key")
    assert(fin.get === "v=" + Base64.getEncoder.encodeToString(hmac(serverKey, authMessage)))
    // tampered proof must fail (same exchange state, one bit flipped)
    assert(s.clientFinal(withoutProof + ",p=" +
      Base64.getEncoder.encodeToString(proof.updated(0, (proof(0) ^ 1).toByte))).isEmpty)
  }

  test("fromConf builds the configured modes") {
    val s = TestSpark.spark
    s.conf.set("spark.graft.server.auth", "password")
    s.conf.set("spark.graft.server.auth.credentials", "a:b,c:d")
    s.conf.set("spark.graft.server.sessionMode", "single")
    s.conf.set("spark.graft.server.ssl.keyStorePath", keystore)
    s.conf.set("spark.graft.server.ssl.keyStorePassword", "graftpass")
    try {
      val c = PgServerConfig.fromConf(s)
      assert(c.singleSession)
      assert(c.sslKeyStorePath === Some(keystore))
      assert(c.authenticator.get("a", "b") && !c.authenticator.get("a", "x"))
      s.conf.set("spark.graft.server.auth", "md5")
      val m = PgServerConfig.fromConf(s)
      assert(m.authenticator.isEmpty)
      assert(m.md5Lookup.get("a") === Some("b") && m.md5Lookup.get("x").isEmpty)
      s.conf.set("spark.graft.server.auth", "scram-sha-256")
      val sc = PgServerConfig.fromConf(s)
      assert(sc.authenticator.isEmpty && sc.md5Lookup.isEmpty)
      assert(sc.scramLookup.get("c") === Some("d"))
    } finally {
      Seq("spark.graft.server.auth", "spark.graft.server.auth.credentials",
        "spark.graft.server.sessionMode", "spark.graft.server.ssl.keyStorePath",
        "spark.graft.server.ssl.keyStorePassword").foreach(s.conf.unset)
    }
  }

  test("statements run in a per-session scheduler pool") {
    val s = SessionRegistry.create(TestSpark.spark)
    val op = new Operation(s, "SELECT 1")
    val pool = op.run {
      s.spark.sparkContext.getLocalProperty("spark.scheduler.pool")
    }
    assert(pool === s"graft-pg-${s.pid}")
    assert(s.spark.sparkContext.getLocalProperty("spark.scheduler.pool") == null,
      "pool must be cleared after the statement")
    s.close()
  }
}
