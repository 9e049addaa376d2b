package graft.pg.server

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.pg.{PgBeginCommand, PgCatalog, PgDialect, PgExtensions}
import graft.pg.wire.{ParamCodec, PgTypes, RowCodec}

import io.netty.bootstrap.ServerBootstrap
import io.netty.buffer.ByteBuf
import io.netty.channel._
import io.netty.channel.nio.NioEventLoopGroup
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.ByteToMessageDecoder
import io.netty.handler.ssl.{SslContext, SslContextBuilder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan, OneRowRelation}
import org.apache.spark.sql.graft.Internals
import org.apache.spark.sql.types.{DataType, NullType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** PostgreSQL V3 wire-protocol server over Spark SQL: the reference's
  * raison d'être (protocol.scala:59-65), rebuilt on public Spark 4 APIs.
  * Supports the startup/SSL-negotiate/cancel handshakes, the simple 'Q'
  * flow, the extended P/B/D/E/S/C flow with portal suspension, per-connection
  * isolated sessions, and out-of-band cancellation.
  */
class PgWireServer(base: SparkSession, port: Int = 5432, workerThreads: Int = 4,
    sessionIdleTimeoutMs: Long = 0L, config: PgServerConfig = PgServerConfig()) {
  // every connection's session is a newSession() of base: it gets the PG layer
  PgExtensions.install(base)
  private val shared = if (config.singleSession) Some(base.newSession()) else None
  private val boss = new NioEventLoopGroup(1)
  private val workers = new NioEventLoopGroup(workerThreads)
  // Query execution must NOT run on the I/O event loop: (a) a long Spark
  // job would starve every other connection pinned to the same loop, and
  // (b) streaming a large result needs to BLOCK on the socket when the
  // client reads slower than Spark produces (see maybeFlush) — blocking the
  // loop on its own write future would deadlock. A DefaultEventExecutorGroup
  // keeps netty's per-channel ordering guarantee (each channel pins to one
  // executor thread) while the loop stays free for socket I/O. 64 threads =
  // 64 concurrently-RUNNING statements; more connections than that simply
  // queue, they don't fail.
  private val handlerGroup =
    new io.netty.util.concurrent.DefaultEventExecutorGroup(64)
  @volatile private var channel: Channel = _
  private val reaper =
    if (sessionIdleTimeoutMs > 0) Some(new SessionReaper(sessionIdleTimeoutMs, 1000)) else None

  /** Bound port after start (use port=0 for an ephemeral port in tests). */
  @volatile var boundPort: Int = -1

  private val webUi = config.uiPort.map(new GraftWebUi(_))
  /** Bound UI port after start, -1 when the UI is disabled. */
  def uiBoundPort: Int = webUi.map(_.boundPort).getOrElse(-1)

  /** Netty SSL context from the configured keystore (reference negotiates an
    * SslHandler the same way, protocol.scala:929-953).
    */
  private def buildSslContext(): Option[SslContext] = config.sslKeyStorePath.map { path =>
    val pw = config.sslKeyStorePassword.toCharArray
    val ks = java.security.KeyStore.getInstance(new java.io.File(path), pw)
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, pw)
    SslContextBuilder.forServer(kmf).build()
  }

  def start(): Unit = {
    val sslCtx = buildSslContext()
    val b = new ServerBootstrap()
      .group(boss, workers)
      .channel(classOf[NioServerSocketChannel])
      .childHandler(new ChannelInitializer[SocketChannel] {
        override def initChannel(ch: SocketChannel): Unit =
          ch.pipeline()
            .addLast(new PgFrameDecoder) // frame reassembly stays on the loop
            .addLast(handlerGroup, new PgConnectionHandler(base, shared, sslCtx, config))
      })
    channel = b.bind(port).sync().channel()
    boundPort = channel.localAddress().asInstanceOf[java.net.InetSocketAddress].getPort
    reaper.foreach(_.start())
    webUi.foreach(_.start())
  }

  def stop(): Unit = {
    webUi.foreach(_.stop())
    reaper.foreach(_.stop())
    if (channel != null) channel.close().sync()
    boss.shutdownGracefully(0, 1, java.util.concurrent.TimeUnit.SECONDS)
    workers.shutdownGracefully(0, 1, java.util.concurrent.TimeUnit.SECONDS)
    handlerGroup.shutdownGracefully(0, 1, java.util.concurrent.TimeUnit.SECONDS)
  }
}

/** Server ops configuration: TLS, authentication, session isolation — the
  * rim the reference exposes via SQLServerConf (SQLServerConf.scala:61-97;
  * SSL protocol.scala:929-953, PasswordMessage :703-760, session modes
  * SparkSQLServiceManager.scala:107-133).
  */
final case class PgServerConfig(
    /** PKCS12/JKS keystore holding the server cert; None disables TLS
      * (SSLRequest answered 'N')
      */
    sslKeyStorePath: Option[String] = None,
    sslKeyStorePassword: String = "",
    /** None = trust (every startup accepted); Some(f) = cleartext-password
      * flow, `f(user, password)` decides. Pluggable like the reference's
      * trust/password/Kerberos modes.
      */
    authenticator: Option[(String, String) => Boolean] = None,
    /** Some(lookup) = MD5 challenge-response flow (AuthenticationMD5Password,
      * salted double-hash — the password never crosses the wire in clear,
      * unlike the cleartext flow): `lookup(user)` returns the stored
      * plaintext to verify against. Takes precedence over [[authenticator]].
      */
    md5Lookup: Option[String => Option[String]] = None,
    /** Some(lookup) = SCRAM-SHA-256 SASL flow (RFC 5802/7677, the PG 10+
      * default): salted PBKDF2 proof both ways — nothing replayable on the
      * wire and the client verifies the SERVER's signature too. Takes
      * precedence over [[md5Lookup]] and [[authenticator]].
      */
    scramLookup: Option[String => Option[String]] = None,
    /** single-session: every connection shares one session derived from the
      * base at server start (temp views and conf visible across connections);
      * default multi-session isolates via newSession() per connection
      */
    singleSession: Boolean = false,
    /** monitoring web UI port (0 = ephemeral); None disables the UI */
    uiPort: Option[Int] = None)

object PgServerConfig {
  /** Launcher-side construction from `spark.graft.server.*` confs. */
  def fromConf(spark: SparkSession): PgServerConfig = {
    def opt(k: String): Option[String] =
      spark.conf.getOption(k).filter(_.nonEmpty)
    // format: "user1:pass1,user2:pass2" — usernames must not contain
    // ':' and passwords must not contain ','; use a real credential
    // store via PgServerConfig(authenticator = ...) when that bites
    def creds: Map[String, String] =
      opt("spark.graft.server.auth.credentials").getOrElse("")
        .split(',').toSeq.filter(_.contains(":")).map { kv =>
          val Array(u, p) = kv.split(":", 2); (u, p)
        }.toMap
    val (auth, md5, scram) = spark.conf.get("spark.graft.server.auth", "trust") match {
      case "password" =>
        val c = creds
        (Some((u: String, p: String) => c.get(u).exists(expect =>
          // constant-time comparison: a short-circuiting equals leaks the
          // matching prefix length through response timing
          java.security.MessageDigest.isEqual(
            expect.getBytes(UTF_8), p.getBytes(UTF_8)))), None, None)
      case "md5" =>
        val c = creds
        (None, Some((u: String) => c.get(u)), None)
      case "scram-sha-256" =>
        val c = creds
        (None, None, Some((u: String) => c.get(u)))
      case _ => (None, None, None)
    }
    PgServerConfig(
      sslKeyStorePath = opt("spark.graft.server.ssl.keyStorePath"),
      sslKeyStorePassword =
        opt("spark.graft.server.ssl.keyStorePassword").getOrElse(""),
      authenticator = auth,
      md5Lookup = md5,
      scramLookup = scram,
      singleSession =
        spark.conf.get("spark.graft.server.sessionMode", "multi") == "single",
      uiPort = opt("spark.graft.server.ui.port").map(_.toInt))
  }
}

/** The PG MD5 password scheme: response = "md5" + hex(md5(hex(md5(pw+user))
  * salt)). Public so the raw-socket e2e client can compute it too.
  */
object PgMd5 {
  private def md5Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map("%02x".format(_)).mkString

  def response(user: String, password: String, salt: Array[Byte]): String =
    "md5" + md5Hex(md5Hex((password + user).getBytes(UTF_8)).getBytes(UTF_8) ++ salt)
}

/** One decoded client message: startup variants or a typed V3 frame. */
private sealed trait PgClientMsg
private case object SslRequest extends PgClientMsg
private case object GssEncRequest extends PgClientMsg
private final case class CancelReq(pid: Int, secret: Int) extends PgClientMsg
private final case class Startup(params: Map[String, String],
    minor: Int = 0) extends PgClientMsg
private final case class Typed(tpe: Byte, payload: Array[Byte]) extends PgClientMsg

/** Reassembles TCP fragments into whole V3 messages; handles the unframed
  * startup phase (reference protocol.scala:1238-1274,1153-1184).
  */
private class PgFrameDecoder extends ByteToMessageDecoder {
  private var startupDone = false

  override def decode(ctx: ChannelHandlerContext, in: ByteBuf,
      out: java.util.List[AnyRef]): Unit = {
    if (!startupDone) {
      if (in.readableBytes() < 8) return
      val len = in.getInt(in.readerIndex())
      val code = in.getInt(in.readerIndex() + 4)
      if (len == 8 && code == 80877103) { // SSLRequest
        in.skipBytes(8)
        out.add(SslRequest)
      } else if (len == 8 && code == 80877104) { // GSSENCRequest
        // libpq with gssencmode=prefer (its default whenever a Kerberos
        // credential cache exists) probes GSS transport encryption BEFORE
        // anything else; PG servers without GSS answer 'N' and the client
        // falls back to SSL/clear — closing the connection here would lock
        // out every such client (see docs/adr/0001-gssapi-descope.md)
        in.skipBytes(8)
        out.add(GssEncRequest)
      } else if (len == 16 && code == 80877102) { // CancelRequest
        if (in.readableBytes() < 16) return
        in.skipBytes(8)
        out.add(CancelReq(in.readInt(), in.readInt()))
      } else if ((code >>> 16) == 3) { // protocol 3.x StartupMessage
        // PG caps startup packets at 10000 bytes; reject before allocating
        if (len < 9 || len > 10000) {
          throw new IllegalStateException(s"invalid startup packet length: $len")
        }
        if (in.readableBytes() < len) return
        in.skipBytes(8)
        val body = new Array[Byte](len - 8)
        in.readBytes(body)
        // body is k\0v\0...\0 pairs
        val kv = new String(body, UTF_8).split('\u0000').filter(_.nonEmpty)
        out.add(Startup(kv.grouped(2).collect { case Array(k, v) => k -> v }.toMap,
          minor = code & 0xffff))
        startupDone = true
      } else {
        throw new IllegalStateException(s"Unsupported startup: len=$len code=$code")
      }
    } else {
      if (in.readableBytes() < 5) return
      val len = in.getInt(in.readerIndex() + 1)
      // the length field is client-controlled: len<4 would wrap the payload
      // size negative, and an unbounded len is a one-frame ~2GB allocation
      if (len < 4 || len > PgFrameDecoder.MaxFrameBytes) {
        throw new IllegalStateException(s"invalid frame length: $len")
      }
      if (in.readableBytes() < 1 + len) return
      val tpe = in.readByte()
      in.skipBytes(4)
      val payload = new Array[Byte](len - 4)
      in.readBytes(payload)
      out.add(Typed(tpe, payload))
      // inbound backpressure: frames decoded here (I/O loop) queue for the
      // off-loop handler; a client outpacing execution — COPY FROM STDIN
      // streaming gigabytes while a 50k-row batch flushes, or a deep
      // pipelined batch — would otherwise buffer unboundedly in the
      // executor queue. Past the high-water mark, stop reading the socket
      // (TCP pushes back to the client); the handler re-opens it once the
      // backlog drains below the low-water mark.
      val attr = ctx.channel().attr(PgFrameDecoder.PendingInBytes)
      if (attr.get() == null) { // decode is single-threaded per channel
        attr.set(new java.util.concurrent.atomic.AtomicLong)
      }
      val pending = attr.get()
      if (pending.addAndGet(5L + payload.length) > PgFrameDecoder.InboundHighWater) {
        ctx.channel().config().setAutoRead(false)
      }
    }
  }
}

private object PgFrameDecoder {
  /** max accepted client frame (queries, bind params); bounds a hostile
    * pre-auth allocation while leaving room for very large statements
    */
  val MaxFrameBytes: Int = 64 << 20

  /** bytes decoded but not yet processed by the off-loop handler */
  val PendingInBytes: io.netty.util.AttributeKey[java.util.concurrent.atomic.AtomicLong] =
    io.netty.util.AttributeKey.valueOf("graft-pending-in-bytes")
  /** stop reading past this backlog; resume below the low mark. High enough
    * that normal pipelined batches never trip it, low enough that a
    * gigabyte-scale COPY holds ~one flush batch of frames in memory.
    */
  val InboundHighWater: Long = 32L << 20
  val InboundLowWater: Long = 8L << 20

  /** Handler-side release: subtract the processed frame, reopen the socket
    * once the backlog drains (scheduled on the channel's own loop so it
    * serializes with decode's setAutoRead(false)).
    */
  def release(ch: io.netty.channel.Channel, frameBytes: Long): Unit = {
    val pending = ch.attr(PendingInBytes).get()
    if (pending != null &&
        pending.addAndGet(-frameBytes) <= InboundLowWater &&
        !ch.config().isAutoRead) {
      ch.eventLoop().execute(() => {
        if (!ch.config().isAutoRead && pending.get() <= InboundLowWater) {
          ch.config().setAutoRead(true)
        }
      })
    }
  }
}

/** Splits SQL scripts on top-level semicolons (quote-, ident- and
  * comment-aware); parts containing only comments/whitespace are dropped.
  * Used by the simple-query multi-statement flow and the golden-corpus
  * harness.
  */
private[server] object PgStatementSplitter {
  def split(sql: String): Seq[String] = {
    val parts = ArrayBuffer.empty[String]
    var depth = 0; var last = 0; var j = 0
    val n = sql.length
    var sawToken = false
    def flush(end: Int): Unit = {
      val part = sql.substring(last, end).trim
      if (part.nonEmpty && sawToken) parts += part
      sawToken = false
    }
    while (j < n) {
      sql.charAt(j) match {
        case '\'' =>
          sawToken = true; j += 1
          while (j < n && sql.charAt(j) != '\'') j += 1
          j += 1
        case '"' =>
          sawToken = true; j += 1
          while (j < n && sql.charAt(j) != '"') j += 1
          j += 1
        case '-' if j + 1 < n && sql.charAt(j + 1) == '-' =>
          while (j < n && sql.charAt(j) != '\n') j += 1
        case '/' if j + 1 < n && sql.charAt(j + 1) == '*' =>
          j += 2
          while (j + 1 < n && !(sql.charAt(j) == '*' && sql.charAt(j + 1) == '/')) j += 1
          j = math.min(j + 2, n)
        case '(' => sawToken = true; depth += 1; j += 1
        // clamp at zero: a stray ')' must not poison the depth==0 check and
        // swallow every later statement of the script into one (the malformed
        // part still flushes and fails parse on its own, like PG)
        case ')' => sawToken = true; depth = math.max(0, depth - 1); j += 1
        case ';' if depth == 0 => flush(j); last = j + 1; j += 1
        case c =>
          if (!c.isWhitespace) sawToken = true
          j += 1
      }
    }
    flush(n)
    parts.toSeq
  }
}

private class PgConnectionHandler(base: SparkSession, shared: Option[SparkSession],
    sslCtx: Option[SslContext], config: PgServerConfig)
    extends SimpleChannelInboundHandler[PgClientMsg] {

  import PgMessages._

  private var session: PgSession = _
  /** startup user while the cleartext-password exchange is pending */
  private var pendingUser: Option[String] = None
  private var startupAppName: String = ""
  private var startupUser: String = "spark-user"
  private var startupGucParams: Map[String, String] = Map.empty
  private var pendingSalt: Array[Byte] = _
  private var scramPhase: Int = 0
  private var scram: ScramSha256Server = _
  private var ctxRef: ChannelHandlerContext = _
  /** the buffer currently being written (replaced when a chunk flushes) */
  private var currentOut: ByteBuf = _
  /** flush threshold while streaming rows: bounds buffered result bytes */
  private val ChunkBytes = 1 << 20
  /** extended-protocol error state: after a failed P/B/D/E/C, incoming
    * messages are discarded until Sync so pipelined batches (pgjdbc sends
    * P/B/D/E/S in one write) see exactly one ErrorResponse then ReadyForQuery
    */
  private var inError = false
  /** active COPY FROM STDIN operation, if any ('d'/'c'/'f' route here) */
  private var copyIn: Option[PgCopy.CopyInSession] = None

  override def channelRead0(ctx: ChannelHandlerContext, m: PgClientMsg): Unit = m match {
    case SslRequest => sslCtx match {
      case Some(ssl) =>
        // 'S' goes out in clear; the SslHandler prepended afterwards then
        // runs the TLS handshake and the client resends its startup packet
        // encrypted (reference protocol.scala:929-953). Both steps run as
        // ONE task on the channel's I/O loop: this handler executes on
        // handlerGroup, and from here the client's ClientHello could race
        // past the decoder before addFirst lands — on the single-threaded
        // loop no read can interleave between the 'S' flush and the insert.
        ctx.channel().eventLoop().execute { () =>
          val b = ctx.alloc().buffer(1)
          b.writeByte('S')
          ctx.writeAndFlush(b)
          ctx.pipeline().addFirst(ssl.newHandler(ctx.alloc()))
        }
      case None =>
        val b = ctx.alloc().buffer(1)
        b.writeByte('N') // no SSL; client retries in clear (reference protocol.scala:1190-1196)
        ctx.writeAndFlush(b)
    }

    case GssEncRequest =>
      // no GSSAPI: answer 'N' exactly like a GSS-less PG build; the client
      // retries with SSLRequest or a clear startup packet
      val b = ctx.alloc().buffer(1)
      b.writeByte('N')
      ctx.writeAndFlush(b)

    case CancelReq(pid, secret) =>
      SessionRegistry.cancel(pid, secret)
      ctx.close()

    case Startup(params, minor) =>
      // 3.x with a minor above ours, or unrecognized _pq_.* protocol
      // options: answer NegotiateProtocolVersion (newest minor we speak =
      // 0, plus the option names), then proceed at the downgraded level —
      // the PG-specified forward-compat handshake (a hard reject here
      // would break every future-minor client)
      val pqOptions = params.keys.filter(_.startsWith("_pq_.")).toSeq.sorted
      startupAppName = params.getOrElse("application_name", "")
      startupUser = params.getOrElse("user", "spark-user")
      startupGucParams = params.filter { case (k, _) =>
        val lower = k.toLowerCase
        !Set("user", "database", "application_name", "replication")(lower) &&
          !k.startsWith("_pq_.")
      }
      if (minor > 0 || pqOptions.nonEmpty) {
        val out = ctx.alloc().buffer()
        negotiateProtocolVersion(out, newestMinor = 0, unsupported = pqOptions)
        ctx.writeAndFlush(out)
      }
      if (config.scramLookup.isDefined) {
        // SASL negotiation: advertise the mechanism, client answers with
        // SASLInitialResponse ('p')
        pendingUser = Some(params.getOrElse("user", ""))
        scramPhase = 1
        val out = ctx.alloc().buffer()
        authenticationSASL(out, Seq("SCRAM-SHA-256"))
        ctx.writeAndFlush(out)
      } else if (config.md5Lookup.isDefined) {
        // MD5 challenge-response (the classic PG salted double-hash: the
        // cleartext password never crosses the wire): send a fresh 4-byte
        // salt, finish on 'p'
        pendingUser = Some(params.getOrElse("user", ""))
        pendingSalt = new Array[Byte](4)
        new java.security.SecureRandom().nextBytes(pendingSalt)
        val out = ctx.alloc().buffer()
        authenticationMD5Password(out, pendingSalt)
        ctx.writeAndFlush(out)
      } else config.authenticator match {
        case Some(_) =>
          // cleartext-password flow (reference PasswordMessage handling,
          // protocol.scala:703-760): challenge now, finish on 'p'
          pendingUser = Some(params.getOrElse("user", ""))
          val out = ctx.alloc().buffer()
          authenticationCleartextPassword(out)
          ctx.writeAndFlush(out)
        case None =>
          finishStartup(ctx)
      }

    case Typed(tpe, payload) =>
      // every path below — including the auth-phase consumers — must release
      // the frame's inbound budget; an unreleased auth frame would inflate
      // the per-channel pending counter forever, and an oversized 'p' frame
      // could trip the high-water mark pre-auth with no reopen ever coming
      try {
        if (pendingUser.isDefined && scramPhase > 0) handleSaslFrame(ctx, tpe, payload)
        else if (pendingUser.isDefined) handlePasswordFrame(ctx, tpe, payload)
        else dispatchTyped(ctx, tpe, payload)
      } finally PgFrameDecoder.release(ctx.channel(), 5L + payload.length)
  }

  /** SASL sub-flow: phase 1 = SASLInitialResponse (mechanism cstring +
    * int32-length data), phase 2 = raw client-final bytes */
  private def handleSaslFrame(ctx: ChannelHandlerContext, tpe: Byte,
      payload: Array[Byte]): Unit = {
      def fail(message: String): Unit = {
        val err = ctx.alloc().buffer()
        errorResponse(err,
          s"""password authentication failed for user "${pendingUser.get}"""", "28P01")
        ctx.writeAndFlush(err)
        ctx.close()
      }
      if (tpe.toChar != 'p') { fail("expected SASLResponse") }
      else if (scramPhase == 1) {
        val in = ByteBuffer.wrap(payload)
        val mech = readCStr(in)
        val dlen = in.getInt
        val data = new Array[Byte](math.max(dlen, 0))
        in.get(data)
        val stored = config.scramLookup.flatMap(_(pendingUser.get))
        if (mech != "SCRAM-SHA-256" || stored.isEmpty) fail("unsupported mechanism")
        else {
          scram = new ScramSha256Server(stored.get)
          scram.clientFirst(new String(data, UTF_8)) match {
            case Some(serverFirst) =>
              scramPhase = 2
              val out = ctx.alloc().buffer()
              authenticationSASLContinue(out, serverFirst.getBytes(UTF_8))
              ctx.writeAndFlush(out)
            case None => fail("malformed client-first")
          }
        }
      } else {
        scram.clientFinal(new String(payload, UTF_8)) match {
          case Some(serverFinal) =>
            val out = ctx.alloc().buffer()
            authenticationSASLFinal(out, serverFinal.getBytes(UTF_8))
            ctx.writeAndFlush(out)
            pendingUser = None
            scramPhase = 0
            scram = null
            finishStartup(ctx)
          case None => fail("proof mismatch")
        }
      }
  }

  /** cleartext / MD5 PasswordMessage consumer (reference protocol.scala:703-760) */
  private def handlePasswordFrame(ctx: ChannelHandlerContext, tpe: Byte,
      payload: Array[Byte]): Unit = {
      if (tpe.toChar != 'p') {
        val err = ctx.alloc().buffer()
        errorResponse(err, "expected PasswordMessage", "08P01")
        ctx.writeAndFlush(err)
        ctx.close()
      } else {
        val in = ByteBuffer.wrap(payload)
        val password = readCStr(in)
        val user = pendingUser.get
        val ok =
          if (pendingSalt != null) {
            // response = "md5" + hex(md5(hex(md5(password+user)) + salt));
            // compute the expectation from the stored password and compare
            // constant-time
            config.md5Lookup.flatMap(_(user)).exists { stored =>
              val expect = PgMd5.response(user, stored, pendingSalt)
              java.security.MessageDigest.isEqual(
                expect.getBytes(UTF_8),
                password.getBytes(UTF_8))
            }
          } else config.authenticator.exists(_(user, password))
        if (ok) {
          pendingUser = None
          pendingSalt = null
          finishStartup(ctx)
        } else {
          val err = ctx.alloc().buffer()
          errorResponse(err, s"""password authentication failed for user "$user"""",
            "28P01")
          ctx.writeAndFlush(err)
          ctx.close()
        }
      }
  }

  private def dispatchTyped(ctx: ChannelHandlerContext, tpe: Byte,
      payload: Array[Byte]): Unit = {
      if (session == null) { // typed frame before Startup: protocol violation
        val err = ctx.alloc().buffer()
        errorResponse(err, "protocol violation: message before startup", "08P01")
        ctx.writeAndFlush(err)
        ctx.close()
        return
      }
      val t = tpe.toChar
      // skip-until-Sync: discard pipelined extended-flow frames after an
      // error; Sync ('S') clears the state, and a simple Query ('Q') is an
      // implicit sync boundary
      if (inError && (t == 'P' || t == 'B' || t == 'D' || t == 'E' || t == 'C' || t == 'H')) {
        return
      }
      if (t == 'S' || t == 'Q') inError = false
      ctxRef = ctx
      currentOut = ctx.alloc().buffer()
      session.touch()
      session.onReap = () => ctx.close()
      Internals.setActiveSession(session.spark)
      // streaming handlers may flush full chunks and continue on a fresh
      // buffer (maybeFlush swaps currentOut); error handling and the final
      // write always target the live buffer
      // pin the executing session's pid for the duration of the message:
      // in singleSession mode every connection shares one SparkSession,
      // so a SparkSession→pid identity scan is ambiguous — pg_backend_pid /
      // LISTEN / NOTIFY must attribute to THIS connection, not an arbitrary
      // one (the handler runs off the I/O loop, one thread per message)
      try SessionRegistry.withCurrentPid(session.pid) {
        handleTyped(t, ByteBuffer.wrap(payload), currentOut)
      }
      catch {
        // the one place a failed message is answered and counted: the
        // extended flow (and CopyData) skips to Sync, every other message
        // ends its cycle with ReadyForQuery
        case NonFatal(e) =>
          ServerStats.statementsFailed.incrementAndGet()
          errorResponse(currentOut, PgWireServer.messageOf(e),
            PgWireServer.sqlStateOf(e), PgWireServer.errorPosition(e))
          if ("PBDECHd".indexOf(t) >= 0) inError = true
          else readyForQuery(currentOut)
      }
      ctx.writeAndFlush(currentOut)
      currentOut = null
      if (t == 'X') ctx.close()
  }

  /** AuthenticationOk + ParameterStatus + BackendKeyData + ReadyForQuery:
    * the post-auth startup sequence; session isolation follows the
    * configured mode (single = the server's shared session, multi = newSession).
    */
  private def finishStartup(ctx: ChannelHandlerContext): Unit = {
    ServerStats.sessionsOpened.incrementAndGet()
    session = SessionRegistry.create(base, shared)
    session.onReap = () => ctx.close()
    session.appName = startupAppName
    // startup-packet values become the session's GUC defaults (what RESET /
    // DISCARD ALL restore to), per PG semantics
    graft.pg.PgGuc.seedStartupDefaults(session.spark, startupUser, startupAppName)
    // any other startup parameter is a run-time GUC default, incl. the
    // `options` string pgjdbc's options= connection property sends
    startupGucParams.foreach { case (k, v) =>
      graft.pg.PgGuc.seedStartupParam(session.spark, k, v)
    }
    // LISTEN/NOTIFY delivery: a cross-thread writeAndFlush lands on this
    // channel's event loop, so the 'A' frame slots between whole messages
    locally {
      val ch = ctx.channel()
      session.notifySink = (senderPid, channel, payload) => {
        val buf = ch.alloc().buffer()
        PgMessages.notificationResponse(buf, senderPid, channel, payload)
        ch.writeAndFlush(buf)
      }
    }
    val out = ctx.alloc().buffer()
    authenticationOk(out)
    Seq(
      // announced version is a compat knob: old drivers gate features on it
      // (reference SQLServerConf.scala:61-67)
      "server_version" -> base.conf.get("spark.graft.server.version", "9.6.0"),
      "server_encoding" -> "UTF8",
      "client_encoding" -> "UTF8",
      "DateStyle" -> "ISO",
      "integer_datetimes" -> "on",
      "standard_conforming_strings" -> "on",
      "TimeZone" -> session.spark.conf.get("spark.sql.session.timeZone", "UTC")
    ).foreach { case (k, v) => parameterStatus(out, k, v) }
    backendKeyData(out, session.pid, session.secret)
    readyForQuery(out)
    ctx.writeAndFlush(out)
  }

  /** decoder/handler failures outside a handled message (bad frame lengths,
    * malformed startup) surface as an ErrorResponse and a closed connection
    * rather than a silent hang
    */
  override def exceptionCaught(ctx: ChannelHandlerContext, cause: Throwable): Unit = {
    val root = if (cause.getCause != null) cause.getCause else cause
    val err = ctx.alloc().buffer()
    errorResponse(err, Option(root.getMessage).getOrElse(root.toString), "08P01")
    ctx.writeAndFlush(err)
    ctx.close()
  }

  override def channelInactive(ctx: ChannelHandlerContext): Unit = {
    if (session != null) { session.close(); ServerStats.sessionsClosed.incrementAndGet() }
    super.channelInactive(ctx)
  }

  // ---- V3 message dispatch (reference extractClientMessageProcessor,
  // protocol.scala:307-730) ----

  private def handleTyped(tpe: Char, in: ByteBuffer, out: ByteBuf): Unit = tpe match {
    case 'Q' => simpleQuery(readCStr(in))
    case 'P' => parse(in, out)
    case 'B' => bind(in, out)
    case 'D' => describe(in, out)
    case 'E' => execute(in)
    case 'C' => closeMsg(in, out)
    case 'S' => readyForQuery(out) // Sync
    case 'H' => () // Flush — we always flush per message
    case 'X' => () // Terminate; channel closed by caller
    // COPY subprotocol (reference decodes these then throws "Not supported
    // yet", protocol.scala:679-698 — here they work)
    case 'd' => copyIn match {
      case Some(ci) =>
        val bytes = new Array[Byte](in.remaining()); in.get(bytes)
        ci.feed(bytes)
      case None =>
        throw new UnsupportedOperationException("COPY data outside a COPY operation")
    }
    // the COPY executes at CopyDone; a failure there, or a CopyFail, is
    // answered by the error writer with ReadyForQuery
    case 'c' => copyIn match {
      case Some(ci) =>
        copyIn = None
        val n = withOperation("COPY FROM STDIN")(ci.finish())
        commandComplete(out, s"COPY $n")
        readyForQuery(out)
      case None =>
        throw new UnsupportedOperationException("CopyDone outside a COPY operation")
    }
    case 'f' =>
      copyIn = None
      val reason = try readCStr(in) catch { case _: RuntimeException => "" }
      throw new PgStateException(s"COPY aborted by client: $reason", "57014")
    case 'F' => functionCall(in, out)
    case other =>
      // an unknown type from a confused or hostile client must not wedge
      // the connection: a protocol error, then ReadyForQuery
      throw new PgStateException(s"unsupported frontend message type: '$other'", "08P01")
  }

  /** 'F' fastpath FunctionCall → 'V' FunctionCallResponse + ReadyForQuery
    * (a fastpath cycle ends with ReadyForQuery per the PG protocol). The
    * reference decodes this message then throws "Not supported yet"
    * (protocol.scala:506-533); here the OID resolves through the pg_proc
    * fastpath registry and the call executes against the session's function
    * registry. Errors answer ErrorResponse + ReadyForQuery — the connection
    * survives either way.
    */
  private def functionCall(in: ByteBuffer, out: ByteBuf): Unit = {
    val objId = in.getInt
    val fmts = Seq.fill(in.getShort.toInt)(in.getShort.toInt)
    val nParams = in.getShort.toInt
    val params = Array.fill[Array[Byte]](nParams) {
      val len = in.getInt
      if (len < 0) null else readBytes(in, len)
    }
    val resultFormat = in.getShort.toInt
    val (fname, argOids, _) = PgCatalog.fastpathByOid(objId).getOrElse(
      throw new PgStateException(
        s"fastpath function with OID $objId does not exist", "42883"))
    if (nParams != argOids.length) {
      throw new PgStateException(
        s"fastpath function $fname expects ${argOids.length} arguments, got $nParams", "42883")
    }
    val lits = params.zip(argOids).zipWithIndex.map { case ((p, oid), i) =>
      if (p == null) Literal(null, NullType)
      else ParamCodec.decode(p, oid, formatCode(fmts, i), sessionZone)
    }
    withOperation(s"fastpath $fname") {
      val (plan, _) = parseStatement(s"SELECT $fname(${lits.map(_.sql).mkString(", ")})")
      val df = Internals.ofRows(session.spark, plan)
      val row = Internals.executeCollect(df).head
      if (row.isNullAt(0)) functionCallResponse(out, None)
      else {
        val fw = RowCodec.fieldWriter(df.schema.head.dataType, 0,
          binary = resultFormat == 1, sessionZone)
        val bb = ByteBuffer.allocate(1 << 16)
        fw(row, bb)
        bb.flip()
        val bytes = new Array[Byte](bb.getInt)
        bb.get(bytes)
        functionCallResponse(out, Some(bytes))
      }
    }
    readyForQuery(out)
  }

  /** The format code for column/parameter `i`: none = all text, one = that
    * code for all, else one per column (PG §55.7 Bind, FunctionCall).
    */
  private def formatCode(codes: Seq[Int], i: Int): Int =
    if (codes.isEmpty) 0 else if (codes.length == 1) codes.head else codes(i)

  /** `len` bytes of a length-prefixed field. A length past the end of the
    * frame fails before allocating, as a negative one does; the error
    * writer answers both as a truncated message.
    */
  private def readBytes(in: ByteBuffer, len: Int): Array[Byte] = {
    if (len > in.remaining()) throw new java.nio.BufferUnderflowException
    val a = new Array[Byte](len); in.get(a); a
  }

  private def readCStr(b: ByteBuffer): String = {
    val sb = new ArrayBuffer[Byte]()
    var c = b.get()
    while (c != 0) { sb += c; c = b.get() }
    new String(sb.toArray, UTF_8)
  }

  /** Statement text → (plan, EXPLAIN ANALYZE?): the one place the session
    * parser runs. Unwraps PG's EXPLAIN forms (ANALYZE executes the inner
    * statement; an option list without an enabled ANALYZE is plain
    * EXPLAIN) and prunes unused CTEs
    * (graft.queries.CtePrune): a pure compile-time identity transform that
    * bails out verbatim on any text it cannot prove safe (comments, quoted
    * identifiers, IDENTIFIER(), shape surprises). Spark analyzes EVERY
    * definition in a WITH list before the optimizer discards unused ones, so
    * large shared prefixes — the official TPC battery through the wire is
    * the concrete case — pay ~1 s of analysis per statement for CTEs the
    * query never references. The empty text parses to a one-row relation.
    */
  private def parseStatement(sql: String): (LogicalPlan, Boolean) = {
    val (text, analyze) = sql match {
      case explainAnalyzeRe(inner) => (inner, true)
      case explainOptionsRe(inner) => ("EXPLAIN " + inner, false)
      case _ => (sql, false)
    }
    val plan =
      if (text.trim.isEmpty) OneRowRelation()
      else Internals.sessionParser(session.spark).parsePlan(graft.queries.CtePrune.prune(text))
    (plan, analyze)
  }

  /** The row count for a no-result command's tag: INSERT uses the write
    * node's output rows; UPDATE/DELETE/MERGE use operation-specific metrics
    * (numUpdatedRows/...) where the plan exposes them. When absent, UPDATE
    * falls back to the write node's row count — an overcount for
    * copy-on-write formats (untouched rows in rewritten files are included)
    * but safer than "UPDATE 0", which is an affirmative "no row matched"
    * claim in PG that misleads optimistic-locking clients. DELETE/MERGE
    * cannot use that fallback (a copy-on-write DELETE writes the rows it
    * KEPT), so absent metrics they tag 0, "rows unknown".
    */
  private def tagRows(sql: String, df: org.apache.spark.sql.DataFrame): Long = {
    val first = sql.trim.split("\\s+").headOption.getOrElse("").toUpperCase
    first match {
      case "UPDATE" =>
        Internals.affectedRows(df)
          .orElse(Internals.writtenRows(df)).getOrElse(0L)
      case "DELETE" | "MERGE" => Internals.affectedRows(df).getOrElse(0L)
      case _ => Internals.writtenRows(df).getOrElse(0L)
    }
  }

  private def commandTag(sql: String, plan: LogicalPlan, rows: Long): String = {
    val first = sql.trim.split("\\s+").headOption.getOrElse("").toUpperCase
    plan match {
      case _: PgBeginCommand => first match {
        // END is SQL-standard COMMIT; PG tags it COMMIT (tag-checking
        // clients track transaction state from these)
        case "COMMIT" | "END" => "COMMIT"
        case "ROLLBACK" | "ABORT" => "ROLLBACK" // incl. ROLLBACK TO — PG tags both ROLLBACK
        case "SAVEPOINT" => "SAVEPOINT"
        case "RELEASE" => "RELEASE"
        case _ => "BEGIN"
      }
      case _ => first match {
        case "WITH" if plan.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement]) =>
          // a CTE-led INSERT tags INSERT in PG, not SELECT
          s"INSERT 0 $rows"
        case "SELECT" | "WITH" | "VALUES" | "TABLE" => s"SELECT $rows"
        case "SET" => "SET"
        case "RESET" => "RESET"
        case "INSERT" => s"INSERT 0 $rows"
        case "UPDATE" => s"UPDATE $rows"
        case "DELETE" => s"DELETE $rows"
        case "MERGE" => s"MERGE $rows"
        // (deviation: PG tags CTAS "SELECT n"; Spark's CTAS command exposes
        // no written-row metric, so CTAS keeps the truthful "CREATE TABLE"
        // rather than a fabricated "SELECT 0")
        // PG DDL tags carry the object type ("CREATE TABLE", "DROP VIEW");
        // modifier words before the object are skipped
        case "CREATE" | "DROP" | "ALTER" =>
          val skip = Set("OR", "REPLACE", "IF", "NOT", "EXISTS", "GLOBAL",
            "LOCAL", "TEMP", "TEMPORARY", "EXTERNAL", "UNIQUE", "MATERIALIZED")
          sql.trim.split("\\s+").iterator.map(_.toUpperCase).drop(1)
            .find(w => !skip(w)) match {
            case Some(obj) if obj.forall(c => c.isLetter) => s"$first $obj"
            case _ => first
          }
        case "TRUNCATE" => "TRUNCATE TABLE"
        case "FETCH" | "MOVE" => s"$first $rows"
        case "" => "SELECT 0"
        case other => other
      }
    }
  }

  /** Statements whose per-phase re-analysis is semantically load-bearing:
    * driver-folded session functions (set_config must fire its effect at
    * the Execute re-analysis, current_setting/version/pg_backend_pid must
    * re-read session state per execution). Detection is textual and
    * conservative — any call site must spell the name in the SQL, so false
    * negatives are impossible and a false positive only costs the
    * analyze-per-phase path.
    */
  private val volatileTextRe =
    ("(?is).*\\b(set_config|pg_notify|pg_cancel_backend|pg_terminate_backend|" +
      "current_setting|pg_backend_pid|pg_postmaster_start_time|version\\s*\\()\\b.*").r

  private def isVolatileText(sql: String): Boolean =
    volatileTextRe.matches(sql)

  /** Simple query flow §3.1: each statement runs as PG's unnamed portal —
    * RowDescription + DataRows + CommandComplete, always text format
    * (reference protocol.scala:585-660).
    */
  private def simpleQuery(sql: String): Unit = {
    val stmts = PgStatementSplitter.split(sql)
    if (stmts.isEmpty) PgMessages.emptyQueryResponse(currentOut)
    var copyInStarted = false
    stmts.foreach { stmt => PgCopy.parse(stmt) match {
      case Some(ci: PgCopy.CopyIn) =>
        if (stmts.length > 1) throw new IllegalArgumentException(
          "COPY FROM STDIN must be the only statement in a simple query")
        // constructing the session resolves the table schema, so a missing
        // table errors HERE — before CopyInResponse commits the connection
        // to the copy subprotocol
        val st = new PgCopy.CopyInSession(session.spark, ci, sessionZone)
        copyIn = Some(st)
        PgMessages.copyInResponse(currentOut, st.nCols, ci.opts.binary)
        copyInStarted = true
      case Some(co: PgCopy.CopyOut) => runCopyOut(co, new Operation(session, stmt.take(80)))
      case None if runSessionStateStatement(stmt) => // ran in the guard
      case None if PgCatalog.isFeatureAbsentQuery(stmt) =>
        // zero rows for feature-absent catalog relations (see PgCatalog)
        rowDescription(currentOut, StructType(Seq(StructField("v", StringType))), Seq(false))
        commandComplete(currentOut, "SELECT 0")
      case None =>
        val (plan, analyze) = parseStatement(stmt)
        val portal = new Portal("", Prepared("", stmt, plan, Nil, null, explainAnalyze = analyze),
          plan, null, _ => false, new Operation(session, stmt.take(80)))
        runPortal(portal, portal.op)
    }}
    // after CopyInResponse the client streams 'd' frames; ReadyForQuery
    // only follows CopyDone/CopyFail
    if (!copyInStarted) readyForQuery(currentOut)
  }

  /** `DEALLOCATE [PREPARE] (name|ALL)` — connection pools and drivers issue
    * these between checkouts. Unquoted names lowercase like any PG
    * identifier; quoted names match the Parse-message name byte-for-byte.
    */
  private val deallocRe =
    """(?is)\s*DEALLOCATE\s+(?:PREPARE\s+)?(ALL|"[^"]+"|[A-Za-z_]\w*)\s*;?\s*""".r

  /** `DISCARD (ALL|PLANS|SEQUENCES|TEMP|TEMPORARY)` — PgBouncer's default
    * server_reset_query is DISCARD ALL; pools send it on every check-in.
    */
  private val discardRe =
    """(?is)\s*DISCARD\s+(ALL|PLANS|SEQUENCES|TEMP|TEMPORARY)\s*;?\s*""".r

  /** DISCARD ALL/TEMP: drop every temp view. The system catalogs are no
    * temp views, so they survive, as in PG, where DISCARD clears pg_temp.
    */
  private def discardTempState(): Unit = {
    val cat = session.spark.catalog
    cat.listTables().collect().filter(_.isTemporary)
      .foreach(t => cat.dropTempView(t.name))
  }

  // ---- SQL-level cursors (DECLARE/FETCH/MOVE/CLOSE) ----
  // psql's FETCH_COUNT mode wraps every query in exactly this flow
  // (BEGIN; DECLARE _psql_cursor NO SCROLL CURSOR FOR <q>; FETCH FORWARD n
  // FROM _psql_cursor; ...; CLOSE _psql_cursor; COMMIT), and ODBC drivers
  // page large results the same way. Cursors are wire portals under a SQL
  // name: the same incremental iterator the extended protocol uses, so a
  // cursor never driver-materializes its result either.
  private val declareCursorRe =
    ("""(?is)\s*DECLARE\s+("[^"]+"|[A-Za-z_]\w*)\s+(BINARY\s+)?(?:INSENSITIVE\s+)?""" +
      """(?:NO\s+SCROLL\s+|SCROLL\s+)?CURSOR\s+(?:WITH\s+HOLD\s+|WITHOUT\s+HOLD\s+)?""" +
      """FOR\s+(.+?)\s*;?\s*""").r
  private val fetchRe =
    ("""(?is)\s*(FETCH|MOVE)\s+(?:(FORWARD|BACKWARD|PRIOR)\s+)?(?:(ALL|NEXT|\d+)\s+)?""" +
      """(?:FROM\s+|IN\s+)?("[^"]+"|[A-Za-z_]\w*)\s*;?\s*""").r
  private val closeCursorRe =
    """(?is)\s*CLOSE\s+(ALL|"[^"]+"|[A-Za-z_]\w*)\s*;?\s*""".r

  private def cursorName(token: String): String = PgNotify.foldChannel(token)

  private def declareCursor(name: String, binary: Boolean, query: String,
      stmt: String): Unit = {
    if (session.portals.contains(name)) {
      throw new PgStateException(s"""cursor "$name" already exists""", "42P03")
    }
    val (plan, analyze) = parseStatement(query)
    val schema = Internals.analyzedSchema(session.spark, plan)
    val portal = new Portal(name, Prepared(name, query, plan, Nil, schema,
      explainAnalyze = analyze), plan, schema, _ => binary, new Operation(session, stmt.take(80)))
    // DECLARE is the portal's own statement; each FETCH/MOVE runs another
    portal.op.run { session.portals(name) = portal }
    commandComplete(currentOut, "DECLARE CURSOR")
  }

  /** Session-state statements with real server-side semantics (PG tags,
    * PG SQLSTATEs); returns true when `stmt` was one of them.
    */
  private def runSessionStateStatement(stmt: String): Boolean = stmt match {
    case deallocRe(what) => runStatement(stmt) {
      // the ALL keyword only when unquoted — `DEALLOCATE "ALL"` targets a
      // statement literally named ALL, like any quoted PG identifier
      if (!what.startsWith("\"") && what.equalsIgnoreCase("ALL")) {
        session.statements.clear()
        session.portals.clear()
        commandComplete(currentOut, "DEALLOCATE ALL")
      } else {
        val name =
          if (what.startsWith("\"")) what.substring(1, what.length - 1)
          else what.toLowerCase
        if (session.statements.remove(name).isEmpty) {
          throw new PgStateException(
            s"""prepared statement "$name" does not exist""", "26000")
        }
        // drop portals bound from the deallocated statement too
        session.portals.filterInPlace((_, p) => p.stmt.name != name)
        commandComplete(currentOut, "DEALLOCATE")
      }
    }
    case discardRe(what) => runStatement(stmt) {
      val w = what.toUpperCase match { case "TEMPORARY" => "TEMP"; case x => x }
      w match {
        case "ALL" =>
          session.statements.clear()
          session.portals.clear()
          discardTempState()
          // PG's DISCARD ALL includes RESET ALL and UNLISTEN *
          graft.pg.PgGuc.resetAll(session.spark)
          PgNotify.unlistenAll(session.pid)
        case "TEMP" => discardTempState()
        case _ => () // PLANS/SEQUENCES: no cached plans or sequences exist
      }
      commandComplete(currentOut, s"DISCARD $w")
    }
    case declareCursorRe(nameTok, binary, query) =>
      declareCursor(cursorName(nameTok), binary != null, query, stmt)
      true
    case fetchRe(verb, direction, countTok, nameTok) =>
      if (direction != null && !direction.equalsIgnoreCase("FORWARD")) {
        // cursors here are NO SCROLL (a distributed result has no cheap
        // backward walk); PG raises the same state for backward fetches
        throw new PgStateException("cursor can only scan forward", "55000")
      }
      val count =
        if (countTok == null || countTok.equalsIgnoreCase("NEXT")) 1L
        else if (countTok.equalsIgnoreCase("ALL")) Long.MaxValue
        else countTok.toLong
      val name = cursorName(nameTok)
      val portal = session.portals.getOrElse(name,
        throw new PgStateException(s"""cursor "$name" does not exist""", "34000"))
      // each FETCH/MOVE is a statement of its own over the cursor's rows
      runPortal(portal, new Operation(session, s"FETCH $name"), count,
        cursorVerb = Some(verb.toUpperCase))
      true
    case closeCursorRe(nameTok) => runStatement(stmt) {
      if (!nameTok.startsWith("\"") && nameTok.equalsIgnoreCase("ALL")) {
        session.portals.clear() // PG's CLOSE ALL closes cursors and portals alike
      } else {
        val name = cursorName(nameTok)
        if (session.portals.remove(name).isEmpty) {
          throw new PgStateException(s"""cursor "$name" does not exist""", "34000")
        }
      }
      commandComplete(currentOut, "CLOSE CURSOR")
    }
    case _ => false
  }

  /** A session-state statement's body under its own [[Operation]]. */
  private def runStatement(stmt: String)(body: => Unit): Boolean = {
    withOperation(stmt.take(80))(body)
    true
  }

  /** PG's `EXPLAIN ANALYZE` (and the `EXPLAIN (ANALYZE ...)` option form):
    * EXECUTE the statement, then report the plan that actually ran with its
    * measured metrics — Spark's own EXPLAIN never executes, so this is the
    * one way to see post-AQE plans and real row counts through psql. The
    * result rows are discarded exactly as PG does (queries run through the
    * noop sink, fully distributed — no driver materialization); statement
    * side effects fire, matching PG's EXPLAIN ANALYZE semantics.
    */
  private val explainAnalyzeRe =
    // PG accepts options in any order — the paren branch scans the WHOLE
    // option list (lookahead from the open paren) for an enabled ANALYZE
    // token; `ANALYZE FALSE|OFF|0` is PG for "analyze disabled", so those
    // stay on the plain-EXPLAIN path and the statement is NOT executed
    """(?is)\s*EXPLAIN\s+(?:\((?=[^)]*\bANALYZE\b(?!\s+(?:FALSE|OFF|0)\b))[^)]*\)|ANALYZE(?:\s+VERBOSE)?)\s+(.+)""".r

  /** PG's paren option form with ANALYZE absent or disabled: strip the
    * option list so Spark's parser sees plain EXPLAIN — no execution, as PG.
    * Checked AFTER explainAnalyzeRe, so the analyze-on form never lands here.
    */
  private val explainOptionsRe =
    """(?is)\s*EXPLAIN\s+\([^)]*\)\s+(.+)""".r

  private val explainAnalyzeSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("QUERY PLAN", StringType)))

  /** The columns a client sees: EXPLAIN ANALYZE answers its plan text and
    * SET nothing (PG answers NoData and tags it SET; the reference
    * short-circuits SET the same way, protocol.scala:451-459,630-638);
    * anything else its analyzed schema.
    */
  private def resultSchema(plan: LogicalPlan, explainAnalyze: Boolean)(
      analyzed: => StructType): StructType =
    if (explainAnalyze) explainAnalyzeSchema
    else if (plan.getClass.getSimpleName == "SetCommand") new StructType()
    else analyzed

  /** Execute `bound` and answer the plan that ran with its measured
    * metrics, one QUERY PLAN row per line.
    */
  private def explainAnalyzeRows(bound: LogicalPlan): Iterator[InternalRow] = {
    val df = Internals.ofRows(session.spark, bound)
    val t0 = System.nanoTime()
    if (df.schema.nonEmpty) {
      Internals.executeAndDiscard(df) // this plan instance, on-executor discard
    } else {
      df.collect() // commands execute eagerly; nothing to discard
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    (Internals.executedPlanWithMetrics(df) :+ f"Execution Time: $wallMs%.3f ms").iterator
      .map(l => InternalRow(UTF8String.fromString(l)))
  }

  /** 'P': parse, type each `$n` by its declared OID, and analyze once so
    * Describe can answer (reference protocol.scala:559-582).
    */
  private def parse(in: ByteBuffer, out: ByteBuf): Unit = {
    val name = readCStr(in)
    val sql = readCStr(in)
    val nParams = in.getShort.toInt
    val declaredOids = (0 until nParams).map(_ => in.getInt)
    // the empty statement is legal in the extended protocol (pgjdbc's
    // isValid() runs it): Parse succeeds, Execute answers EmptyQueryResponse
    // EXPLAIN ANALYZE prepares over the extended protocol too (DBeaver's
    // explain action, pgjdbc executeQuery): prepare the INNER statement,
    // Describe answers the one-column QUERY PLAN schema, Execute runs it
    val (parsed, isExplainAnalyze) = parseStatement(sql)
    val stmt = Prepared(name, sql, parsed, PgDialect.collectParamIds(parsed), null,
      declaredOids, explainAnalyze = isExplainAnalyze)
    // a `$n` the client declares no type for stays untyped and takes its
    // value's type at Bind: typed VARCHAR, its NULL would not store into
    // a column of another type
    val types = (id: Int) => declaredOids.lift(id - 1).filter(_ != PgTypes.UNSPECIFIED)
      .fold[DataType](NullType)(ParamCodec.paramType)
    val plan = PgDialect.typed(parsed, types)
    // Bind substitutes values into this analysis when the statement is a
    // query free of session-volatile constructs and untyped `$n` (PG
    // likewise fixes the plan no later than Bind). Commands, EXPLAIN
    // ANALYZE and session-volatile texts analyze again at Execute, where
    // their side effects belong.
    val reusable = !isExplainAnalyze && !isVolatileText(sql) &&
      stmt.paramIds.forall(types(_) != NullType)
    val (innerSchema, analyzed) =
      if (sql.trim.isEmpty) (new StructType(), None)
      else try {
        val a = Internals.analyze(session.spark, plan)
        (a.schema, Some(a).filter(a => reusable && a.schema.nonEmpty && !a.isInstanceOf[Command]))
      } catch {
        case NonFatal(e) if stmt.paramIds.nonEmpty =>
          // a placeholder in an eagerly-evaluated position — pgjdbc's batch
          // INSERT ... VALUES ($1, $2) hits Spark's inline-table evaluation
          // at analysis. PG prepares these fine; bind NULLs of the
          // placeholders' types purely for the Describe schema
          val nulls: Map[Int, Any] = stmt.paramIds.map(_ -> null).toMap
          try (Internals.analyzedSchema(session.spark, PgDialect.bind(plan, nulls)), None)
          catch { case NonFatal(_) => throw e }
      }
    // EA validated the inner statement above; its RESULT is the plan text
    val schema = resultSchema(plan, isExplainAnalyze)(innerSchema)
    session.statements(name) = stmt.copy(plan = plan, schema = schema, analyzed = analyzed)
    parseComplete(out)
  }

  /** 'B': decode params by (oid,format), substitute them, build the portal
    * (reference protocol.scala:309-373). A statement Parse analyzed for
    * reuse takes that analysis on its first Bind and analyzes once on each
    * later one; either plan is the one Execute runs. Any other statement
    * is analyzed here for its schema and again at Execute.
    */
  private def bind(in: ByteBuffer, out: ByteBuf): Unit = {
    val portalName = readCStr(in)
    val stmtName = readCStr(in)
    val stmt = session.statements.getOrElse(stmtName,
      throw new PgStateException(
        s"""prepared statement "$stmtName" does not exist""", "26000"))
    val nFmt = in.getShort.toInt
    val paramFormats = Seq.fill(nFmt)(in.getShort.toInt)
    val nParams = in.getShort.toInt
    val params = (0 until nParams).map { _ =>
      val len = in.getInt
      if (len == -1) null else readBytes(in, len)
    }
    val nRes = in.getShort.toInt
    val resFormats = Seq.fill(nRes)(in.getShort.toInt)
    if (nParams != stmt.paramCount) {
      throw new PgStateException(s"bind message supplies $nParams parameters, but " +
        s"""prepared statement "$stmtName" requires ${stmt.paramCount}""", "08P01")
    }

    // Decode by the oid declared in Parse, keeping the fully-typed Literal
    // (DateType/TimestampType etc. — not just the raw value), TIMESTAMP in
    // the session zone; NULL params (len -1) bind a SQL NULL.
    val values = params.zipWithIndex.map { case (bytes, i) =>
      (i + 1) -> (if (bytes == null) null else ParamCodec.decodeBindParam(
        bytes, stmt.paramOid(i), formatCode(paramFormats, i), i + 1, sessionZone))
    }.toMap[Int, Any]
    val (bound, df) = if (stmt.analyzed.isDefined) {
      val b = PgDialect.bind(
        stmt.takeAnalyzed().getOrElse(Internals.analyze(session.spark, stmt.plan)), values)
      (b, Internals.ofAnalyzed(session.spark, b))
    } else (PgDialect.bind(stmt.plan, values), null)
    val schema = if (df != null) df.schema
      else if (stmt.sql.trim.isEmpty) new StructType()
      else resultSchema(stmt.plan, stmt.explainAnalyze)(
        Internals.analyzedSchema(session.spark, bound))
    val portal = new Portal(portalName, stmt, bound, schema,
      i => formatCode(resFormats, i) == 1, new Operation(session, stmt.sql.take(80)))
    portal.df = df
    session.portals(portalName) = portal
    bindComplete(out)
  }

  /** 'D': statement ('S') or portal ('P') description. */
  private def describe(in: ByteBuffer, out: ByteBuf): Unit = {
    val kind = in.get().toChar
    val name = readCStr(in)
    kind match {
      case 'S' =>
        val stmt = session.statements.getOrElse(name,
          throw new PgStateException(
            s"""prepared statement "$name" does not exist""", "26000"))
        parameterDescription(out, (0 until stmt.paramCount).map(stmt.paramOid))
        if (stmt.schema.isEmpty) noData(out)
        else rowDescription(out, stmt.schema, Seq.fill(stmt.schema.length)(false))
      case 'P' =>
        val portal = session.portals.getOrElse(name,
          throw new PgStateException(
            s"""portal "$name" does not exist""", "34000"))
        if (portal.schema.isEmpty) noData(out)
        else rowDescription(out, portal.schema, portal.formats)
      case other => throw new IllegalArgumentException(s"bad describe kind: $other")
    }
  }

  /** 'E': run or resume the portal; maxRows==0 drains, otherwise suspend
    * after maxRows (reference protocol.scala:437-504).
    */
  private def execute(in: ByteBuffer): Unit = {
    val name = readCStr(in)
    val maxRows = in.getInt
    val portal = session.portals.getOrElse(name,
      throw new PgStateException(s"""portal "$name" does not exist""", "34000"))
    runPortal(portal, portal.op, if (maxRows > 0) maxRows else Long.MaxValue, describe = false)
  }

  /** 'C': free a statement or portal (reference protocol.scala:381-396). */
  private def closeMsg(in: ByteBuffer, out: ByteBuf): Unit = {
    val kind = in.get().toChar
    val name = readCStr(in)
    kind match {
      case 'S' => session.statements.remove(name)
      case 'P' => session.portals.remove(name)
      case _ =>
    }
    closeComplete(out)
  }

  // ---- execution helpers ----

  /** Drain `portal` under `op`: the one place a statement executes and its
    * result goes out. RowDescription when `describe` (the simple flows —
    * the extended flow answers Describe on its own), then up to `maxRows`
    * DataRows, then PortalSuspended while rows remain, else CommandComplete.
    * A cursor FETCH/MOVE passes its verb: its tag counts this call's rows,
    * and MOVE advances without sending them.
    */
  private def runPortal(portal: Portal, op: Operation, maxRows: Long = Long.MaxValue,
      describe: Boolean = true, cursorVerb: Option[String] = None): Unit = op.run {
    if (portal.stmt.sql.trim.isEmpty) {
      // PG §55.2.3: executing the empty statement yields EmptyQueryResponse
      // in place of CommandComplete
      PgMessages.emptyQueryResponse(currentOut)
    } else {
      if (!portal.started) startPortal(portal)
      val nCols = portal.schema.length
      val emit = nCols > 0 && !cursorVerb.contains("MOVE")
      if (emit && describe) rowDescription(currentOut, portal.schema, portal.formats)
      val writer = if (emit) RowCodec.rowWriter(portal.schema, portal.formats, sessionZone) else null
      val scratch = if (emit) new Scratch else null
      var n = 0L
      while (n < maxRows && portal.rows.hasNext) {
        val row = portal.rows.next()
        if (emit) { writeDataRow(nCols, writer, row, scratch); maybeFlush() }
        n += 1
      }
      portal.rowCount += n
      if (emit) op.rowsSent = n
      cursorVerb match {
        case None if portal.rows.hasNext => portalSuspended(currentOut)
        case None =>
          commandComplete(currentOut, commandTag(portal.stmt.sql, portal.bound, portal.rowCount))
        case Some(verb) => commandComplete(currentOut, commandTag(verb, portal.bound, n))
      }
    }
  }

  /** A portal's first run: build its Dataset and row source. Commands — SET
    * included — execute here, eagerly inside ofRows, so the time-zone
    * announcement brackets this step. A plain EXPLAIN stays analysis-only:
    * Spark's EXPLAIN never executes the explained query, so side effects
    * resolving during its inner analysis (set_config, pg_notify) must stay
    * inert — PG fires them only under EXPLAIN ANALYZE.
    */
  private def startPortal(p: Portal): Unit = {
    def start(): Unit = runTrackingTimeZone {
      if (p.stmt.explainAnalyze) {
        p.schema = explainAnalyzeSchema
        p.rows = explainAnalyzeRows(p.bound)
      } else {
        // a plan Bind analyzed runs as is
        val df = if (p.df != null) p.df else Internals.ofRows(session.spark, p.bound)
        if (p.schema == null) p.schema = resultSchema(p.bound, explainAnalyze = false)(df.schema)
        if (p.schema.nonEmpty) p.rows = resultIterator(df)
        else {
          df.collect() // run the command
          // INSERT's tag carries the real written-row count in PG
          p.rowCount = tagRows(p.stmt.sql, df)
          p.rows = Iterator.empty
        }
      }
    }
    if (p.bound.getClass.getSimpleName == "ExplainCommand") Internals.analysisOnly(start())
    else start()
  }

  /** COPY ... TO STDOUT: CopyOutResponse, then one CopyData per row streamed
    * through the incremental iterator, CopyDone, COPY tag. Each row is one
    * `PgCopy.lineWriter` line, written through the grow-on-overflow scratch
    * buffer, so memory stays bounded at any size: text and csv lines of the
    * DataRow text, escaped for COPY, or, for FORMAT binary, tuples of the
    * DataRow binary fields between the PGCOPY signature header and the
    * int16 -1 trailer.
    */
  private def runCopyOut(co: PgCopy.CopyOut, op: Operation): Unit = op.run {
    // a table name resolves as in a query, so pg_catalog relations copy out
    val query = co.source.fold(table => s"SELECT * FROM $table", identity)
    val base = Internals.ofRows(session.spark, parseStatement(query)._1)
    val df =
      if (co.cols.nonEmpty)
        base.select(co.cols.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      else base
    val opts = co.opts
    // throws here, before CopyOutResponse, for a type not binaryCapable
    val line = PgCopy.lineWriter(df.schema, opts, sessionZone)
    val scratch = new Scratch
    PgMessages.copyOutResponse(currentOut, df.schema.length, opts.binary)
    if (opts.binary) PgMessages.copyData(currentOut, ByteBuffer.wrap(PgCopy.BinaryCopy.header))
    var n = 0L
    resultIterator(df).foreach { row =>
      PgMessages.copyData(currentOut, scratch.encode(line, row))
      maybeFlush()
      n += 1
    }
    if (opts.binary) PgMessages.copyData(currentOut, ByteBuffer.wrap(PgCopy.BinaryCopy.Trailer))
    op.rowsSent = n
    PgMessages.copyDone(currentOut)
    commandComplete(currentOut, s"COPY $n")
  }

  /** Run a command and, if it changed the session time zone, announce the
    * new value: PG emits ParameterStatus('TimeZone') on SET TimeZone, and
    * psql/pgjdbc cache the announced zone for timestamp handling — without
    * this they keep rendering with the startup zone.
    */
  private def runTrackingTimeZone[T](body: => T): T = {
    def zone = session.spark.conf.get("spark.sql.session.timeZone", "UTC")
    val before = zone
    val r = body
    val after = zone
    if (after != before) PgMessages.parameterStatus(currentOut, "TimeZone", after)
    r
  }

  /** Run `body` (plan + row materialization) inside an [[Operation]] so the
    * cancellable job group covers the Spark jobs actually launched while
    * streaming results (reference ExecutorImpl.scala:111-146).
    */
  private def withOperation[T](label: String)(body: => T): T =
    new Operation(session, label).run(body)

  /** Incremental (partition-at-a-time) vs full-collect result iteration
    * (reference ExecutorImpl.scala:185-215). Incremental is the default:
    * at 100 TB a full driver collect is fatal; cursor clients stream.
    * A result already in memory skips the Spark job either way, and an
    * incremental scan with no exchange computes its partitions on this
    * thread, with no job (`Internals.handlerThreadRows`).
    */
  private def resultIterator(df: DataFrame): Iterator[InternalRow] =
    Internals.localRows(df).getOrElse {
      val incremental =
        session.spark.conf.get("spark.graft.incrementalCollect", "true").toBoolean
      if (!incremental) Internals.executeCollect(df).iterator
      else Internals.handlerThreadRows(df).getOrElse(Internals.executeToIterator(df))
    }

  /** Hand a full chunk to the socket and continue on a fresh buffer —
    * honoring BACKPRESSURE: writeAndFlush is async, so without the
    * writability gate a multi-100MB result to a slow reader queues
    * entirely in the channel's outbound buffer and OOMs the server
    * (PgBoundedHeapSuite caught exactly that with a 512 MB heap). Once the
    * outbound high-water mark trips, block this handler thread (never the
    * I/O loop — handlers run on handlerGroup) until the socket drains.
    */
  private def maybeFlush(): Unit =
    if (currentOut.readableBytes() > ChunkBytes && ctxRef != null) {
      // the promise must carry the CHANNEL's executor, not this handler's:
      // a ctx-created promise would trip netty's await-deadlock check
      // (listeners fire on the awaiting thread), while completion itself is
      // signaled by the I/O loop — safe to await from the handler thread
      val p = ctxRef.channel().newPromise()
      ctxRef.writeAndFlush(currentOut, p)
      currentOut = ctxRef.alloc().buffer()
      if (!ctxRef.channel().isWritable) p.awaitUninterruptibly()
    }

  private def sessionZone: java.time.ZoneId =
    java.time.ZoneId.of(session.spark.conf.get("spark.sql.session.timeZone", "UTC"))

  /** DataRow 'D': int16 column count then the RowCodec fields. */
  private def writeDataRow(nCols: Int, writer: (InternalRow, ByteBuffer) => Unit,
      row: InternalRow, scratch: Scratch): Unit = {
    val buf = scratch.encode(writer, row)
    currentOut.writeByte('D')
    currentOut.writeInt(4 + 2 + buf.remaining())
    currentOut.writeShort(nCols)
    currentOut.writeBytes(buf)
  }
}

/** Grow-on-demand serialization buffer for one row's fields. It doubles on
  * overflow so a single wide row (long text, big arrays) never fails the
  * query; growth is bounded by PG's 1 GB field ceiling.
  */
private final class Scratch {
  private var buf: ByteBuffer = ByteBuffer.allocate(1 << 20)

  /** Encode `row` through `write`, growing as needed; returns the buffer
    * flipped for reading.
    */
  def encode(write: (InternalRow, ByteBuffer) => Unit, row: InternalRow): ByteBuffer = {
    var done = false
    while (!done) {
      buf.clear()
      try { write(row, buf); done = true }
      catch {
        case _: java.nio.BufferOverflowException =>
          if (buf.capacity() >= Scratch.MaxBytes) throw new IllegalStateException(
            s"row exceeds the ${Scratch.MaxBytes} byte wire limit")
          buf = ByteBuffer.allocate(buf.capacity() * 2)
      }
    }
    buf.flip()
    buf
  }
}

private object Scratch {
  val MaxBytes: Int = 1 << 30
}

object PgWireServer {
  /** Map a failure to the PG SQLSTATE real clients branch on (psql scripts,
    * ORMs, migration tools all dispatch on the class of the five-char
    * code). Spark 4 exceptions implement SparkThrowable and already carry
    * an ANSI SQLSTATE (TABLE_OR_VIEW_NOT_FOUND -> 42P01, PARSE_SYNTAX_ERROR
    * -> 42601, UNRESOLVED_COLUMN -> 42703, DIVIDE_BY_ZERO -> 22012, ...) —
    * surface it instead of the generic XX000 the reference emits for
    * everything (protocol.scala:250-262). Walk the cause chain: wire-layer
    * wrappers often hide the Spark error one level down.
    */
  /** The PG ErrorResponse 'P' field for syntax errors: the 1-based char
    * offset of the failure in the statement text, from Spark's
    * ParseException origin (line + column over the parsed command). The
    * offset refers to the text the parser saw — for statements PgRewrite
    * transformed it can drift from the client's original by the rewrite
    * delta, which only shifts the caret, never breaks a client.
    */
  def errorPosition(e: Throwable): Option[Int] = {
    var cur = e
    var depth = 0
    while (cur != null && depth < 8) {
      cur match {
        case p: org.apache.spark.sql.catalyst.parser.ParseException =>
          return (p.start.line, p.start.startPosition, p.command) match {
            case (Some(line), Some(col), Some(cmd)) if line >= 1 =>
              val before = cmd.split("\n", -1).take(line - 1).map(_.length + 1).sum
              Some(before + col + 1)
            case _ => None
          }
        case _ =>
      }
      cur = if (cur.getCause eq cur) null else cur.getCause
      depth += 1
    }
    None
  }

  def sqlStateOf(e: Throwable): String = {
    var cur = e
    var depth = 0
    while (cur != null && depth < 8) {
      cur match {
        case st: org.apache.spark.SparkThrowable
            if st.getSqlState != null && st.getSqlState.nonEmpty =>
          return st.getSqlState
        case _ =>
      }
      cur = if (cur.getCause eq cur) null else cur.getCause
      depth += 1
    }
    e match {
      case p: PgStateException => p.state // carries its own SQLSTATE
      case _: StatementTimeoutException => "57014" // query_canceled (timeout)
      case _: QueryCanceledException => "57014" // query_canceled (user request)
      case _: ArithmeticException => "22012" // division_by_zero
      case _: IllegalArgumentException => "22023" // invalid_parameter_value
      case _: UnsupportedOperationException => "0A000" // feature_not_supported
      case _ if truncated(e) => "08P01" // protocol_violation
      case _ => "XX000" // internal_error
    }
  }

  /** The ErrorResponse text for `e`: PG's wording for a field read past
    * the end of its message, else the exception's own message.
    */
  def messageOf(e: Throwable): String =
    if (truncated(e)) "insufficient data left in message"
    else Option(e.getMessage).getOrElse(e.toString)

  /** A frontend message decoded past its end (a cstring with no NUL, a
    * field longer than what is left) or given a length below -1.
    */
  private def truncated(e: Throwable): Boolean = e match {
    case _: java.nio.BufferUnderflowException | _: NegativeArraySizeException => true
    case _ => false
  }
}
