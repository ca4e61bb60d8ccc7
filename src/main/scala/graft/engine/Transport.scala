package graft.engine

import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.atomic.AtomicBoolean

import scala.util.{Failure, Success, Try}

/** Socket transport under the engine frame — the real process boundary
  * the reference runs on. The reference's intake is a nanomsg *pull*
  * socket (`/root/reference/src/processor.ts:62-63`) and its rpc a
  * *req* socket (`:109-110`); both carry msgpack. nanomsg is
  * message-oriented, so over raw TCP each message is framed with a
  * 4-byte big-endian length prefix — the only transport detail added;
  * everything inside a frame is byte-for-byte the reference envelope:
  *
  *  - intake packet: `{cmd, args?}` (`src/processor.ts:66-75`)
  *  - rpc request:   `{sn, pkt: {ctx: {domain, ip, uid}, fun, args}}`
  *    (`:98-108,130`)
  *  - rpc response:  `{sn, payload}` where payload is msgpack, zlib
  *    deflated when large — the consumer sniffs `0x78 0x9c` and
  *    inflates (`:112-124`)
  *
  * Servers bind the loopback interface on an ephemeral port; a real
  * deployment would bind the configured `addr` exactly like the
  * reference's `Config.addr`.
  */
object Transport {

  /** The largest frame either side reads, and the largest reply the
    * server sends: 64 MiB. */
  val MaxFrameBytes: Int = 64 << 20

  private def frameOut(out: DataOutputStream, bytes: Array[Byte]): Unit = {
    out.writeInt(bytes.length)
    out.write(bytes)
    out.flush()
  }

  private def frameIn(in: DataInputStream): Array[Byte] = {
    val n = in.readInt()
    require(n >= 0 && n <= MaxFrameBytes, s"frame length out of range: $n")
    val b = new Array[Byte](n)
    in.readFully(b)
    b
  }

  /** Client side of the rpc — the analog of `rpc<T>()`
    * (`src/processor.ts:92-133`): connect, send the `{sn, pkt}` envelope,
    * await the `{sn, payload}` reply, reject on sequence-number mismatch
    * (`:126` "Invalid calling sequence number"), zlib-sniff + inflate the
    * payload (`:114-121`), msgpack-decode it. `sn` defaults to the
    * reference's shape: 64 random bytes, base64.
    */
  def rpc(
      port: Int,
      domain: String,
      uid: String,
      fun: String,
      args: Seq[Any] = Nil,
      sn: String = freshSn()): Try[Any] = Try {
    val sock = new Socket(InetAddress.getLoopbackAddress, port)
    try {
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      val ctx = Map[Any, Any](
        "domain" -> domain,
        "ip" -> InetAddress.getLoopbackAddress.getHostAddress,
        "uid" -> uid)
      val pkt = Map[Any, Any]("ctx" -> ctx, "fun" -> fun, "args" -> args.toVector)
      frameOut(out, MsgPack.encode(Map[Any, Any]("sn" -> sn, "pkt" -> pkt)))
      val reply = MsgPack.decode(frameIn(in)).asInstanceOf[Map[Any, Any]]
      if (reply.get("sn") != Some(sn))
        throw new IllegalStateException("Invalid calling sequence number")
      reply("payload") match {
        case err: String => throw new RuntimeException(err)
        case bytes: Array[Byte] => MsgPack.decode(ResultCodec.decode(bytes))
        case other => other
      }
    } finally sock.close()
  }

  /** Fire-and-forget intake push — the producer side of the pull socket
    * (`src/processor.ts:62-66`): one framed msgpack `{cmd, args}` packet,
    * no reply.
    */
  def push(port: Int, cmd: String, args: Seq[Any] = Nil): Unit = {
    val sock = new Socket(InetAddress.getLoopbackAddress, port)
    try {
      val out = new DataOutputStream(sock.getOutputStream)
      val pkt: Map[Any, Any] =
        if (args.isEmpty) Map("cmd" -> cmd)
        else Map("cmd" -> cmd, "args" -> args.toVector)
      frameOut(out, MsgPack.encode(pkt))
    } finally sock.close()
  }

  def freshSn(): String = {
    val b = new Array[Byte](64)
    new java.security.SecureRandom().nextBytes(b)
    java.util.Base64.getEncoder.encodeToString(b)
  }

  private[engine] def serveLoop(
      server: ServerSocket,
      running: AtomicBoolean,
      name: String)(handle: Socket => Unit): Thread = {
    val t = new Thread(() => {
      while (running.get()) {
        try {
          val sock = server.accept()
          val worker = new Thread(() => {
            try handle(sock)
            catch { case _: EOFException | _: java.net.SocketException => () }
            finally Try(sock.close())
          }, s"$name-conn")
          worker.setDaemon(true)
          worker.start()
        } catch {
          case _: java.net.SocketException => () // server closed
          case _: Throwable if !running.get() => ()
        }
      }
    }, name)
    t.setDaemon(true)
    t.start()
    t
  }

  /** Request/reply server: each framed request is the reference rpc
    * envelope; the handler's rows are msgpack-encoded, deflated when at
    * or above the engine's `compressMinBytes`, and returned under the
    * caller's sn. Handler errors travel as a string payload (the engine's
    * error-result-not-crash contract), and so does a frame that is not
    * an rpc envelope: `error: bad request: ...` under its sn, or under
    * "" when none can be read, after which the connection keeps serving
    * (the frame's length was read, so framing is intact). A reply that
    * would exceed [[MaxFrameBytes]] is replaced by `error: result too
    * large: ...` under the same sn, so the client gets a typed error
    * instead of a frame it must refuse. One connection may carry many
    * sequential requests (req/rep pairs).
    */
  final class RpcServer(engine: Engine) extends AutoCloseable {
    private val server = new ServerSocket(0, 50, InetAddress.getLoopbackAddress)
    private val running = new AtomicBoolean(true)
    val port: Int = server.getLocalPort

    serveLoop(server, running, "graft-rpc") { sock =>
      val in = new DataInputStream(sock.getInputStream)
      val out = new DataOutputStream(sock.getOutputStream)
      while (running.get()) {
        val (sn, payload) = RpcRequest.parse(frameIn(in)) match {
          case Left((sn, why)) => (sn, s"error: bad request: $why")
          case Right(r) =>
            (r.sn, engine.queryEnvelope(r.fun, r.args, r.ctx, r.sn) match {
              case Success(bytes) => bytes
              case Failure(e) => s"error: ${e.getMessage}"
            })
        }
        val reply = MsgPack.encode(Map[Any, Any]("sn" -> sn, "payload" -> payload))
        frameOut(out,
          if (reply.length <= MaxFrameBytes) reply
          else MsgPack.encode(Map[Any, Any]("sn" -> sn, "payload" ->
            s"error: result too large: ${reply.length} bytes > $MaxFrameBytes")))
      }
    }

    def close(): Unit = { running.set(false); Try(server.close()) }
  }

  /** An rpc envelope `{sn, pkt: {ctx: {domain, ip, uid}, fun, args}}`;
    * absent fields take the reference's defaults. */
  private final case class RpcRequest(sn: String, fun: String, args: Seq[Any], ctx: RequestCtx)

  private object RpcRequest {
    /** The request in `frame`, or the sn it carries ("" if none) and why
      * it is not a request. */
    def parse(frame: Array[Byte]): Either[(String, String), RpcRequest] =
      Try(MsgPack.decode(frame)) match {
        case Failure(e) => Left(("", e.getMessage)) // a MsgPack.DecodeError
        case Success(req: Map[Any, Any] @unchecked) =>
          val sn = str(req, "sn")
          req.getOrElse("pkt", Map.empty[Any, Any]) match {
            case pkt: Map[Any, Any] @unchecked =>
              val ctx = pkt.get("ctx").collect { case m: Map[Any, Any] @unchecked =>
                RequestCtx(str(m, "domain"), str(m, "ip"), str(m, "uid"))
              }.getOrElse(RequestCtx.anonymous)
              Right(RpcRequest(sn, str(pkt, "fun"), args(pkt), ctx))
            case _ => Left((sn, "pkt is not a map"))
          }
        case Success(_) => Left(("", "the envelope is not a map"))
      }
  }

  /** A field as text; absent or nil reads as "". */
  private def str(m: Map[Any, Any], key: String): String =
    m.get(key).flatMap(Option(_)).fold("")(_.toString)

  /** The `args` field; absent or not an array reads as empty. */
  private def args(m: Map[Any, Any]): Seq[Any] =
    m.get("args").collect { case v: Seq[_] => v }.getOrElse(Vector.empty)

  /** Pull-style intake server: drains framed `{cmd, args}` job packets
    * from any number of producer connections and dispatches each through
    * the engine — the socket-backed twin of [[Engine.serve]]
    * (`src/processor.ts:61-89`). Unknown commands, and packets that do
    * not decode to a map (reported under cmd ""), go to `onResult` as
    * failures and the loop continues (the `console.error`-and-drop
    * contract, `:86`); the frame's length was read, so framing is intact.
    */
  final class IntakeServer(
      engine: Engine)(
      onResult: (String, Try[Array[org.apache.spark.sql.Row]]) => Unit) extends AutoCloseable {
    private val server = new ServerSocket(0, 50, InetAddress.getLoopbackAddress)
    private val running = new AtomicBoolean(true)
    val port: Int = server.getLocalPort

    serveLoop(server, running, "graft-intake") { sock =>
      val in = new DataInputStream(sock.getInputStream)
      while (running.get()) {
        val frame = frameIn(in)
        Try(MsgPack.decode(frame)) match {
          case Success(pkt: Map[Any, Any] @unchecked) =>
            val cmd = str(pkt, "cmd")
            onResult(cmd, engine.query(cmd, args(pkt)))
          case Success(_) =>
            onResult("", Failure(new IllegalArgumentException("bad packet: not a map")))
          case Failure(e) => onResult("", Failure(e)) // a MsgPack.DecodeError
        }
      }
    }

    def close(): Unit = { running.set(false); Try(server.close()) }
  }
}
